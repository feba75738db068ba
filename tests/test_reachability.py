"""Reachability gate: every package module is imported, directly or through
other modules (function-level and relative imports included), from the
engine's entry points, or is on an explicit keep list with a reason. Dead
code has to be deleted or listed here. Spark-free: it only parses the AST."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "stackoverflowner_spark"
ROOTS = ["__spark_entry__.py", "run_pipeline.py", "bench.py", "bench_extra.py",
         *sorted(os.path.relpath(p, ROOT) for p in
                 glob.glob(os.path.join(ROOT, "perfbench", "*.py")))]
# Unreached by the engine, kept because a reference-parity gate rests on it.
KEEP_UNREACHED = {
    "kernel.sotok_t2",     # gold-corpus tokenizer (Readme worked example)
    "kernel.fixchar",      # the reference's fix-char script ...
    "operators.encoding",  # ... and its Spark operator
    "sources.golddict",    # dictionary from gold files (link-score gate)
    "sources.textlines",   # gold_conll / body_lines readers (test_sinks
                           # reference loader round trip, quality gates)
}


def _module_of(path):
    rel = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
    return rel[:-len(".__init__")] if rel.endswith(".__init__") else rel


def _imports(path, mod, modules):
    """Package modules named by the imports anywhere in ``path``."""
    pkg = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = pkg.split(".")[:len(pkg.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            for i in range(1, len(parts) + 1):  # and its parent packages
                if ".".join(parts[:i]) in modules:
                    yield ".".join(parts[:i])


def test_unreached_modules_are_the_keep_list():
    modules = {_module_of(p): p for p in glob.glob(
        os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)}
    seen, todo = set(), [(os.path.join(ROOT, r), "") for r in ROOTS]
    while todo:
        path, mod = todo.pop()
        for dep in _imports(path, mod, modules):
            if dep not in seen:
                seen.add(dep)
                todo.append((modules[dep], dep))
    unreached = {m[len(PKG) + 1:] for m in modules if m not in seen}
    assert unreached == KEEP_UNREACHED
