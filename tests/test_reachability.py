"""Reachability gates: every package module is imported, directly or through
other modules (function-level and relative imports included), from the
engine's entry points, and every top-level def or class is named from them,
or is on an explicit keep list with a reason. Dead code has to be deleted or
listed here. Spark-free: it only parses the AST."""

import ast
import glob
import os
import re

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
# Unreached top-level defs/classes, kept because a test gate rests on them.
_BILSTM = "tested port of the reference's BiLSTM data prep"
KEEP_SYMBOLS = {
    "operators.hyperball.iterate_registers":
        "register-parity check of the live _iterate_dense vs exact BFS balls",
    "operators.hyperball.exact_harmonic": "oracle for harmonic_centrality_est",
    "operators.pii.duckdb_mirror_sql": "cross-engine oracle for scrub_pii",
    "operators.crawlsched.plain_schedule":
        "unsalted reference for crawl_schedule",
    "operators.crawldiff.delta_counts": "read by the snapshot_delta tests",
    "operators.kgembed.transe_score": "scores the live transe_train in tests",
    "operators.evalops.conll_report": "quality gate (test_quality_gates)",
    "operators.evalops.format_report": "report formats gate",
    "operators.evalops.triple_pr": "quality gate (test_quality_gates)",
    "sources.sinks.merge_conll_files": "reference output layout (test_sinks)",
    "sources.sinks._sorted_parts": "part order for merge_conll_files",
    "sources.sinks.write_predictions": "reference output layout (test_sinks)",
    "sources.sinks.prediction_blocks": "blocks for write_predictions",
    "sources.posts_xml.posts_final_text":
        "byte parity with the reference's text_files goldens",
    "kernel.tagscheme.zero_digits": _BILSTM,
    "kernel.tagscheme.to_iob2": _BILSTM,
    "kernel.tagscheme.iob_to_iobes": _BILSTM,
    "kernel.tagscheme.iobes_to_iob": _BILSTM,
    "operators.prepare.prepare_dataset": _BILSTM,
    "operators.prepare.word_mapping_df": _BILSTM,
    "operators.prepare.build_char_mapping": _BILSTM,
    "operators.prepare.build_tag_mapping": _BILSTM,
    "operators.curation.curate_documents":
        "only entry point exposing the simhash stage knobs its tests use",
}
_IDENT = re.compile(r"[A-Za-z_]\w*\Z")


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


def _names(node):
    """Names by which ``node`` can reach a def: Name ids, attribute names,
    import aliases and identifier-shaped strings (getattr lookups)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rpartition(".")[2]
            yield n.asname
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.match(n.value)):
            yield n.value


def test_unreached_symbols_are_the_keep_list():
    """A package def is reached when its name occurs in a root file
    (``ROOTS`` plus ``tools/*.py``), in a package module's top-level
    statements, or in the body of a reached def. Matching by name can keep
    dead code alive through a shared name; it cannot flag live code."""
    defs, todo = {}, []
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"),
                          recursive=True):
        mod = _module_of(path)[len(PKG) + 1:]
        for st in ast.parse(open(path, encoding="utf-8").read()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                defs.setdefault(st.name, []).append((mod, st))
                for expr in st.decorator_list + getattr(st, "bases", []):
                    todo.extend(_names(expr))
            else:
                todo.extend(_names(st))
    for path in [os.path.join(ROOT, r) for r in ROOTS] + glob.glob(
            os.path.join(ROOT, "tools", "*.py")):
        todo.extend(_names(ast.parse(open(path, encoding="utf-8").read())))
    reached = set()
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for _, node in defs.get(name, ()):
                todo.extend(_names(node))
    unreached = {f"{mod}.{name}" for name, sites in defs.items()
                 if name not in reached
                 for mod, _ in sites if mod not in KEEP_UNREACHED}
    assert unreached == set(KEEP_SYMBOLS)
