"""Reachability gates: every package module is imported, directly or through
other modules (function-level and relative imports included), from the
engine's entry points; every top-level def or class is referred to from
them through its own module; and every option (defaulted parameter,
``*args``, ``**kw``) is set by some caller. Anything else is on an explicit
keep list with a reason: dead code and unused options have to be deleted or
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


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read())


def _from_base(node, path, mod):
    """Absolute module name of a (possibly relative) ``from`` import."""
    if not node.level:
        return node.module or ""
    pkg = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
    anchor = pkg.split(".")[:len(pkg.split(".")) - node.level + 1]
    return ".".join(anchor + ([node.module] if node.module else []))


def _imports(path, mod, modules):
    """Package modules named by the imports anywhere in ``path``."""
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, path, mod)
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


def _bindings(path, mod, modules):
    """What each name bound by an import anywhere in ``path`` refers to:
    ``("mod", M)`` for a package module, ``("sym", M, x)`` for a name
    imported from package module ``M``."""
    out = {}
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname and a.name in modules:
                    out[a.asname] = ("mod", a.name)
                elif not a.asname and a.name.split(".")[0] == PKG:
                    out[PKG] = ("mod", PKG)
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, path, mod)
            if base not in modules:
                continue
            for a in node.names:
                sub = f"{base}.{a.name}"
                out[a.asname or a.name] = (("mod", sub) if sub in modules
                                           else ("sym", base, a.name))
    return out


def _refs(node, mod, binds, modules):
    """(module, name) pairs that ``node``, inside module ``mod`` (None for
    a root file), can reach: bare names defined in ``mod`` or imported from
    a package module (the import itself counts), ``module.attr`` chains
    through imported modules, and identifier-shaped strings (getattr
    lookups) resolved like bare names."""
    for n in ast.walk(node):
        if isinstance(n, ast.alias):
            b = binds.get(n.asname or n.name.partition(".")[0])
            if b and b[0] == "sym":
                yield b[1], b[2]
            continue
        if isinstance(n, ast.Attribute):
            chain, base = [n.attr], n.value
            while isinstance(base, ast.Attribute):
                chain.append(base.attr)
                base = base.value
            if isinstance(base, ast.Name) and binds.get(base.id, ("",))[0] \
                    == "mod":
                target = binds[base.id][1]
                for attr in reversed(chain):
                    if f"{target}.{attr}" not in modules:
                        yield target, attr
                        break
                    target = f"{target}.{attr}"
            continue
        if isinstance(n, ast.Name):
            name = n.id
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.match(n.value)):
            name = n.value
        else:
            continue
        b = binds.get(name)
        if b and b[0] == "sym":
            yield b[1], b[2]
        elif mod is not None and not b:
            yield mod, name


def test_unreached_symbols_are_the_keep_list():
    """A package def is reached when a root file (``ROOTS`` plus
    ``tools/*.py``), a package module's top-level statements or a reached
    def's body refers to it through its own module: by bare name inside
    that module, or through an import of it or of its module (re-exports
    followed). A local name that shadows a def can keep dead code alive;
    a reference cannot be missed."""
    modules = {_module_of(p): p for p in glob.glob(
        os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)}
    binds = {m: _bindings(p, m, modules) for m, p in modules.items()}
    defs, todo = {}, []
    for mod, path in modules.items():
        for st in _parse(path).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                defs[mod, st.name] = st
                for expr in st.decorator_list + getattr(st, "bases", []):
                    todo.extend(_refs(expr, mod, binds[mod], modules))
            else:
                todo.extend(_refs(st, mod, binds[mod], modules))
    for path in [os.path.join(ROOT, r) for r in ROOTS] + glob.glob(
            os.path.join(ROOT, "tools", "*.py")):
        todo.extend(_refs(_parse(path), None,
                          _bindings(path, "", modules), modules))
    reached = set()
    while todo:
        key = todo.pop()
        if key in reached:
            continue
        reached.add(key)
        mod, name = key
        if key in defs:
            todo.extend(_refs(defs[key], mod, binds[mod], modules))
        elif binds.get(mod, {}).get(name, ("",))[0] == "sym":  # re-export
            todo.append(binds[mod][name][1:])
    unreached = {f"{mod[len(PKG) + 1:]}.{name}" for mod, name in defs
                 if (mod, name) not in reached
                 and mod[len(PKG) + 1:] not in KEEP_UNREACHED}
    assert unreached == set(KEEP_SYMBOLS)


# Options that no call site sets, as "module.Qual.name(param)": reason.
# None today; an option only its default ever fills is a constant.
KEEP_OPTIONS = {}


def _options(fn, method):
    """(positional parameter names a caller fills, keyword-only names,
    options) of one def; a method's ``self``/``cls`` is not filled."""
    a = fn.args
    pos = a.posonlyargs + a.args
    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                 for d in fn.decorator_list)
    opts = [p.arg for p in pos[len(pos) - len(a.defaults):]]
    opts += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d]
    opts += [f"*{a.vararg.arg}"] if a.vararg else []
    opts += [f"**{a.kwarg.arg}"] if a.kwarg else []
    return ([p.arg for p in pos[method and not static:]],
            [k.arg for k in a.kwonlyargs], opts)


class _Calls(ast.NodeVisitor):
    """Per callee bare name: the most positional arguments any call
    passes, and the keywords passed (``None``: a ``*x``/``**x`` call)."""

    def __init__(self):
        self.npos, self.kws, self.classes = {}, {}, []

    def visit_ClassDef(self, node):
        self.classes.append(node)
        self.generic_visit(node)
        self.classes.pop()

    def visit_Call(self, node):
        f = node.func
        names = []
        if isinstance(f, ast.Name):
            cls = f.id == "cls" and self.classes
            names = [self.classes[-1].name if cls else f.id]
        elif (isinstance(f, ast.Attribute) and f.attr == "__init__"
              and isinstance(f.value, ast.Call)
              and getattr(f.value.func, "id", "") == "super"
              and self.classes):
            names = [getattr(b, "id", getattr(b, "attr", ""))
                     for b in self.classes[-1].bases]
        elif isinstance(f, ast.Attribute):
            names = [f.attr]
        star = any(isinstance(a, ast.Starred) for a in node.args)
        for name in names:
            self.npos[name] = max(self.npos.get(name, 0), len(node.args))
            kws = self.kws.setdefault(name, set())
            kws.update(k.arg for k in node.keywords)  # None for **x
            if star:
                kws.add(None)
        self.generic_visit(node)


def test_every_option_is_set_by_a_caller():
    """Every option of a top-level def, or of a method of a top-level
    class, in the package is set by some call site in a root file, a
    package module or a test, or is on ``KEEP_OPTIONS`` with a reason.
    A call sets a parameter by keyword or by position when its callee's
    bare name is the def's name (the class name for ``__init__``; ``cls``
    inside a class body and ``super().__init__`` included); a ``*x`` or
    ``**x`` call sets every parameter. An option nobody sets is a
    constant: fold it into its default."""
    calls = _Calls()
    for path in ([os.path.join(ROOT, r) for r in ROOTS]
                 + glob.glob(os.path.join(ROOT, "tools", "*.py"))
                 + glob.glob(os.path.join(ROOT, PKG, "**", "*.py"),
                             recursive=True)
                 + glob.glob(os.path.join(ROOT, "tests", "*.py"))):
        calls.visit(_parse(path))
    unset = set()
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"),
                          recursive=True):
        mod = _module_of(path)[len(PKG) + 1:]
        for st in _parse(path).body:
            fns = [(st.name, st.name, st, False)] if isinstance(
                st, (ast.FunctionDef, ast.AsyncFunctionDef)) else []
            if isinstance(st, ast.ClassDef):
                fns = [(st.name if m.name == "__init__" else m.name,
                        f"{st.name}.{m.name}", m, True) for m in st.body
                       if isinstance(m, (ast.FunctionDef,
                                         ast.AsyncFunctionDef))]
            for callee, qual, fn, method in fns:
                named, kwonly, opts = _options(fn, method)
                npos = calls.npos.get(callee, 0)
                kws = calls.kws.get(callee, set())
                for opt in opts:
                    if opt.startswith("**"):
                        done = bool(kws - set(named) - set(kwonly))
                    elif opt.startswith("*"):
                        done = npos > len(named) or None in kws
                    else:
                        done = (None in kws or opt in kws or opt in named
                                and named.index(opt) < npos)
                    if not done:
                        unset.add(f"{mod}.{qual}({opt})")
    assert unset == set(KEEP_OPTIONS)


def _annotation_names(node):
    """Names inside a string annotation (``"CTCArtifact"``)."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        try:
            node = ast.parse(node.value, mode="eval")
        except SyntaxError:
            return
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n is not node):
            yield from _annotation_names(n)


def test_no_unused_imports():
    """Every name a package module imports is used: it occurs as a name in
    the module, in a string annotation or in ``__all__``. ``__future__``
    imports and lines marked ``# noqa: F401`` (re-exports) are exempt."""
    unused = set()
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"),
                          recursive=True):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        lines, tree = src.splitlines(), ast.parse(src)
        used, imported = set(), {}
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, (ast.arg, ast.AnnAssign)) and n.annotation:
                used.update(_annotation_names(n.annotation))
            elif (isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                  and n.returns):
                used.update(_annotation_names(n.returns))
            elif (isinstance(n, ast.Assign) and any(
                    getattr(t, "id", "") == "__all__" for t in n.targets)):
                used.update(ast.literal_eval(n.value))
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                if getattr(n, "module", "") == "__future__" or any(
                        "# noqa: F401" in lines[i - 1]
                        for i in range(n.lineno, n.end_lineno + 1)):
                    continue
                for a in n.names:
                    imported[a.asname or a.name.partition(".")[0]] = a.name
        mod = _module_of(path)[len(PKG) + 1:]
        unused |= {f"{mod}:{name}" for name in imported if name not in used}
    assert unused == set()
