"""Every package definition and every option is reached from an entry point.

An AST pass over the repository's Python sources. The roots are the
three CLIs, ``__spark_entry__.py``, ``bench.py``, ``tools/`` and
``perfbench/``; ``tests/`` is not a root.

Definitions. A root file reaches every definition it uses; a reached
definition reaches every definition its own code uses, and so on to a
fixpoint. Uses resolve to the module that defines them: a bare name to
the module's own definition or to what ``from X import name [as y]``
binds, following re-exports, and ``module.attr`` to that module's
``attr``. Only an attribute of a non-module object (``self.meth``,
``result.errors``) falls back to its name: it reaches every method called
``attr``. A method is reached when its class is and its name is so used
(dunder methods come with their class). Docstrings, comments, string
constants, keyword argument names and import statements are not uses,
so an ``__init__`` re-export keeps nothing alive.

Options. A call sets a parameter when it passes it by keyword, passes
enough positional arguments to reach it, unpacks ``*``/``**``, or binds
it in ``functools.partial``. Calls resolve as uses do. A parameter with a
default, on a reached package function or method, that tests set and no
call in the roots or the package sets, selects a configuration no run
uses; it is deleted with the code it selects.

Code and options that only tests use are deleted, not kept. The
exceptions are in ``KEEP`` and ``KEEP_OPTIONS``, each with its reason.
"""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "ferc_xbrl_extractor_spark"
ROOT_FILES = [
    PKG / "cli.py",
    PKG / "curate_cli.py",
    PKG / "epoch_cli.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "tools").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
]
TEST_FILES = sorted((REPO / "tests").glob("*.py"))

# (module path relative to the package, name) -> why it stays with no
# caller outside tests.
KEEP = {
    ("operators/jpeg.py", "encode_jpeg_baseline"): "builds the baseline-JPEG inputs for tests of the live decoder",
    ("operators/jpeg.py", "encode_jpeg_progressive"): "builds the progressive-JPEG inputs for tests of the live decoder",
    ("operators/jpeg.py", "encode_png"): "builds the PNG inputs for tests of the live decoder",
    ("operators/jpeg.py", "encode_gif"): "builds the GIF inputs for tests of the live decoder",
    ("pipeline/shards.py", "verify_shards"): "checks the output of the live publish_shards",
    ("operators/similarity.py", "dequantize"): "checks the output of the live quantize_int8",
    ("operators/clustering.py", "centroids_float"): "reads back the live k-means centroids for tests",
    ("operators/classifier.py", "train_quality_classifier"): "trains the model the live classifier scoring is tested with",
    ("operators/neardup.py", "minhash_signature"): "reference signature the live LSH operators are tested against",
    ("operators/neardup.py", "shingles"): "reference shingling the live near-dup operators are tested against",
    ("operators/neardup.py", "simhash"): "reference fingerprint the live Hamming operators are tested against",
    ("operators/similarity.py", "cosine"): "reference similarity the live vector operators are tested against",
    ("catalog/taxonomy_xml.py", "catalog_from_archive"): "the reference extractor's taxonomy-to-catalog entry point; the real-taxonomy integration test calls it",
    ("xbrl.py", "extract"): "the reference extractor's library entry point; the real-filing integration test calls it",
    ("sources/shredder.py", "contexts_from"): "the reference extractor's context relation",
    ("sources/filings.py", "scan_filings"): "perfbench wraps it by name as an attribute of pipeline.extract",
    ("operators/text.py", "GOPHER_RULES"): "documents the bit order of the Gopher rule mask",
}

# The only reasons an option that only tests set may stay.
BOUND = "bounds input from outside the program; tests reach the bound with small inputs"
FAKE = "tests swap in a fake"
TEST_INPUT = "builds decoder test inputs"

# (module path relative to the package, function, parameter) -> reason.
KEEP_OPTIONS = {
    ("catalog/remote_dts.py", "resolve_remote_dts", "max_schemas"): BOUND,
    ("catalog/remote_dts.py", "resolve_remote_dts", "sleep"): FAKE,
    ("operators/neardup.py", "connected_components", "max_iter"): BOUND,
    ("operators/multimodal.py", "encode_y4m", "fps"): TEST_INPUT,
    ("operators/multimodal.py", "encode_y4m", "chroma"): TEST_INPUT,
}

_FUNC = (ast.FunctionDef, ast.AsyncFunctionDef)


class _Module:
    """One source file: its top-level definitions, methods and imports."""

    def __init__(self, path: Path):
        self.path = path
        self.in_pkg = path.is_relative_to(PKG)
        if self.in_pkg:
            self.rel = path.relative_to(PKG).as_posix()
            parts = [PKG.name, *self.rel[: -len(".py")].split("/")]
        else:
            self.rel = path.relative_to(REPO).as_posix()
            parts = self.rel[: -len(".py")].split("/")
        self.is_init = parts[-1] == "__init__"
        if self.is_init:
            parts.pop()
        self.dotted = ".".join(parts)
        self.tree = ast.parse(path.read_text(), filename=str(path))
        # qualname -> statement: top-level definitions by name, methods
        # as ``Class.method``.
        self.defs: dict[str, ast.stmt] = {}
        for stmt in self.tree.body:
            for name in _defined_names(stmt):
                self.defs[name] = stmt
            if isinstance(stmt, ast.ClassDef):
                for sub in stmt.body:
                    if isinstance(sub, _FUNC):
                        self.defs[f"{stmt.name}.{sub.name}"] = sub

    def imports(self, modules) -> dict[str, tuple]:
        """Local name -> ("mod", dotted) or ("sym", dotted, name), from
        every import statement in the file (function-level ones too)."""
        out: dict[str, tuple] = {}
        package = self.dotted if self.is_init else self.dotted.rpartition(".")[0]
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        out[a.asname] = ("mod", a.name)
                    else:
                        head = a.name.split(".")[0]
                        out[head] = ("mod", head)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    up = package.split(".")[: len(package.split(".")) - node.level + 1]
                    base = ".".join(up + ([node.module] if node.module else []))
                for a in node.names:
                    sub = f"{base}.{a.name}"
                    out[a.asname or a.name] = ("mod", sub) if sub in modules else ("sym", base, a.name)
        return out


def _defined_names(stmt: ast.stmt) -> list[str]:
    """Names a module-level statement defines (functions, classes, constants)."""
    if isinstance(stmt, (*_FUNC, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    names = []
    for t in targets:
        for node in ast.walk(t):
            if isinstance(node, ast.Name):
                names.append(node.id)
    return [n for n in names if not _is_dunder(n)]


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


class _Index:
    """Every source file, and how a name or attribute in one of them
    resolves to a package definition."""

    def __init__(self):
        files = sorted(PKG.rglob("*.py")) + [p for p in ROOT_FILES if not p.is_relative_to(PKG)] + TEST_FILES
        self.files = [_Module(p) for p in files]
        self.modules = {m.dotted: m for m in self.files if m.in_pkg}
        self.by_rel = {m.rel: m for m in self.modules.values()}
        self.imports = {m.path: m.imports(self.modules) for m in self.files}
        # method name -> package method keys (rel, "Class.method")
        self.methods: dict[str, list[tuple[str, str]]] = {}
        for m in self.modules.values():
            for q in m.defs:
                if "." in q:
                    self.methods.setdefault(q.split(".")[1], []).append((m.rel, q))

    def symbol(self, dotted: str, name: str, depth: int = 0):
        """What ``name`` in module ``dotted`` is: ("def", rel, name),
        ("mod", dotted) or None when it is not a package definition."""
        m = self.modules.get(dotted)
        if m is None or depth > 20:
            return None
        if name in m.defs:
            return ("def", m.rel, name)
        if f"{dotted}.{name}" in self.modules:
            return ("mod", f"{dotted}.{name}")
        imp = self.imports[m.path].get(name)
        if imp is None:
            return None
        return imp if imp[0] == "mod" else self.symbol(imp[1], imp[2], depth + 1)

    def resolve(self, mod: _Module, node: ast.AST):
        """("def", rel, qualname), ("mod", dotted), ("attr", name) for an
        attribute of a non-module object, or None."""
        if isinstance(node, ast.Name):
            if node.id in mod.defs:
                return ("def", mod.rel, node.id) if mod.in_pkg else None
            imp = self.imports[mod.path].get(node.id)
            if imp is None or imp[0] == "mod":
                return imp
            return self.symbol(imp[1], imp[2])
        if isinstance(node, ast.Attribute):
            base = self.resolve(mod, node.value)
            if base is not None and base[0] == "mod":
                return self.symbol(base[1], node.attr)
            if base is not None and base[0] == "def":
                qual = f"{base[2]}.{node.attr}"
                if qual in self.by_rel[base[1]].defs:
                    return ("def", base[1], qual)
            return ("attr", node.attr)
        return None

    def uses(self, mod: _Module, node: ast.AST, skip_methods: bool = False):
        """(definition keys, attribute names) that ``node`` uses."""
        keys: set[tuple[str, str]] = set()
        attrs: set[str] = set()
        todo = [node]
        while todo:
            sub = todo.pop()
            if isinstance(sub, (ast.Name, ast.Attribute)) and not isinstance(sub.ctx, ast.Store):
                r = self.resolve(mod, sub)
                if r is not None and r[0] == "def":
                    keys.add((r[1], r[2]))
                elif r is not None and r[0] == "attr":
                    attrs.add(r[1])
            for child in ast.iter_child_nodes(sub):
                if skip_methods and sub is node and isinstance(child, _FUNC):
                    # A method's body is its own definition; its decorators
                    # and defaults run with the class.
                    todo.extend(child.decorator_list)
                    todo.extend(child.args.defaults)
                    todo.extend(d for d in child.args.kw_defaults if d is not None)
                    continue
                todo.append(child)
        return keys, attrs


@cache
def _index() -> _Index:
    return _Index()


@cache
def _scan():
    """Return ({(rel, qualname): lines}, {(rel, qualname): uses}, seed keys,
    seed attribute names)."""
    ix = _index()
    sizes: dict[tuple[str, str], int] = {}
    uses: dict[tuple[str, str], tuple[set, set]] = {}
    seeds: set[tuple[str, str]] = set()
    seed_attrs: set[str] = set()
    for m in ix.modules.values():
        root = m.path in ROOT_FILES
        for stmt in m.tree.body:
            names = _defined_names(stmt)
            k, a = ix.uses(m, stmt, skip_methods=isinstance(stmt, ast.ClassDef))
            if root or not names:
                # A root file's code, and code that runs on import (a call,
                # an ``if`` or ``try`` block), is live.
                seeds |= k | {(m.rel, n) for n in names}
                seed_attrs |= a
            for n in names:
                uses[(m.rel, n)] = (k, a)
                sizes[(m.rel, n)] = stmt.end_lineno - stmt.lineno + 1
        for q, stmt in m.defs.items():
            if "." in q:
                uses[(m.rel, q)] = ix.uses(m, stmt)
                sizes[(m.rel, q)] = stmt.end_lineno - stmt.lineno + 1
    for m in ix.files:
        if m.path in ROOT_FILES and not m.in_pkg:
            k, a = ix.uses(m, m.tree)
            seeds |= k
            seed_attrs |= a
    return sizes, uses, frozenset(seeds), frozenset(seed_attrs)


@cache
def _reached(extra: frozenset = frozenset()) -> frozenset:
    """(rel, qualname) of every definition the roots (and ``extra``) reach."""
    sizes, uses, seeds, seed_attrs = _scan()
    methods = _index().methods
    reached: set[tuple[str, str]] = set()
    attrs = set(seed_attrs)
    todo = list(seeds | extra)
    while True:
        while todo:
            key = todo.pop()
            if key in reached or key not in uses:
                continue
            reached.add(key)
            k, a = uses[key]
            todo.extend(k - reached)
            attrs |= a
        todo = [
            (rel, q)
            for name, keys in methods.items()
            if name in attrs or _is_dunder(name)
            for rel, q in keys
            if (rel, q) not in reached and (rel, q.split(".")[0]) in reached
        ]
        if not todo:
            return frozenset(reached)


def test_every_package_definition_is_reached_from_an_entry_point():
    sizes = _scan()[0]
    # What a kept definition uses stays too.
    reached = _reached(frozenset(KEEP))
    dead = sorted(k for k in sizes if k not in reached and k not in KEEP)
    report = "\n".join(f"  {rel}::{name} ({sizes[(rel, name)]} lines)" for rel, name in dead)
    assert not dead, (
        f"{len(dead)} package definitions are reached only from tests "
        f"({sum(sizes[k] for k in dead)} lines); delete them or add them to "
        f"KEEP with a reason:\n{report}"
    )


def test_keep_list_names_existing_unreached_definitions():
    sizes = _scan()[0]
    missing = sorted(k for k in KEEP if k not in sizes)
    assert not missing, f"KEEP names definitions that no longer exist: {missing}"
    live = sorted(k for k in KEEP if k in _reached())
    assert not live, f"KEEP names definitions an entry point reaches: {live}"


def _options(fn: ast.FunctionDef) -> tuple[list[str], list[str]]:
    """(positional parameter names, names of parameters with a default)."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaulted = positional[len(positional) - len(a.defaults) :]
    defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return positional, defaulted


def _binding(fn: ast.FunctionDef, bound: bool) -> int:
    """How many leading parameters the call does not pass: the instance
    of a method called on an object, or the class of a classmethod."""
    decorators = {d.id for d in fn.decorator_list if isinstance(d, ast.Name)}
    if "staticmethod" in decorators:
        return 0
    return 1 if bound or "classmethod" in decorators else 0


def _is_partial(mod: _Module, func: ast.AST) -> bool:
    imp = _index().imports[mod.path]
    if isinstance(func, ast.Name):
        return imp.get(func.id) == ("sym", "functools", "partial")
    return (
        isinstance(func, ast.Attribute)
        and func.attr == "partial"
        and isinstance(func.value, ast.Name)
        and imp.get(func.value.id) == ("mod", "functools")
    )


@cache
def _settings() -> dict:
    """{(rel, qualname, param): set of files that set it}; a file is a
    test file's name, or None for a root or package file."""
    ix = _index()
    out: dict[tuple[str, str, str], set] = {}
    for m in ix.files:
        where = m.path.name if m.path in TEST_FILES else None
        for call in ast.walk(m.tree):
            if not isinstance(call, ast.Call):
                continue
            func, args = call.func, call.args
            if _is_partial(m, func) and args:
                func, args = args[0], args[1:]
            r = ix.resolve(m, func)
            if r is None or r[0] == "mod":
                continue
            unpacks = any(isinstance(a, ast.Starred) for a in args) or any(
                k.arg is None for k in call.keywords
            )
            if r[0] == "attr":
                targets = [(rel, q, True) for rel, q in ix.methods.get(r[1], [])]
            else:
                defs = ix.by_rel[r[1]].defs
                stmt = defs.get(r[2])
                if isinstance(stmt, ast.ClassDef):
                    targets = [(r[1], f"{r[2]}.__init__", True)] if f"{r[2]}.__init__" in defs else []
                else:
                    targets = [(r[1], r[2], False)] if isinstance(stmt, _FUNC) else []
            for rel, q, bound in targets:
                fn = ix.by_rel[rel].defs[q]
                positional, defaulted = _options(fn)
                positional = positional[_binding(fn, bound) :]
                given = set(positional[: len(args)]) | {k.arg for k in call.keywords}
                for p in defaulted:
                    if unpacks or p in given:
                        out.setdefault((rel, q, p), set()).add(where)
    return out


def _test_only_options() -> dict:
    """{(rel, qualname, param): test files} for every option on a reached
    package function that only tests set."""
    reached = _reached(frozenset(KEEP))
    return {
        key: sorted(files)
        for key, files in _settings().items()
        if None not in files and (key[0], key[1]) in reached and (key[0], key[1]) not in KEEP
    }


def test_no_option_is_set_only_by_tests():
    found = {k: v for k, v in _test_only_options().items() if k not in KEEP_OPTIONS}
    report = "\n".join(
        f"  {rel}::{fn}({param}) <- {', '.join(files)}" for (rel, fn, param), files in sorted(found.items())
    )
    assert not found, (
        f"{len(found)} options are set only by tests; delete each with the "
        f"code its non-default value selects, or add it to KEEP_OPTIONS with "
        f"one of the allowed reasons:\n{report}"
    )


def test_keep_options_name_existing_test_only_options():
    bad_reason = sorted(k for k, why in KEEP_OPTIONS.items() if why not in (BOUND, FAKE, TEST_INPUT))
    assert not bad_reason, f"KEEP_OPTIONS entries without an allowed reason: {bad_reason}"
    ix = _index()
    missing = []
    for rel, fn, param in KEEP_OPTIONS:
        stmt = ix.by_rel[rel].defs.get(fn) if rel in ix.by_rel else None
        if not isinstance(stmt, _FUNC) or param not in _options(stmt)[1]:
            missing.append((rel, fn, param))
    assert not missing, f"KEEP_OPTIONS names options that no longer exist: {missing}"
    test_only = _test_only_options()
    live = sorted(k for k in KEEP_OPTIONS if k not in test_only)
    assert not live, f"KEEP_OPTIONS names options that a non-test call sets, or no test sets: {live}"
