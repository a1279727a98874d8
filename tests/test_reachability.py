"""Every top-level definition in the package is reached from an entry point.

An AST pass over the repository's Python sources. The roots are the
three CLIs, ``__spark_entry__.py``, ``bench.py``, ``tools/`` and
``perfbench/``; ``tests/`` is not a root. A root file reaches every name it
uses; a reached definition reaches every name its own code uses, and so on
to a fixpoint. A name is used when it appears as an identifier or as an
attribute (``mod.name``); docstrings, comments, string constants, keyword
argument names and import statements are not uses, so an ``__init__``
re-export keeps nothing alive. Resolution is by name across the whole
package: a use of ``name`` reaches every package definition called
``name``, after following ``from ... import x as name`` aliases.

Code that only tests call is deleted, not kept. The exceptions are in
``KEEP``, each with its reason.
"""

from __future__ import annotations

import ast
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

# (module path relative to the package, name) -> why it stays with no
# caller outside tests.
KEEP = {
    ("operators/jpeg.py", "encode_jpeg_baseline"): "builds the baseline-JPEG inputs for tests of the live decoder",
    ("operators/jpeg.py", "encode_jpeg_progressive"): "builds the progressive-JPEG inputs for tests of the live decoder",
    ("operators/jpeg.py", "encode_png"): "builds the PNG inputs for tests of the live decoder",
    ("operators/jpeg.py", "encode_gif"): "builds the GIF inputs for tests of the live decoder",
    ("pipeline/shards.py", "verify_shards"): "checks the output of the live publish_shards",
    ("operators/similarity.py", "dequantize"): "checks the output of the live quantize_int8",
    ("operators/text.py", "bigram_lm"): "fits the model that feeds the surprisal tests",
    ("operators/clustering.py", "centroids_float"): "reads back the live k-means centroids for tests",
    ("operators/classifier.py", "train_quality_classifier"): "trains the model the live classifier scoring is tested with",
    ("operators/neardup.py", "minhash_signature"): "reference signature the live LSH operators are tested against",
    ("operators/neardup.py", "shingles"): "reference shingling the live near-dup operators are tested against",
    ("operators/neardup.py", "simhash"): "reference fingerprint the live Hamming operators are tested against",
    ("operators/similarity.py", "cosine"): "reference similarity the live vector operators are tested against",
    ("catalog/taxonomy_xml.py", "catalog_from_archive"): "the reference extractor's taxonomy-to-catalog entry point; the real-taxonomy integration test calls it",
    ("sources/shredder.py", "contexts_from"): "the reference extractor's context relation",
    ("sources/filings.py", "scan_filings"): "perfbench wraps it by name as an attribute of pipeline.extract",
    ("operators/text.py", "GOPHER_RULES"): "documents the bit order of the Gopher rule mask",
}


def _defined_names(stmt: ast.stmt) -> list[str]:
    """Names a module-level statement defines (functions, classes, constants)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
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
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _uses(node: ast.AST, aliases: dict[str, str]) -> set[str]:
    """Identifiers ``node`` uses, aliases mapped back to their original name."""
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name) and not isinstance(sub.ctx, ast.Store):
            out.add(aliases.get(sub.id, sub.id))
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
    return out


def _aliases(tree: ast.Module) -> dict[str, str]:
    return {
        a.asname: a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.asname
    }


def _scan():
    """Return ({(module, name): lines}, {name: [(module, stmt, aliases)]},
    the names the entry points use directly)."""
    defs: dict[str, list[tuple[str, ast.stmt, dict[str, str]]]] = {}
    sizes: dict[tuple[str, str], int] = {}
    seeds: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        aliases = _aliases(tree)
        for stmt in tree.body:
            names = _defined_names(stmt)
            if path in ROOT_FILES:
                seeds |= _uses(stmt, aliases) | set(names)
            elif names:
                for n in names:
                    defs.setdefault(n, []).append((rel, stmt, aliases))
                    sizes[(rel, n)] = stmt.end_lineno - stmt.lineno + 1
            else:
                # Code that runs on import (a call, an ``if`` or ``try``
                # block) is live.
                seeds |= _uses(stmt, aliases)
    for path in ROOT_FILES:
        if not path.is_relative_to(PKG):
            tree = ast.parse(path.read_text(), filename=str(path))
            seeds |= _uses(tree, _aliases(tree))
    return sizes, defs, seeds


def _reached(defs, seeds) -> set[tuple[str, str]]:
    """(module, name) of every definition reached from the names ``seeds``."""
    reached: set[tuple[str, str]] = set()
    todo = list(seeds)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for rel, stmt, aliases in defs.get(name, []):
            reached.add((rel, name))
            todo.extend(_uses(stmt, aliases) - seen)
    return reached


def test_every_package_definition_is_reached_from_an_entry_point():
    sizes, defs, seeds = _scan()
    # What a kept definition uses stays too.
    reached = _reached(defs, seeds | {name for _, name in KEEP})
    dead = sorted(k for k in sizes if k not in reached and k not in KEEP)
    report = "\n".join(f"  {rel}::{name} ({sizes[(rel, name)]} lines)" for rel, name in dead)
    assert not dead, (
        f"{len(dead)} top-level definitions are reached only from tests "
        f"({sum(sizes[k] for k in dead)} lines); delete them or add them to "
        f"KEEP with a reason:\n{report}"
    )


def test_keep_list_names_existing_unreached_definitions():
    sizes, defs, seeds = _scan()
    missing = sorted(k for k in KEEP if k not in sizes)
    assert not missing, f"KEEP names definitions that no longer exist: {missing}"
    live = sorted(k for k in KEEP if k in _reached(defs, seeds))
    assert not live, f"KEEP names definitions an entry point reaches: {live}"
