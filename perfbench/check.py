"""Output checks that do not depend on the code under test.

Extract outputs are compared with the per-table row and non-null cell counts
the generator derived from what it emitted: Parquet footers, SQLite and
DuckDB are each read with their own library. Curate outputs are checked
against invariants computed from the generated corpus. Each check returns a
list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import json
import os
import sqlite3
from collections import Counter

import pyarrow.parquet as pq


def _parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def parquet_counts(path: str) -> tuple[int, Counter]:
    """(rows, non-null cells per column) of a Parquet dataset, read from the
    file footers only."""
    rows = 0
    nonnull: Counter = Counter()
    for f in _parquet_files(path):
        pf = pq.ParquetFile(f)
        meta = pf.metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            rows += rg.num_rows
            for c in range(rg.num_columns):
                col = rg.column(c)
                stats = col.statistics
                if stats is not None and stats.has_null_count:
                    nonnull[col.path_in_schema] += rg.num_rows - stats.null_count
                else:  # INT96 timestamps carry no statistics: read the column
                    data = pf.read_row_group(g, columns=[col.path_in_schema]).column(0)
                    nonnull[col.path_in_schema] += len(data) - data.null_count
    return rows, nonnull


def _compare(where: str, table: str, exp: dict, rows: int, nonnull) -> list[str]:
    problems = []
    if rows != exp["rows"]:
        problems.append(f"{where} {table}: {rows} rows, expected {exp['rows']}")
    for col, n in exp["nonnull"].items():
        if nonnull.get(col, 0) != n:
            problems.append(f"{where} {table}.{col}: {nonnull.get(col, 0)} non-null, expected {n}")
    return problems


def _sql_counts(cur, table: str, cols: list[str]) -> tuple[int, dict]:
    exprs = ", ".join(["COUNT(*)"] + [f'COUNT("{c}")' for c in cols])
    row = cur.execute(f'SELECT {exprs} FROM "{table}"').fetchone()
    return row[0], dict(zip(cols, row[1:]))


def check_extract(manifest: dict, out: dict) -> list[str]:
    """``out`` names the sink paths of one CLI run: ``parquet`` (the output
    dir), and optionally ``sqlite``, ``duckdb`` and ``datapackage``."""
    expected = manifest["expected"]
    kept = {t for t, e in expected.items() if e["rows"] > 0}
    problems: list[str] = []
    pq_dir = out["parquet"]
    found = {n[: -len(".parquet")] for n in os.listdir(pq_dir) if n.endswith(".parquet")}
    if found != kept:
        problems.append(f"parquet tables {sorted(found ^ kept)} differ from expected")
    for t in sorted(kept & found):
        rows, nonnull = parquet_counts(os.path.join(pq_dir, f"{t}.parquet"))
        problems += _compare("parquet", t, expected[t], rows, nonnull)

    if "sqlite" in out:
        conn = sqlite3.connect(out["sqlite"])
        try:
            cur = conn.cursor()
            names = {r[0] for r in cur.execute("SELECT name FROM sqlite_master WHERE type='table'")}
            if names != kept:
                problems.append(f"sqlite tables {sorted(names ^ kept)} differ from expected")
            for t in sorted(kept & names):
                rows, nonnull = _sql_counts(cur, t, list(expected[t]["nonnull"]))
                problems += _compare("sqlite", t, expected[t], rows, nonnull)
        finally:
            conn.close()

    if "duckdb" in out:
        import duckdb

        con = duckdb.connect(out["duckdb"], read_only=True)
        try:
            names = {r[0] for r in con.execute("SELECT table_name FROM information_schema.tables").fetchall()}
            if names != kept:
                problems.append(f"duckdb tables {sorted(names ^ kept)} differ from expected")
            for t in sorted(kept & names):
                rows, nonnull = _sql_counts(con, t, list(expected[t]["nonnull"]))
                problems += _compare("duckdb", t, expected[t], rows, nonnull)
        finally:
            con.close()

    for key, want in (("datapackage", set(expected)), ("parquet_datapackage", kept)):
        path = out.get(key)
        if path is None:
            continue
        if not os.path.exists(path):
            problems.append(f"{key} {path} missing")
            continue
        with open(path) as fh:
            names = {r["name"] for r in json.load(fh)["resources"]}
        if names != want:
            problems.append(f"{key} resources {sorted(names ^ want)} differ from expected")
    return problems


def check_curate(manifest: dict, shard_dir: str) -> list[str]:
    """Invariants of a packed, sampled, decontaminated, deduplicated corpus."""
    params = manifest["params"]
    budget = params["pack_budget"]
    kinds = manifest["marker_kind"]
    source_of = manifest["marker_source"]
    input_ids = set(manifest["input_ids"])
    problems: list[str] = []

    mpath = os.path.join(shard_dir, "_MANIFEST.json")
    if not os.path.exists(mpath):
        return [f"manifest {mpath} missing"]
    with open(mpath) as fh:
        committed = json.load(fh)
    table = pq.read_table(_parquet_files(shard_dir))
    if committed.get("n_rows") != table.num_rows:
        problems.append(f"manifest n_rows {committed.get('n_rows')} != {table.num_rows} rows on disk")
    if table.num_rows == 0:
        return problems + ["no packed sequences written"]

    seen: Counter = Counter()
    for seq_text, n_docs, start, seq_id in zip(
        table.column("seq_text").to_pylist(),
        table.column("n_docs").to_pylist(),
        table.column("start_offset").to_pylist(),
        table.column("seq_id").to_pylist(),
    ):
        toks = seq_text.split()
        starts = [i for i, t in enumerate(toks) if t.startswith("id") and t[2:].isdigit()]
        markers = [toks[i] for i in starts]
        if not starts or starts[0] != 0:
            problems.append(f"sequence {seq_id} does not start with a document marker")
            continue
        if len(markers) != n_docs:
            problems.append(f"sequence {seq_id}: {len(markers)} documents, n_docs says {n_docs}")
        if start // budget != seq_id:
            problems.append(f"sequence {seq_id} starts at offset {start}, outside its budget window")
        # every document of a sequence must start inside its budget window
        if starts[-1] >= budget:
            problems.append(f"sequence {seq_id}: last document starts {starts[-1]} tokens in, budget {budget}")
        seen.update(markers)

    for marker, n in seen.items():
        if int(marker[2:]) not in input_ids:
            problems.append(f"{marker} is not an input document")
        if n > 1:
            problems.append(f"{marker} survives {n} times (exact duplicate kept)")
        kind = kinds.get(marker)
        if kind in ("contaminated", "junk"):
            problems.append(f"{marker} is {kind} but survived")
    clusters: Counter = Counter()
    for marker in seen:
        kind = kinds.get(marker, "")
        root = kind.split(":", 1)[1] if kind.startswith("neardup:") else marker[2:]
        clusters[root] += 1
    problems += [f"near-duplicate cluster of id{r} keeps {n} documents" for r, n in clusters.items() if n > 1]
    per_stratum = Counter(source_of[m] for m in seen)
    problems += [
        f"stratum {s} keeps {n} documents, sample-n is {params['sample_n']}"
        for s, n in per_stratum.items()
        if n > params["sample_n"]
    ]
    return problems[:20]
