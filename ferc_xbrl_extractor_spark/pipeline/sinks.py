"""Sinks (SURVEY.md §2.8 K1-K5).

- Parquet: native distributed write — the cluster-scale sink.
- SQLite: single-writer by design; tables are serialized through the driver
  exactly like the reference (cli.py:97-127). Used for small final outputs,
  never for the 100 TB path.
- DuckDB: parquet is the interchange (duckdb has no Spark connector);
  CREATE TABLE ... AS FROM read_parquet on the driver.
- Datapackage JSON descriptor (frictionless-shaped). Its structural check
  always runs; the full ``frictionless`` spec check is added when that
  package is importable.

The SQLite and DuckDB sinks read the Parquet staging that ``stage_and_sink``
writes, so each table plan runs once whatever the number of sinks.
"""

from __future__ import annotations

import json
import sqlite3
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame

from ferc_xbrl_extractor_spark.catalog.tablespec import TableSpec

# Concurrent table writes: enough to keep every executor busy between one
# table's stages and the next table's.
_WRITE_THREADS = 8


def write_parquet(
    tables: dict[str, DataFrame], out_dir: str, single_file: bool = False
) -> None:
    """K3: one parquet dataset per table.

    Writes run from a thread pool — each .write is a separate Spark job and
    the scheduler interleaves their stages, keeping all executors busy
    instead of draining the cluster one table at a time.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)

    def _write(item):
        name, df = item
        target = df.coalesce(1) if single_file else df
        target.write.mode("overwrite").parquet(str(out / name))

    with ThreadPoolExecutor(max_workers=_WRITE_THREADS) as pool:
        list(pool.map(_write, tables.items()))


def staged_row_counts(staging_dir: str, names: list[str]) -> dict[str, int]:
    """Row count per staged table from parquet footer metadata only — no
    Spark job, no data read. This is how the CLI drops empty tables
    without re-executing any table plan (reference cli.py:122 gates on
    ``df.empty``, which re-runs the plan; the footer already knows). A
    table with no staged directory counts 0."""
    import pyarrow.dataset as pads

    counts: dict[str, int] = {}
    for name in names:
        table_dir = Path(staging_dir) / name
        counts[name] = (
            pads.dataset(str(table_dir), format="parquet").count_rows()
            if table_dir.exists()
            else 0
        )
    return counts


def write_sqlite(
    tables: dict[str, DataFrame], db_path: str, staging_dir: str
) -> None:
    """K1: serialize tables into SQLite via the driver (single-writer).

    SQLite is inherently a driver-side single-writer sink, but the driver
    never materializes a whole table: Spark writes parquet distributed
    into ``staging_dir`` (``write_parquet`` output, reused as-is and not
    deleted), then the driver streams it into SQLite one record batch at a
    time via a pyarrow dataset scan. Peak driver memory is one batch
    (~100k rows), independent of table size."""
    import pyarrow.dataset as pads

    conn = sqlite3.connect(db_path)
    try:
        for name, df in tables.items():
            first = True
            ds = pads.dataset(str(Path(staging_dir) / name), format="parquet")
            for batch in ds.to_batches(batch_size=100_000):
                batch.to_pandas().to_sql(
                    name, conn, if_exists="replace" if first else "append", index=False
                )
                first = False
            if first:  # empty table: still create it with the right columns
                df.limit(0).toPandas().to_sql(
                    name, conn, if_exists="replace", index=False
                )
        conn.commit()
    finally:
        conn.close()


def write_duckdb(
    tables: dict[str, DataFrame], db_path: str, staging_dir: str
) -> None:
    """K2: CTAS each table into DuckDB on the driver from its parquet in
    ``staging_dir`` (``write_parquet`` output, reused as-is)."""
    import duckdb

    con = duckdb.connect(db_path)
    try:
        for name in tables:
            # A DuckDB string literal escapes ' by doubling it.
            files = f"{staging_dir}/{name}/*.parquet".replace("'", "''")
            con.execute(
                f'CREATE OR REPLACE TABLE "{name}" AS '
                f"SELECT * FROM read_parquet('{files}')"
            )
    finally:
        con.close()


def stage_and_sink(
    tables: dict[str, DataFrame],
    specs: dict[str, TableSpec] | None = None,
    output_dir: str | None = None,
    sqlite_path: str | None = None,
    duckdb_path: str | None = None,
    single_file: bool = False,
) -> dict[str, int]:
    """Execute every table plan exactly ONCE: stage all tables to parquet
    (thread-pooled distributed writes), drop empty tables from the staged
    output via parquet footer row counts (a metadata read — no second
    execution, unlike the reference's per-table ``df.empty`` gate,
    cli.py:122), then feed the SQLite/DuckDB sinks from the same staging.

    When ``output_dir`` is set it doubles as the staging (kept on disk,
    with a parquet-flavored datapackage.json when ``specs`` is given);
    otherwise a temp staging is used and cleaned up. Returns the staged
    row count per table.

    Final user-facing layout under ``output_dir`` renames each kept table
    dataset to ``{name}.parquet`` so the descriptor's per-resource path
    (reference cli.py:210-230) resolves on disk. By default each is a
    *directory* of part files (the distributed layout) —
    ``pd.read_parquet``/pyarrow read both the same. ``single_file=True``
    coalesces each table to one part and renames that part to a plain
    ``{name}.parquet`` FILE, byte-compatible with consumers that ``open()``
    the reference's pandas-written outputs (cli.py:191-207).
    """
    import shutil
    import tempfile

    temp_staging = None if output_dir else tempfile.mkdtemp(prefix="xbrl_stage_")
    staging = output_dir or temp_staging
    try:
        write_parquet(tables, staging, single_file=single_file)
        counts = staged_row_counts(staging, list(tables))
        kept = {n: df for n, df in tables.items() if counts[n] > 0}
        for name in set(tables) - set(kept):
            shutil.rmtree(Path(staging) / name, ignore_errors=True)
        if sqlite_path:
            write_sqlite(kept, sqlite_path, staging_dir=staging)
        if duckdb_path:
            write_duckdb(kept, duckdb_path, staging_dir=staging)
        if output_dir:
            for name in kept:
                target = Path(output_dir) / f"{name}.parquet"
                staged_dir = Path(output_dir) / name
                shutil.rmtree(target, ignore_errors=True)
                if single_file:
                    part = next(staged_dir.glob("part-*.parquet"))
                    part.rename(target)
                    shutil.rmtree(staged_dir, ignore_errors=True)
                else:
                    staged_dir.rename(target)
            if specs is not None:
                write_datapackage(
                    {n: s for n, s in specs.items() if n in kept},
                    str(Path(output_dir) / "datapackage.json"),
                    flavor="parquet",
                    base_dir=output_dir,
                )
        return counts
    finally:
        if temp_staging:
            shutil.rmtree(temp_staging, ignore_errors=True)


def datapackage_descriptor(
    specs: dict[str, TableSpec],
    name: str = "ferc-xbrl-extractor-spark",
    flavor: str = "sqlite",
    db_uri: str | None = None,
) -> dict:
    """K4: Frictionless datapackage descriptor for the output tables.

    Two flavors, matching the reference:
    - ``sqlite`` (reference datapackage.py:292-306): every resource points
      at the one database (``path=db_uri``), declares
      ``format=sqlite`` / ``mediatype=application/vnd.sqlite3`` and a
      ``dialect`` naming its table.
    - ``parquet`` (reference cli.py:210-230): per-resource
      ``path={name}.parquet``, ``format=parquet``,
      ``mediatype=application/vnd.apache.parquet``, and NO dialect.
    """
    if flavor not in ("sqlite", "parquet"):
        raise ValueError(f"unknown datapackage flavor: {flavor}")
    resources = []
    for spec in specs.values():
        fields = []
        for pk in spec.primary_key:
            # Reference descriptor types (datapackage.py:75-113): date PK
            # columns are declared 'date' (values stay ISO strings on disk,
            # as the reference stores them), publication_time 'datetime',
            # everything else 'string'.
            if pk == "publication_time":
                ftype = "datetime"
            elif pk in ("date", "start_date", "end_date"):
                ftype = "date"
            else:
                ftype = "string"
            fields.append({"name": pk, "type": ftype})
        for col in spec.data_columns:
            fields.append({"name": col, "type": spec.columns[col]})
        resource = {
            "name": spec.name,
            "profile": "tabular-data-resource",
            "schema": {
                "fields": fields,
                "primaryKey": list(spec.primary_key),
            },
        }
        if flavor == "sqlite":
            resource["path"] = db_uri or "sqlite:///ferc.sqlite"
            resource["format"] = "sqlite"
            resource["mediatype"] = "application/vnd.sqlite3"
            resource["dialect"] = {"table": spec.name}
        else:
            resource["path"] = f"{spec.name}.parquet"
            resource["format"] = "parquet"
            resource["mediatype"] = "application/vnd.apache.parquet"
        resources.append(resource)
    return {"name": name, "profile": "tabular-data-package", "resources": resources}


def write_datapackage(
    specs: dict[str, TableSpec],
    path: str,
    flavor: str = "sqlite",
    db_uri: str | None = None,
    base_dir: str | None = None,
) -> dict:
    """Build, validate and write the K4 descriptor; returns it."""
    doc = datapackage_descriptor(specs, flavor=flavor, db_uri=db_uri)
    validate_descriptor(doc, base_dir=base_dir)
    Path(path).write_text(json.dumps(doc, indent=2, default=str))
    return doc


_LEGAL_FIELD_TYPES = {
    # Frictionless table-schema types the catalog can emit (reference
    # taxonomy.py:58-66 get_schema_type + the PK column types).
    "string", "number", "integer", "boolean", "date", "datetime",
    "year", "duration",
}


def validate_descriptor(doc: dict, base_dir: str | None = None) -> None:
    """E5: descriptor validation that ALWAYS runs (reference hard-fails on
    an invalid descriptor, cli.py:226-229 / xbrl.py:263-266).

    Two layers:
    1. A structural self-check with no dependencies — resource shape,
       unique names, legal field types, primaryKey ⊆ field names, and
       (with ``base_dir``) resource paths existing on disk. This closes
       the silent-skip hole where a missing ``frictionless`` install let
       corrupt descriptors ship unvalidated.
    2. ``frictionless.Package.validate_descriptor`` when the package is
       importable, for full-spec coverage.
    """
    problems: list[str] = []
    resources = doc.get("resources")
    if not isinstance(resources, list) or not resources:
        raise RuntimeError("Invalid datapackage descriptor: no resources")
    seen: set[str] = set()
    for i, res in enumerate(resources):
        rname = res.get("name") or f"#{i}"
        if res.get("name") in seen:
            problems.append(f"duplicate resource name {rname}")
        seen.add(rname)
        if not res.get("path"):
            problems.append(f"resource {rname}: missing path")
        elif base_dir is not None and not str(res["path"]).startswith(
            ("sqlite:", "http:", "https:")
        ):
            if not (Path(base_dir) / res["path"]).exists():
                problems.append(
                    f"resource {rname}: path {res['path']} not found in {base_dir}"
                )
        schema = res.get("schema") or {}
        fields = schema.get("fields") or []
        names = [f.get("name") for f in fields]
        if len(names) != len(set(names)):
            problems.append(f"resource {rname}: duplicate field names")
        for f in fields:
            if f.get("type") not in _LEGAL_FIELD_TYPES:
                problems.append(
                    f"resource {rname}: field {f.get('name')} has illegal "
                    f"type {f.get('type')!r}"
                )
        pk = schema.get("primaryKey") or []
        missing = [k for k in pk if k not in names]
        if missing:
            problems.append(
                f"resource {rname}: primaryKey columns {missing} not in fields"
            )
    if problems:
        raise RuntimeError(
            "Invalid datapackage descriptor: " + "; ".join(problems)
        )
    try:
        import frictionless
    except ImportError:
        return
    report = frictionless.Package.validate_descriptor(doc)
    if not report.valid:
        raise RuntimeError(f"Invalid datapackage descriptor: {report}")
