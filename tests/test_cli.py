"""The extract CLI end to end on the synthetic filing: one ``run_main`` call
writes Parquet, SQLite, DuckDB and both datapackage descriptors, and the
three data sinks hold the same rows; ``--strict`` fails the run on an
unresolvable duplicate fact."""

from __future__ import annotations

import json
import sqlite3

import duckdb
import pyarrow.parquet as pq
import pytest

CATALOG = {
    # two rows from the fixture filing: the no-dims 'total' slice and 'west'
    "summary_by_region_duration": {
        "period_type": "duration",
        "axes": ["region_axis"],
        "columns": {"revenue_total": "number", "operator_name": "string"},
    },
    # no fact in the filing has this concept: the table comes out empty
    "absent_instant": {
        "period_type": "instant",
        "axes": [],
        "columns": {"never_reported": "number"},
    },
}
KEPT, EMPTY = "summary_by_region_duration", "absent_instant"


def _rows(records) -> list[tuple]:
    return sorted((tuple(r) for r in records), key=repr)


def test_cli_writes_every_sink(spark, filing_dir, tmp_path):
    from ferc_xbrl_extractor_spark import cli

    catalog = tmp_path / "catalog.json"
    catalog.write_text(json.dumps(CATALOG))
    out = tmp_path / "parquet"
    sqlite_path, duckdb_path = tmp_path / "out.sqlite", tmp_path / "out.duckdb"
    datapackage = tmp_path / "datapackage.json"
    argv = [
        filing_dir,
        "--frozen-catalog", str(catalog),
        "--output-dir", str(out),
        "--sqlite-path", str(sqlite_path),
        "--duckdb-path", str(duckdb_path),
        "--datapackage-path", str(datapackage),
        "--loglevel", "WARNING",
    ]
    assert cli.run_main(cli.parse(argv)) == 0

    table = pq.read_table(str(out / f"{KEPT}.parquet"))
    columns = table.column_names
    parquet_rows = _rows(zip(*(table.column(c).to_pylist() for c in columns)))
    assert {r[columns.index("region_axis")] for r in parquet_rows} == {"total", "west"}

    select = f"SELECT {', '.join(columns)} FROM {KEPT}"
    conn = sqlite3.connect(sqlite_path)
    try:
        sqlite_tables = {
            r[0] for r in conn.execute("SELECT name FROM sqlite_master WHERE type='table'")
        }
        sqlite_rows = _rows(conn.execute(select).fetchall())
    finally:
        conn.close()
    con = duckdb.connect(str(duckdb_path), read_only=True)
    try:
        duckdb_tables = {
            r[0]
            for r in con.execute(
                "SELECT table_name FROM information_schema.tables"
            ).fetchall()
        }
        duckdb_rows = _rows(con.execute(select).fetchall())
    finally:
        con.close()
    assert parquet_rows == sqlite_rows == duckdb_rows

    # the empty table is dropped from every sink and from the parquet
    # descriptor; the schema descriptor still lists the whole catalog
    assert not (out / f"{EMPTY}.parquet").exists()
    assert not (out / EMPTY).exists()
    assert sqlite_tables == duckdb_tables == {KEPT}
    parquet_doc = json.loads((out / "datapackage.json").read_text())
    assert [r["name"] for r in parquet_doc["resources"]] == [KEPT]
    assert parquet_doc["resources"][0]["path"] == f"{KEPT}.parquet"
    schema_doc = json.loads(datapackage.read_text())
    assert {r["name"] for r in schema_doc["resources"]} == {KEPT, EMPTY}


def test_cli_strict_fails_on_conflict(spark, filing_bytes, tmp_path):
    """A second OperatorName value in context d1 is an unresolvable string
    conflict: with ``--strict`` the run raises a ValueError naming the
    table, filing, context, concept and values before any sink runs;
    without it the run exits 0, quarantines the conflict and writes the
    sinks with a NULL operator name on the conflicted row."""
    from ferc_xbrl_extractor_spark import cli

    operator = '<ferc:OperatorName contextRef="d1">Acme Power</ferc:OperatorName>'
    xml = filing_bytes.decode()
    assert operator in xml
    filings = tmp_path / "filings"
    filings.mkdir()
    (filings / "acme-2021.xbrl").write_text(
        xml.replace(operator, operator + operator.replace("Acme", "Other"))
    )
    catalog = tmp_path / "catalog.json"
    catalog.write_text(json.dumps(CATALOG))
    out, sqlite_path = tmp_path / "parquet", tmp_path / "out.sqlite"
    argv = [
        str(filings),
        "--frozen-catalog", str(catalog),
        "--output-dir", str(out),
        "--sqlite-path", str(sqlite_path),
        "--loglevel", "WARNING",
    ]
    with pytest.raises(ValueError) as raised:
        cli.run_main(cli.parse([*argv, "--strict"]))
    message = str(raised.value)
    for part in (KEPT, "acme-2021", "d1", "operator_name", "Acme Power", "Other Power"):
        assert part in message
    assert not out.exists() and not sqlite_path.exists()

    assert cli.run_main(cli.parse(argv)) == 0
    table = pq.read_table(str(out / f"{KEPT}.parquet")).to_pydict()
    by_region = dict(zip(table["region_axis"], table["operator_name"]))
    assert by_region == {"total": None, "west": None}
    conn = sqlite3.connect(sqlite_path)
    try:
        n = conn.execute(f"SELECT count(*) FROM {KEPT}").fetchone()[0]
    finally:
        conn.close()
    assert n == 2
