"""``pipeline.extract`` builds its table plans from a thread pool and
analyzes each quarantine (errors) plan only when it is read: the tables and
errors it returns must equal a serial ``construct_table_with_errors`` loop,
and the ``spark.sql`` calls it makes must follow what is read."""

from __future__ import annotations

import sys
import threading

import pytest
from pyspark.sql import SparkSession

from ferc_xbrl_extractor_spark.catalog.tablespec import TableSpec
from ferc_xbrl_extractor_spark.operators.fact_table import construct_table_with_errors
from ferc_xbrl_extractor_spark.pipeline.extract import extract

# A second OperatorName value in context d1: an unresolvable string conflict.
OPERATOR = '<ferc:OperatorName contextRef="d1">Acme Power</ferc:OperatorName>'
CONFLICT = OPERATOR + '\n  <ferc:OperatorName contextRef="d1">Other Power</ferc:OperatorName>'

SPECS = {
    s.name: s
    for s in (
        TableSpec(
            name="summary_by_region_duration",
            period_type="duration",
            columns={"revenue_total": "number", "operator_name": "string"},
            axes=["region_axis"],
        ),
        TableSpec(
            name="revenue_by_fuel_duration",
            period_type="duration",
            columns={"revenue_total": "number"},
            axes=["region_axis", "fuel_type_axis"],
        ),
        TableSpec(
            name="plants_instant",
            period_type="instant",
            columns={
                "plant_count": "integer",
                "net_generation": "number",
                "empty_fact": "string",
            },
            axes=["region_axis"],
        ),
        TableSpec(
            name="report_duration",
            period_type="duration",
            columns={"report_date": "date", "operator_name": "string"},
        ),
        TableSpec(
            name="absent_instant",
            period_type="instant",
            columns={"never_reported": "number"},
        ),
    )
}


def _filings(tmp_path, filing_bytes: bytes, conflict: bool) -> str:
    xml = filing_bytes.decode()
    if conflict:
        assert OPERATOR in xml
        xml = xml.replace(OPERATOR, CONFLICT)
    d = tmp_path / ("conflict" if conflict else "clean")
    d.mkdir()
    (d / "acme-2021.xbrl").write_text(xml)
    return str(d)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _temp_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("__v_")]


@pytest.mark.parametrize("conflict", [False, True])
def test_extract_equals_serial_construction(spark, tmp_path, filing_bytes, conflict):
    """Every table and every errors relation of the pooled build equals a
    serial ``construct_table_with_errors`` loop over the same facts, in row
    multiset and schema, with and without a conflict and for both date
    surfaces; the strict check names every conflicted table."""
    path = _filings(tmp_path, filing_bytes, conflict)
    for typed_dates in (False, True):
        result = extract(spark, path, SPECS, typed_dates=typed_dates)
        try:
            assert list(result.tables) == list(result.errors) == list(SPECS)
            for name, spec in SPECS.items():
                serial = construct_table_with_errors(result.facts, spec, typed_dates=typed_dates)
                for got, want in ((result.tables[name], serial.data), (result.errors[name], serial.errors)):
                    assert got.schema == want.schema, name
                    assert _rows(got) == _rows(want), name
            conflicted = {n for n, e in result.errors.items() if e.count()}
            want = {"summary_by_region_duration", "report_duration"} if conflict else set()
            assert conflicted == want
            if not conflict:
                result.raise_on_conflicts()
                continue
            with pytest.raises(ValueError) as raised:
                result.raise_on_conflicts()
            for name in want:
                assert f"table {name}: " in str(raised.value)
        finally:
            result.shredded.unpersist()
    assert _temp_views(spark) == []


def test_errors_plans_are_built_on_first_read(spark, tmp_path, filing_bytes, monkeypatch):
    """Building N tables makes N ``spark.sql`` calls (data plans only). The
    first read of ``errors`` adds one per table; later reads return the
    same objects and make none."""
    calls: list[str] = []
    real_sql = SparkSession.sql

    def spy(self, query, *args, **kwargs):
        calls.append(query)
        return real_sql(self, query, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", spy)
    result = extract(spark, _filings(tmp_path, filing_bytes, True), SPECS)
    try:
        n = len(SPECS)
        assert len(calls) == n
        result.tables
        assert len(calls) == n
        errors = result.errors
        assert len(calls) == 2 * n
        assert result.errors is errors
        for name, built in result.built.items():
            assert built.errors is errors[name]
        assert len(calls) == 2 * n
    finally:
        result.shredded.unpersist()


def test_pooled_build_under_thread_switching(spark, tmp_path, filing_bytes):
    """Many more tables than build threads or cores, with the interpreter
    switching threads as often as it can: every name still maps to its own
    table's plan (each table has a column no other has), every errors
    relation is built, and no temp view is left behind."""
    specs = {
        f"t{i:02d}": TableSpec(
            name=f"t{i:02d}",
            period_type="duration",
            columns={"revenue_total": "number", f"only_in_t{i:02d}": "string"},
            axes=["region_axis"] if i % 2 else [],
        )
        for i in range(24)
    }
    path = _filings(tmp_path, filing_bytes, False)
    out: dict = {}
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        worker = threading.Thread(target=lambda: out.update(r=extract(spark, path, specs)))
        worker.start()
        worker.join(timeout=300)
        assert not worker.is_alive()
        result = out["r"]
        errors = result.errors
    finally:
        sys.setswitchinterval(switch)
    try:
        for name, spec in specs.items():
            assert result.tables[name].columns == spec.primary_key + spec.data_columns
            assert errors[name].columns == ["filing_name", "c_id", "name", "values"]
    finally:
        result.shredded.unpersist()
    assert _temp_views(spark) == []
