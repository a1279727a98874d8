"""End-to-end table materialization goldens (reference
tests/integration/datapackage_test.py:87-152 analogues)."""

from ferc_xbrl_extractor_spark.catalog.tablespec import TableSpec
from ferc_xbrl_extractor_spark.operators.fact_table import construct_table
from ferc_xbrl_extractor_spark.sources.shredder import facts_from, shred_paths


def _facts(spark, filing_dir):
    return facts_from(shred_paths(spark, filing_dir))


def test_duration_no_axes(spark, filing_dir):
    spec = TableSpec(
        name="summary_duration",
        period_type="duration",
        columns={"revenue_total": "number", "operator_name": "string"},
    )
    df = construct_table(_facts(spark, filing_dir), spec)
    rows = df.collect()
    # d2/d3 have dims not in PK -> excluded (P4); only d1 fits
    assert len(rows) == 1
    r = rows[0]
    assert r["entity_id"] == "E77"
    assert r["filing_name"] == "acme-2021"
    assert r["start_date"] == "2021-01-01"
    assert r["end_date"] == "2021-12-31"
    assert r["revenue_total"] == 1234.5
    assert r["operator_name"] == "Acme Power"


def test_duration_with_axis_and_total_backfill(spark, filing_dir):
    spec = TableSpec(
        name="summary_by_region_duration",
        period_type="duration",
        columns={"revenue_total": "number", "operator_name": "string"},
        axes=["region_axis"],
    )
    df = construct_table(_facts(spark, filing_dir), spec)
    rows = {r["region_axis"]: r for r in df.collect()}
    # d1 (no dims) fits and becomes the 'total' slice; d2 (region only)
    # fits; d3 has an extra axis -> excluded
    assert set(rows) == {"total", "west"}
    assert rows["total"]["revenue_total"] == 1234.5
    assert rows["west"]["revenue_total"] == 200.25  # exact dup collapsed
    assert rows["west"]["operator_name"] is None


def test_instant_with_fuzzy_dedup(spark, filing_dir):
    spec = TableSpec(
        name="plant_instant",
        period_type="instant",
        columns={"plant_count": "integer", "net_generation": "number"},
    )
    df = construct_table(_facts(spark, filing_dir), spec)
    rows = df.collect()
    assert len(rows) == 1  # i2 has a dim -> excluded
    r = rows[0]
    assert r["date"] == "2021-12-31"
    assert r["plant_count"] == 12
    # fuzzy dedup picked the more precise 5000.55
    assert r["net_generation"] == 5000.55


def test_instant_with_axis(spark, filing_dir):
    spec = TableSpec(
        name="plant_by_region_instant",
        period_type="instant",
        columns={"plant_count": "integer"},
        axes=["region_axis"],
    )
    df = construct_table(_facts(spark, filing_dir), spec)
    rows = {r["region_axis"]: r["plant_count"] for r in df.collect()}
    assert rows == {"total": 12, "west": 7}


def test_pk_columns_and_order(spark, filing_dir):
    spec = TableSpec(
        name="summary_duration",
        period_type="duration",
        columns={"revenue_total": "number"},
        axes=["region_axis"],
    )
    df = construct_table(_facts(spark, filing_dir), spec)
    assert df.columns == [
        "entity_id",
        "filing_name",
        "publication_time",
        "start_date",
        "end_date",
        "region_axis",
        "revenue_total",
    ]


_FACTS_DDL = (
    "filing_name string, c_id string, entity_id string, instant boolean,"
    "start_date string, end_date string, dims map<string,string>,"
    "name string, value string, publication_time timestamp"
)


def _fact_rows(spark, rows):
    """(c_id, dims, name, value) tuples as duration facts of one filing."""
    import datetime

    pub = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            ("f1", c, "E1", False, "2021-01-01", "2021-12-31", dims, n, v, pub)
            for c, dims, n, v in rows
        ],
        _FACTS_DDL,
    )


def test_pivot_after_duplicate_fact_keys(spark):
    """Duplicate (filing_name, c_id, name) facts reach the map pivot only
    after fuzzy dedup has left one row per key: no DUPLICATE_MAP_KEY, one
    row per context, the resolved value (NULL for the unresolvable string
    conflict), and exactly that conflict in the quarantine relation."""
    from ferc_xbrl_extractor_spark.operators.fact_table import (
        construct_table_with_errors,
    )

    one = {"line_axis": "1"}
    facts = _fact_rows(
        spark,
        [
            ("c1", one, "cost", "5.0"),  # exact duplicate
            ("c1", one, "cost", "5.0"),
            ("c1", one, "net", "1.1"),  # precision variant: 1.15 wins
            ("c1", one, "net", "1.15"),
            ("c1", one, "label", "x"),  # string conflict: quarantined
            ("c1", one, "label", "y"),
            ("c2", {"line_axis": "2"}, "cost", "3"),
        ],
    )
    spec = TableSpec(
        name="t",
        period_type="duration",
        columns={"cost": "number", "net": "number", "label": "string"},
        axes=["line_axis"],
    )
    built = construct_table_with_errors(facts, spec)
    rows = built.data.select("line_axis", *spec.data_columns).collect()
    assert sorted(tuple(r) for r in rows) == [
        ("1", 5.0, 1.15, None),
        ("2", 3.0, None, None),
    ]
    errors = built.errors.collect()
    assert [(r["c_id"], r["name"], list(r["values"])) for r in errors] == [
        ("c1", "label", ["x", "y"])
    ]


def _py4j_commands(spark, build) -> list[str]:
    """py4j commands ``build()`` sends, recorded on the gateway client.
    Only the calling thread's commands count, and object-release commands
    do not: py4j sends one whenever a ``JavaObject``'s reference count
    drops to zero, which is garbage collection, not construction."""
    import threading

    from py4j import protocol as proto

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
    caller = threading.get_ident()
    commands: list[str] = []

    def counted(command, *args, **kwargs):
        if threading.get_ident() == caller and not command.startswith(release):
            commands.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        build()
    finally:
        client.send_command = send
    return commands


def test_construction_py4j_budget(spark):
    """Building a table plan costs a bounded number of driver⇄JVM round
    trips, whatever the table's width: the program goes to the JVM as SQL
    text, not as one py4j call per column expression and list element."""
    from ferc_xbrl_extractor_spark.operators.fact_table import (
        construct_table_with_errors,
    )

    facts = _fact_rows(spark, [("c1", {"a0_axis": "x"}, "col_0", "1.5")])
    types = ["number", "integer", "string", "date", "boolean"]
    narrow = TableSpec(
        name="narrow",
        period_type="instant",
        columns={f"col_{i}": types[i % 5] for i in range(4)},
    )
    wide = TableSpec(
        name="wide",
        period_type="duration",
        columns={f"col_{i}": types[i % 5] for i in range(40)},
        axes=["a0_axis", "a1_axis", "a2_axis"],
    )
    for spec in (narrow, wide):
        sent = _py4j_commands(spark, lambda: construct_table_with_errors(facts, spec))
        heads = [c.split("\n")[:3] for c in sent[:5]]
        assert len(sent) <= 100, f"{spec.name}: {len(sent)} py4j commands, first {heads}"
