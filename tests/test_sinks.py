"""Sinks: parquet staging read back by the SQLite and DuckDB sinks,
datapackage descriptor types, multimodal frame-sampling plumbing."""

from __future__ import annotations

from ferc_xbrl_extractor_spark.catalog.tablespec import TableSpec
from ferc_xbrl_extractor_spark.operators import multimodal
from ferc_xbrl_extractor_spark.pipeline.sinks import (
    datapackage_descriptor,
    write_parquet,
)


def test_descriptor_declares_date_pk_types():
    spec = TableSpec(
        name="t_duration",
        period_type="duration",
        columns={"cost": "number"},
        axes=["line_axis"],
    )
    doc = datapackage_descriptor({"t_duration": spec})
    fields = {f["name"]: f["type"] for f in doc["resources"][0]["schema"]["fields"]}
    assert fields["start_date"] == "date"
    assert fields["end_date"] == "date"
    assert fields["publication_time"] == "datetime"
    assert fields["entity_id"] == "string"
    assert fields["line_axis"] == "string"
    assert fields["cost"] == "number"


def test_staging_roundtrip_with_quote_in_path(spark, tmp_path):
    # The DB sinks read the staged parquet back, also from a directory
    # whose name holds a single quote (DuckDB takes the path as a string
    # literal); a table never staged counts 0 rows.
    import sqlite3

    import duckdb

    from ferc_xbrl_extractor_spark.pipeline.sinks import (
        staged_row_counts,
        write_duckdb,
        write_sqlite,
    )

    df = spark.createDataFrame(
        [("f1", 1, 10.0), ("f1", 2, 20.0), ("f2", 3, 30.0)],
        "filing_name string, k int, v double",
    )
    staging = tmp_path / "o'brien"
    write_parquet({"t": df}, str(staging))
    assert staged_row_counts(str(staging), ["t", "missing"]) == {
        "t": 3,
        "missing": 0,
    }
    want = [("f1", 1, 10.0), ("f1", 2, 20.0), ("f2", 3, 30.0)]

    write_sqlite({"t": df}, str(staging / "out.sqlite"), staging_dir=str(staging))
    conn = sqlite3.connect(staging / "out.sqlite")
    rows = conn.execute("SELECT filing_name, k, v FROM t ORDER BY k").fetchall()
    conn.close()
    assert rows == want

    write_duckdb({"t": df}, str(staging / "out.duckdb"), staging_dir=str(staging))
    con = duckdb.connect(str(staging / "out.duckdb"))
    rows = con.sql("SELECT filing_name, k, v FROM t ORDER BY k").fetchall()
    con.close()
    assert rows == want


def test_frame_sample_plan(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"v"), ("video", "video/mp4", None, None, 2500))],
        "media_id long, content binary, "
        "meta struct<media_type:string,mime:string,width:int,height:int,duration_ms:bigint>",
    )
    samples = multimodal.frame_sample_plan(media, every_ms=1000).collect()
    got = sorted((r["media_id"], r["sample_ms"]) for r in samples)
    assert got == [(1, 0), (1, 1000), (1, 2000)]


def test_descriptor_structural_validation_always_runs():
    # E5: the structural self-check must fail loudly WITHOUT frictionless
    # (reference hard-fails on an invalid descriptor, cli.py:226-229).
    import pytest

    from ferc_xbrl_extractor_spark.pipeline.sinks import validate_descriptor

    spec = TableSpec(
        name="t",
        period_type="duration",
        columns={"cost": "number"},
        axes=[],
    )
    good = datapackage_descriptor({"t": spec})
    validate_descriptor(good)  # sane descriptor passes

    pk_not_in_fields = datapackage_descriptor({"t": spec})
    pk_not_in_fields["resources"][0]["schema"]["primaryKey"] = ["nope"]
    with pytest.raises(RuntimeError, match="primaryKey.*not in fields"):
        validate_descriptor(pk_not_in_fields)

    bad_type = datapackage_descriptor({"t": spec})
    bad_type["resources"][0]["schema"]["fields"][0]["type"] = "varchar"
    with pytest.raises(RuntimeError, match="illegal[\\s\\S]*type"):
        validate_descriptor(bad_type)

    no_path = datapackage_descriptor({"t": spec})
    del no_path["resources"][0]["path"]
    with pytest.raises(RuntimeError, match="missing path"):
        validate_descriptor(no_path)

    with pytest.raises(RuntimeError, match="no resources"):
        validate_descriptor({"resources": []})

    # base_dir: parquet resource paths must exist on disk
    pq = datapackage_descriptor({"t": spec}, flavor="parquet")
    with pytest.raises(RuntimeError, match="not found"):
        validate_descriptor(pq, base_dir="/nonexistent-dir")


def test_single_file_parquet_is_a_plain_file(spark, tmp_path):
    # K3 single-file parity with reference cli.py:191-207: the output is a
    # FILE a non-dataset-aware consumer can open() directly.
    import pyarrow.parquet as pq

    from ferc_xbrl_extractor_spark.pipeline.sinks import stage_and_sink

    df = spark.createDataFrame(
        [("e1", 1.0), ("e2", 2.0)], "entity_id string, cost double"
    ).repartition(4)
    out = tmp_path / "out"
    out.mkdir()
    counts = stage_and_sink({"t": df}, output_dir=str(out), single_file=True)
    assert counts["t"] == 2
    target = out / "t.parquet"
    assert target.is_file()  # not a directory of part files
    f = pq.ParquetFile(str(target))  # plain file reader, no dataset API
    assert f.metadata.num_rows == 2


def test_unresolved_taxonomy_type_warns_and_records(caplog):
    import logging

    from ferc_xbrl_extractor_spark.catalog.taxonomy_xml import TaxonomyVersion

    v = TaxonomyVersion()
    v.type_bases["customItemType"] = "mysteryRemoteItemType"
    with caplog.at_level(logging.WARNING):
        assert v.base_type("customItemType") == "string"
    assert "mysteryRemoteItemType" not in v.type_bases
    assert v.unresolved_types == {"customItemType"}
    assert any("does not resolve" in r.message for r in caplog.records)
    # resolvable chains stay silent and exact
    v2 = TaxonomyVersion()
    v2.type_bases["customMonetary"] = "monetaryItemType"
    assert v2.base_type("customMonetary") == "decimal"
    assert v2.unresolved_types == set()


def test_extra_type_bases_resolves_remote_types(tmp_path):
    # Remote-DTS boundary: a type defined only in an unshipped remote
    # schema resolves via the user-supplied extra_type_bases hook and
    # stays silent; without the hook it warns and records.
    import io
    import zipfile

    from ferc_xbrl_extractor_spark.catalog.taxonomy_xml import (
        parse_taxonomy_archive,
    )

    xsd = b"""<?xml version="1.0"?>
    <xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
               xmlns:xbrli="http://www.xbrl.org/2003/instance">
      <xs:element name="RemoteCost" id="ferc_RemoteCost"
                  type="remote:specialMonetaryItemType"
                  xbrli:periodType="duration"/>
    </xs:schema>"""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("form1.xsd", xsd)

    with_hook = parse_taxonomy_archive(
        buf.getvalue(), extra_type_bases={"specialMonetaryItemType": "monetaryItemType"}
    )["0000-00-00"]
    c = with_hook.concepts_by_name["RemoteCost"]
    assert with_hook.base_type(c.type_local) == "decimal"
    assert with_hook.unresolved_types == set()

    without = parse_taxonomy_archive(buf.getvalue())["0000-00-00"]
    assert without.base_type("specialMonetaryItemType") == "string"
    assert without.unresolved_types == {"specialMonetaryItemType"}
