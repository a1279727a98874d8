"""Sources: filing scans (S1/S2/S5/F7: zip explode, rssfeed sidecar, name
filter), WARC I/O and the star-table loader."""

from __future__ import annotations

import datetime
import io
import json
import zipfile

import pytest

from ferc_xbrl_extractor_spark.sources.filings import scan_filings

FILING_A = b"<?xml version='1.0'?><root>a</root>"
FILING_B = b"<?xml version='1.0'?><root>b</root>"


@pytest.fixture()
def filing_zip(tmp_path):
    rss = {
        "respondent": [
            {
                "filename": "company_a.xbrl",
                "rss_metadata": {"published_parsed": "2023-04-07T12:30:00-04:00"},
                "taxonomy_zip_name": "form-1_2022-01-01.zip",
            }
        ]
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("company_a.xbrl", FILING_A)
        z.writestr("company_b.xbrl", FILING_B)
        z.writestr("not_a_filing.txt", b"junk")
        z.writestr("rssfeed", json.dumps(rss))
    path = tmp_path / "filings.zip"
    path.write_bytes(buf.getvalue())
    return str(path)


@pytest.mark.slow
def test_zip_scan_with_rssfeed(spark, filing_zip):
    rows = {r["filing_name"]: r for r in scan_filings(spark, filing_zip).collect()}
    assert set(rows) == {"company_a", "company_b"}
    # F7: rssfeed timestamp normalized to naive UTC (16:30 from 12:30-04:00)
    assert rows["company_a"]["publication_time"] == datetime.datetime(
        2023, 4, 7, 16, 30
    )
    assert rows["company_a"]["taxonomy_version"] == "form-1_2022-01-01.zip"
    # filings without an rssfeed entry get no publication time
    assert rows["company_b"]["publication_time"] is None
    assert bytes(rows["company_a"]["content"]) == FILING_A


def test_instance_pattern_prefilter(spark, filing_zip):
    rows = scan_filings(spark, filing_zip, instance_pattern="_a$").collect()
    assert [r["filing_name"] for r in rows] == ["company_a"]


def test_directory_scan_null_publication_time(spark, tmp_path):
    d = tmp_path / "filings"
    d.mkdir()
    (d / "x.xbrl").write_bytes(FILING_A)
    (d / "skip.json").write_bytes(b"{}")
    rows = scan_filings(spark, str(d)).collect()
    assert [r["filing_name"] for r in rows] == ["x"]
    # reference parity: directory scans have NO publication_time (it is part
    # of every PK; mtime would make outputs non-reproducible across copies)
    assert rows[0]["publication_time"] is None


def test_multi_path_scan(spark, tmp_path):
    # CLI surface: nargs='+' filings must all be scanned (a comma-joined
    # string would be one literal path and match nothing)
    d1 = tmp_path / "a"
    d2 = tmp_path / "b"
    d1.mkdir()
    d2.mkdir()
    (d1 / "one.xbrl").write_bytes(FILING_A)
    (d2 / "two.xbrl").write_bytes(FILING_B)
    rows = scan_filings(spark, [str(d1), str(d2)]).collect()
    assert {r["filing_name"] for r in rows} == {"one", "two"}


def test_warc_writer_cluster_contract(spark, tmp_path):
    """S9 r10: write_warc routes through pyarrow.fs (r9 verdict item 1
    — the last executor-local ``open()`` sink). Pins: a ``file://`` URI
    destination resolves and round-trips; the rename commit leaves no
    ``.inprogress`` litter; manifest paths join the CALLER's base; and
    a leftover in-progress dotfile from a dead attempt is invisible to
    scan_warc (binaryFile skips dotfiles), so a crashed writer never
    corrupts a later read."""
    import os

    from ferc_xbrl_extractor_spark.sources.warc import (
        _gzip_member,
        _record_bytes,
        _resolve_fs,
        scan_warc,
        write_warc,
    )

    d = tmp_path / "warc_uri"
    uri = "file://" + str(d)
    docs = spark.createDataFrame(
        [(f"https://ex.org/{i}", f"payload {i}".encode()) for i in range(10)],
        "uri string, payload binary",
    )
    manifest = write_warc(docs, uri, shards=2)
    assert sum(m["n_records"] for m in manifest) == 10
    assert all(m["file"].startswith(uri + "/part-") for m in manifest)
    names = sorted(os.listdir(d))
    assert names == ["part-00000.warc.gz", "part-00001.warc.gz"]

    fs, p = _resolve_fs(str(d))
    assert type(fs).__name__ == "LocalFileSystem" and os.path.isabs(p)

    # a dead attempt's in-progress file must not poison the read side
    (d / ".part-00009.warc.gz.123.inprogress").write_bytes(
        _gzip_member(_record_bytes("https://ghost", b"ghost"))
    )
    back = scan_warc(spark, str(d))
    assert back.count() == 10
    assert back.filter(back.target_uri == "https://ghost").count() == 0


def test_warc_roundtrip_and_corruption(spark, tmp_path):
    """S9 default tier: WARC write→scan round-trip (member-per-record
    gzip framing, UTF-8 payloads incl. multibyte), header parse
    (type/URI/date/content-type), plain multi-record .warc files, and
    the E1 containment contract — a corrupt gzip member skips the rest
    of THAT file only, records already parsed and other files survive
    (cross-engine aggregate equality is the s9_warc_roundtrip oracle,
    hash-green at both scales)."""
    from pyspark.sql import functions as F

    from ferc_xbrl_extractor_spark.sources.warc import (
        WARC_DATE,
        _gzip_member,
        _record_bytes,
        scan_warc,
        write_warc,
    )

    d = str(tmp_path / "warc")
    docs = spark.createDataFrame(
        [(i, f"https://ex.org/d/{i}", f"text {i} é中\nline2".encode())
         for i in range(40)],
        "doc_id long, uri string, payload binary",
    )
    manifest = write_warc(docs, d, shards=3)
    assert sum(m["n_records"] for m in manifest) == 40
    assert len(manifest) == 3

    back = scan_warc(spark, d)
    rows = {r["target_uri"]: r for r in back.collect()}
    assert len(rows) == 40
    r7 = rows["https://ex.org/d/7"]
    assert bytes(r7["payload"]).decode() == "text 7 é中\nline2"
    assert r7["warc_type"] == "resource"
    assert r7["content_type"] == "text/plain"
    assert r7["warc_date"] == WARC_DATE

    # plain (uncompressed) multi-record .warc file
    raw = b"".join(_record_bytes(f"u{i}", f"p{i}".encode()) for i in range(5))
    (tmp_path / "warc" / "plain.warc").write_bytes(raw)
    assert scan_warc(spark, d).count() == 45

    # corruption containment: good member, then garbage — the good
    # record survives, the rest of the file is skipped, other files
    # are untouched
    good = _gzip_member(_record_bytes("https://ok", b"ok"))
    (tmp_path / "warc" / "broken.warc.gz").write_bytes(
        good + b"\x1f\x8b\x08GARBAGE-NOT-A-MEMBER"
    )
    after = scan_warc(spark, d)
    assert after.count() == 46
    assert after.filter(F.col("target_uri") == "https://ok").count() == 1


def test_load_table_repairs_nanos_column_with_backtick_in_name(spark, tmp_path):
    """A TIMESTAMP(NANOS) column is rebuilt as microsecond timestamps with
    the same instants, whatever its name holds (here a backtick)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from ferc_xbrl_extractor_spark.operators.sqltext import raw_col
    from ferc_xbrl_extractor_spark.sources.star import NANOS_CONF, load_table

    ns = [1_700_000_000_123_456_789, 1_000_999, None]
    table = pa.table({"id": [1, 2, 3], "ev`ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(table, str(tmp_path / "ev.parquet"), version="2.6")
    prev = spark.conf.get(NANOS_CONF, None)
    try:
        df = load_table(spark, str(tmp_path), "ev")
        assert df.schema["ev`ts"].dataType == TimestampType()
        us = F.unix_micros(raw_col("ev`ts")).alias("us")
        got = [r["us"] for r in df.orderBy("id").select(us).collect()]
    finally:
        if prev is None:
            spark.conf.unset(NANOS_CONF)
        else:
            spark.conf.set(NANOS_CONF, prev)
    assert got == [1_700_000_000_123_456, 1_000, None]
