"""The one-pass shred over the file listing (``shredder.shred_paths``):
same rows as ``shred_filings(scan_filings(...))``, the instance pattern
tested before a member is read, one Python pass with no exchange, and the
file source's packing as its only parallelism."""

from __future__ import annotations

import collections
import datetime
import io
import json
import re
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.pipeline.extract import extract
from ferc_xbrl_extractor_spark.sources.filings import filings_of, scan_filings
from ferc_xbrl_extractor_spark.sources.shredder import shred_filings, shred_paths

PATTERNS = ["_a$", "filing-[AR]", r"^C\d+", "2021"]


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return buf.getvalue()


def _filing(filing_bytes: bytes, entity: str) -> bytes:
    return filing_bytes.replace(b"E77", entity.encode())


@pytest.fixture(scope="module")
def mixed_dir(tmp_path_factory, filing_bytes) -> str:
    """Two zips and a loose filing. ``with_feed.zip`` has an rssfeed
    (one member listed, one not), a corrupt member whose name passes every
    ``filing-`` pattern, and a non-``.xbrl`` member; ``plain.zip`` has no
    rssfeed and keeps its members in a subdirectory."""
    d = tmp_path_factory.mktemp("mixed")
    feed = {
        "filer": [
            {
                "filename": "filing-A.xbrl",
                "rss_metadata": {"published_parsed": "2023-04-07T10:30:00-04:00"},
                "taxonomy_zip_name": "form-1_2022-01-01.zip",
            }
        ]
    }
    (d / "with_feed.zip").write_bytes(
        _zip_bytes(
            {
                "filing-A.xbrl": _filing(filing_bytes, "EA"),
                "filing-R_2021.xbrl": _filing(filing_bytes, "ER"),
                "filing-A-corrupt.xbrl": b"<xbrli:xbrl unterminated",
                "C123.xbrl": _filing(filing_bytes, "EC"),
                "notes.txt": b"not a filing",
                "rssfeed": json.dumps(feed).encode(),
            }
        )
    )
    (d / "nested").mkdir()
    (d / "nested" / "plain.zip").write_bytes(
        _zip_bytes(
            {
                "sub/company_a.xbrl": _filing(filing_bytes, "CA"),
                "sub/company_b.xbrl": _filing(filing_bytes, "CB"),
            }
        )
    )
    (d / "acme-2021.xbrl").write_bytes(_filing(filing_bytes, "E77"))
    return str(d)


def _multiset(df) -> collections.Counter:
    return collections.Counter(
        tuple(
            tuple(sorted(v.items())) if isinstance(v, dict) else v
            for v in row
        )
        for row in df.collect()
    )


@pytest.mark.parametrize(
    "kwargs", [{}, {"instance_pattern": "filing-[AR]"}], ids=["all", "pattern"]
)
def test_shred_paths_equals_scan_then_shred(spark, mixed_dir, kwargs):
    fused = _multiset(shred_paths(spark, mixed_dir, **kwargs))
    composed = _multiset(shred_filings(scan_filings(spark, mixed_dir, **kwargs)))
    assert fused == composed
    assert sum(fused.values()) > 0


# Expected rows, recorded from ``shred_filings(scan_filings(mixed_dir))``
# before the one-pass shred existed: every filing is the conftest filing
# (5 contexts, 10 facts) under its own entity id.
FILING_META = {
    # rssfeed metadata, normalized to naive UTC (14:30 from 10:30-04:00)
    "filing-A": (datetime.datetime(2023, 4, 7, 14, 30), "form-1_2022-01-01.zip", "EA"),
    # zip members without an rssfeed entry, and loose files, get none
    "filing-R_2021": (None, None, "ER"),
    "C123": (None, None, "EC"),
    "company_a": (None, None, "CA"),
    "company_b": (None, None, "CB"),
    "acme-2021": (None, None, "E77"),
}
REGION_W = {"region_axis": "west"}
REGION_E_COAL = {"region_axis": "east", "fuel_type_axis": "ferc:Coal"}
D, I = ("2021-01-01", "2021-12-31"), (None, "2021-12-31")
FILING_ROWS = sorted(
    [
        ("context", "d1", False, *D, {}, None, None),
        ("context", "d2", False, *D, REGION_W, None, None),
        ("context", "d3", False, *D, REGION_E_COAL, None, None),
        ("context", "i1", True, *I, {}, None, None),
        ("context", "i2", True, *I, REGION_W, None, None),
        ("fact", "d1", False, *D, {}, "operator_name", "Acme Power"),
        ("fact", "d1", False, *D, {}, "report_date", "2021-04-18"),
        ("fact", "d1", False, *D, {}, "revenue_total", "1234.5"),
        ("fact", "d2", False, *D, REGION_W, "revenue_total", "200.25"),
        ("fact", "d2", False, *D, REGION_W, "revenue_total", "200.25"),
        ("fact", "d3", False, *D, REGION_E_COAL, "revenue_total", "99"),
        ("fact", "i1", True, *I, {}, "net_generation", "5000.5"),
        ("fact", "i1", True, *I, {}, "net_generation", "5000.55"),
        ("fact", "i1", True, *I, {}, "plant_count", "12"),
        ("fact", "i2", True, *I, REGION_W, "plant_count", "7"),
    ],
    key=repr,
)


def test_shred_paths_golden_rows(spark, mixed_dir):
    """The corrupt member is skipped, ``notes.txt`` and ``rssfeed`` are no
    filings, and every other filing gives exactly the recorded rows."""
    got = collections.defaultdict(list)
    for r in shred_paths(spark, mixed_dir).collect():
        got[r["filing_name"]].append(r)
    assert set(got) == set(FILING_META)
    for name, (pub, taxo, entity) in FILING_META.items():
        rows = got[name]
        assert {
            (r["publication_time"], r["taxonomy_version"], r["entity_id"],
             r["report_date"])
            for r in rows
        } == {(pub, taxo, entity, "2021-04-18")}, name
        body = sorted(
            (
                (r["record_type"], r["c_id"], r["instant"], r["start_date"],
                 r["end_date"], r["dims"], r["name"], r["value"])
                for r in rows
            ),
            key=repr,
        )
        assert body == FILING_ROWS, name


@pytest.mark.parametrize("pattern", PATTERNS)
def test_instance_pattern_matches_rlike(spark, mixed_dir, pattern):
    """Python ``re.search`` on the name keeps exactly what Spark's
    ``rlike`` on the unfiltered scan keeps."""
    want = sorted(
        r["filing_name"]
        for r in scan_filings(spark, mixed_dir)
        .filter(F.col("filing_name").rlike(pattern))
        .collect()
    )
    assert want, pattern
    scanned = sorted(
        r["filing_name"]
        for r in scan_filings(spark, mixed_dir, instance_pattern=pattern).collect()
    )
    # the corrupt member yields no shredded rows, so compare names it could have
    shredded = sorted(
        r["filing_name"]
        for r in shred_paths(spark, mixed_dir, instance_pattern=pattern)
        .select("filing_name")
        .distinct()
        .collect()
    )
    assert scanned == want
    assert shredded == [n for n in want if n != "filing-A-corrupt"]


@pytest.mark.parametrize("entry", [shred_paths, scan_filings])
def test_java_only_pattern_fails_when_plan_is_built(spark, mixed_dir, entry):
    """The pattern is Python ``re`` syntax: a construct only Java's regex
    accepts is rejected on the driver, naming the syntax, before any job."""
    for pattern in [r"\p{Alpha}", "(?<name>filing)"]:
        with pytest.raises(ValueError, match="not a Python re regular expression"):
            entry(spark, mixed_dir, instance_pattern=pattern)


def test_instance_pattern_tested_before_member_read(monkeypatch):
    members = {
        "company_a.xbrl": b"a",
        "company_b.xbrl": b"b",
        "sub/other_a.xbrl": b"c",
        "rssfeed": b'{"filer": []}',
    }
    listing = pd.DataFrame(
        {"path": ["file:/x/filings.zip"], "content": [_zip_bytes(members)]}
    )
    read: list[str] = []
    real_read = zipfile.ZipFile.read

    def spy(self, name, *a, **kw):
        read.append(name)
        return real_read(self, name, *a, **kw)

    monkeypatch.setattr(zipfile.ZipFile, "read", spy)
    out = list(filings_of(listing, re.compile("_a$")))
    assert [(n, c) for n, c, _, _ in out] == [("company_a", b"a"), ("other_a", b"c")]
    assert read == ["rssfeed", "company_a.xbrl", "sub/other_a.xbrl"]


def test_extract_shred_is_one_python_pass_without_exchange(spark, mixed_dir):
    result = extract(spark, mixed_dir, specs={})
    try:
        assert result.shredded.count() > 0
        plan = result.shredded._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("MapInPandas") == 1, final
        assert "Exchange" not in final, final
        assert "FileScan binaryFile" in final, final
    finally:
        result.shredded.unpersist()


def test_zip_count_sets_shred_parallelism(spark, tmp_path, filing_bytes):
    """N small zips give min(N, cores) partitions: the file source packs
    the listing, with no repartition behind it."""
    cores = spark.sparkContext.defaultParallelism
    for n in sorted({1, 2, cores, 2 * cores}):
        d = tmp_path / f"zips{n}"
        d.mkdir()
        for i in range(n):
            (d / f"year{i:03d}.zip").write_bytes(
                _zip_bytes({f"filing-{i}.xbrl": _filing(filing_bytes, f"E{i}")})
            )
        df = shred_paths(spark, str(d))
        assert df.rdd.getNumPartitions() == min(n, cores), n
        assert df.select("filing_name").distinct().count() == n
