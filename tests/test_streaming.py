"""Streaming surface: the stateful, quality and ingest operators under
readStream must match their batch counterparts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.streaming import (
    run_stream_to_memory,
    stream_asof_enrich,
    stream_dedup_first,
)


def _drain(spark, stream, name, mode="append"):
    q = run_stream_to_memory(stream, name, output_mode=mode)
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


@pytest.mark.slow
def test_stream_dedup_first_single_batch(spark, tmp_path):
    rows = [
        (3, "2024-01-01 00:10:00", "click", "late"),
        (1, "2024-01-01 00:05:00", "click", "first"),
        (2, "2024-01-01 00:05:00", "click", "tie-loser"),  # ts tie -> id wins
        (4, "2024-01-01 00:01:00", "view", "first"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, tag string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    path = str(tmp_path / "in")
    df.write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = stream_dedup_first(
        stream, ["event_type"], "ts", "event_id", ["tag"]
    )
    got = {
        r["event_type"]: (r["event_id"], r["tag"])
        for r in _drain(spark, out, "dedup_single").collect()
    }
    assert got == {"click": (1, "first"), "view": (4, "first")}


@pytest.mark.slow
def test_stream_dedup_state_suppresses_across_batches(spark, tmp_path):
    path = str(tmp_path / "in")
    b1 = spark.createDataFrame(
        [(10, "2024-01-01 00:05:00", "click")],
        "event_id long, ts_s string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    b1.coalesce(1).write.parquet(path)
    # earlier-ts row for the same key arrives in a LATER file: streaming
    # keep-first means the batch-1 survivor stands (state suppresses it)
    b2 = spark.createDataFrame(
        [(9, "2024-01-01 00:00:00", "click"), (20, "2024-01-01 00:06:00", "view")],
        "event_id long, ts_s string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    b2.coalesce(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = stream_dedup_first(stream, ["event_type"], "ts", "event_id", [])
    rows = _drain(spark, out, "dedup_batches").collect()
    got = {r["event_type"]: r["event_id"] for r in rows}
    assert got["view"] == 20
    assert got["click"] in (9, 10)  # whichever file triggered first won
    assert len(rows) == 2  # the other click row was state-suppressed


@pytest.mark.slow
def test_stream_asof_enrich_carries_state_across_batches(spark, tmp_path):
    path = str(tmp_path / "in")
    schema = (
        "side int, user_id long, ts_s string, event_id long, "
        "ref_val long"
    )
    # batch 1: one reference row for user 7
    b1 = spark.createDataFrame([(0, 7, "2024-01-01 00:00:00", None, 100)], schema)
    b1 = b1.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    b1.coalesce(1).write.parquet(path)
    # batch 2: events before/after a newer reference
    b2 = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 00:10:00", 1, None),   # matches ref 100 (state)
            (0, 7, "2024-01-01 00:20:00", None, 200),
            (1, 7, "2024-01-01 00:30:00", 2, None),   # matches ref 200
            (1, 8, "2024-01-01 00:30:00", 3, None),   # no ref at all
        ],
        schema,
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    b2.coalesce(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = stream_asof_enrich(
        stream, "user_id", "ts", ["event_id"], ["ref_val"]
    )
    rows = _drain(spark, out, "asof_batches").collect()
    got = {r["event_id"]: r["ref_val"] for r in rows}
    # file trigger order isn't guaranteed; if batch 2 ran first, event 1
    # sees ref 100 only when batch 1 preceded it
    assert got[2] == 200
    assert got[3] is None
    assert got[1] in (100, None)
    assert len(rows) == 3


@pytest.mark.slow
def test_stream_asof_enrich_late_reference_does_not_regress_state(spark, tmp_path):
    """A reference OLDER than the carried state must neither crash
    merge_asof (unsorted right side) nor roll state back."""
    path = str(tmp_path / "in")
    schema = "side int, user_id long, ts_s string, event_id long, ref_val long"
    b1 = spark.createDataFrame(
        [(0, 7, "2024-01-01 00:20:00", None, 200)], schema
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    b1.coalesce(1).write.parquet(path)
    import time as _time

    _time.sleep(1.1)  # distinct mtimes pin file (= batch) order
    b2 = spark.createDataFrame(
        [
            (0, 7, "2024-01-01 00:10:00", None, 100),  # late, older than state
            (1, 7, "2024-01-01 00:30:00", 1, None),    # must match 200, not 100
        ],
        schema,
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    b2.coalesce(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = stream_asof_enrich(stream, "user_id", "ts", ["event_id"], ["ref_val"])
    rows = _drain(spark, out, "asof_late_ref").collect()
    assert {r["event_id"]: r["ref_val"] for r in rows} == {1: 200}


@pytest.mark.slow
def test_stream_asof_enrich_numeric_time_axis(spark, tmp_path):
    """The stateful as-of also works over a numeric time column
    (versions/sequence numbers), matching the batch asof_join contract."""
    path = str(tmp_path / "in")
    df = spark.createDataFrame(
        [
            (0, 1, 10, None, 100),
            (1, 1, 15, 1, None),
            (0, 1, 20, None, 200),
            (1, 1, 25, 2, None),
        ],
        "side int, k long, t long, event_id long, ref_val long",
    )
    df.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = stream_asof_enrich(stream, "k", "t", ["event_id"], ["ref_val"])
    rows = _drain(spark, out, "asof_numeric").collect()
    assert {r["event_id"]: r["ref_val"] for r in rows} == {1: 100, 2: 200}


def test_stream_filings_dir_matches_batch_shred(spark, tmp_path):
    """Incremental ingestion: a file-source stream over a landing dir,
    drained one filing per microbatch, must produce exactly the rows of
    the batch extract's one-pass shred (same per-filing kernel on both
    sides)."""
    from ferc_xbrl_extractor_spark.sources import shredder
    from ferc_xbrl_extractor_spark.streaming import stream_filings_dir

    xml = """<?xml version="1.0"?>
<xbrli:xbrl xmlns:xbrli="http://www.xbrl.org/2003/instance"
            xmlns:ferc="http://ferc.gov/form/2023-01-01/ferc">
  <xbrli:context id="c_{i}">
    <xbrli:entity><xbrli:identifier scheme="s">E{i}</xbrli:identifier></xbrli:entity>
    <xbrli:period><xbrli:instant>2023-0{i}-01</xbrli:instant></xbrli:period>
  </xbrli:context>
  <ferc:SomeValue contextRef="c_{i}">{v}</ferc:SomeValue>
</xbrli:xbrl>"""
    land = tmp_path / "landing"
    land.mkdir()
    for i in (1, 2, 3):
        (land / f"filing-{i}.xbrl").write_text(
            xml.replace("{i}", str(i)).replace("{v}", str(10 * i))
        )
    # a non-matching file the glob must never open
    (land / "notes.txt").write_text("not xml at all")

    stream = stream_filings_dir(spark, str(land), max_files_per_trigger=1)
    got = _drain(spark, stream, "s8_test").drop("publication_time")

    batch = shredder.shred_paths(spark, str(land)).drop("publication_time")
    key = lambda r: (r["record_type"], r["filing_name"], r["c_id"], r["name"])
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))
    facts = got.filter(F.col("record_type") == "fact").collect()
    assert {(r["c_id"], r["value"]) for r in facts} == {
        ("c_1", "10"), ("c_2", "20"), ("c_3", "30")
    }


def test_gopher_rules_is_stream_safe(spark, tmp_path):
    """G34 on a stream: the rule pack is one stateless projection, so it
    applies unchanged under readStream and equals the batch result."""
    from ferc_xbrl_extractor_spark.operators.text import gopher_rules

    rows = [
        (1, "the quick brown fox and a dog run to the hills in summer " * 3),
        (2, "### ### ### ###"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "docs")
    df.write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = _drain(
        spark,
        gopher_rules(stream, min_words=5, min_stop_hits=1),
        "gopher_stream",
    )
    got = {r["doc_id"]: r["keep"] for r in out.collect()}
    batch = {
        r["doc_id"]: r["keep"]
        for r in gopher_rules(df, min_words=5, min_stop_hits=1).collect()
    }
    assert got == batch == {1: True, 2: False}


@pytest.mark.slow
def test_stream_semantic_decontaminate_matches_batch(spark, tmp_path):
    """The G42 literal-matrix path is a stateless projection, so the SAME
    operator call works unchanged on a readStream source — streaming
    decontamination of an embedding feed against a benchmark set."""
    from pyspark.sql import functions as F

    from ferc_xbrl_extractor_spark.operators import similarity
    from ferc_xbrl_extractor_spark.streaming.windows import (
        run_stream_to_memory,
    )

    bench = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (100, [0.99, 0.01, 0.0, 0.0]),   # ~bench 0 -> contaminated
            (101, [0.0, 0.0, 1.0, 0.0]),     # clean
            (102, [0.01, 0.99, 0.0, 0.0]),   # ~bench 1 -> contaminated
        ],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "emb")
    corpus.write.parquet(path)

    batch = {
        r["vec_id"]: (r["max_bench_sim"], r["contaminated"])
        for r in similarity.semantic_decontaminate(
            corpus, bench, threshold=0.95
        ).collect()
    }

    stream = spark.readStream.schema(corpus.schema).parquet(path)
    out = similarity.semantic_decontaminate(stream, bench, threshold=0.95)
    assert out.isStreaming
    q = run_stream_to_memory(out, "g42_stream_test")
    q.processAllAvailable()
    q.stop()
    streamed = {
        r["vec_id"]: (r["max_bench_sim"], r["contaminated"])
        for r in spark.sql("SELECT * FROM g42_stream_test").collect()
    }
    assert streamed == batch
    assert streamed[100][1] and streamed[102][1] and not streamed[101][1]


@pytest.mark.slow
def test_stream_neardup_suppress_greedy_and_cross_batch(spark, tmp_path):
    from ferc_xbrl_extractor_spark.operators import neardup
    from ferc_xbrl_extractor_spark.streaming.stateful import (
        stream_neardup_suppress,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows_b1 = [
        (1, base),
        (2, base + " extra"),                       # near-dup of 1
        (3, "completely different content entirely unrelated words here"),
    ]
    rows_b2 = [
        (4, base),                                  # dup of 1, later batch
        (5, "another fresh unrelated document body with new words"),
    ]
    schema = "doc_id long, text string"
    path = str(tmp_path / "in")
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.parquet(path)
    spark.createDataFrame(rows_b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = stream_neardup_suppress(
        stream, bits=32, prefix_bits=4, max_hamming=6
    )
    got = _drain(spark, out, "neardup_suppress").collect()
    got_ids = sorted(r["doc_id"] for r in got)

    # In-memory greedy reference over the SAME fingerprints, in batch
    # order then id order (files trigger in write order here).
    all_rows = rows_b1 + rows_b2
    fps = {
        r["doc_id"]: r["fp"]
        for r in spark.createDataFrame(all_rows, schema)
        .select("doc_id", neardup.simhash("text", 32).alias("fp"))
        .collect()
    }
    emitted, state = [], {}
    for batch in (rows_b1, rows_b2):
        for i, _t in sorted(batch):
            fp = fps[i]
            bucket = fp >> 28
            seen = state.setdefault(bucket, [])
            if any(bin(fp ^ s).count("1") <= 6 for s in seen):
                continue
            emitted.append(i)
            seen.append(fp)
    assert got_ids == sorted(emitted)
    # sanity on the fixture itself: a cross-batch near-dup was suppressed
    assert 1 in emitted and 4 not in emitted
    # emitted rows carry the fingerprint column
    assert all(r["fp"] == fps[r["doc_id"]] for r in got)


@pytest.mark.slow
def test_stream_check_constraints_per_window(spark, tmp_path):
    from ferc_xbrl_extractor_spark.operators.quality import (
        completeness,
        in_set,
        mean_between,
        non_negative,
    )
    from ferc_xbrl_extractor_spark.streaming.quality import (
        stream_check_constraints,
    )

    rows = [
        # window 00:00-01:00 — clean
        (1, "2024-01-01 00:10:00", "click", 5.0, "p"),
        (2, "2024-01-01 00:20:00", "view", 7.0, "p"),
        # window 01:00-02:00 — a negative value and a NULL props
        (3, "2024-01-01 01:05:00", "click", -1.0, None),
        (4, "2024-01-01 01:40:00", "bogus", 3.0, "p"),
    ]
    schema = "event_id long, ts_s string, event_type string, value double, props string"
    batch_df = (
        spark.createDataFrame(rows, schema)
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    checks = [
        non_negative("value"),
        completeness("props"),
        mean_between("value", 0.0, 100.0),
        in_set("event_type", ["click", "view"]),
    ]

    # batch form of the same operator (identical plan expressions)
    got_batch = {
        (str(r["window_start"]), r["constraint"]): (r["metric"], r["passed"])
        for r in stream_check_constraints(
            batch_df, "ts", "1 hour", checks
        ).collect()
    }
    w1, w2 = "2024-01-01 00:00:00", "2024-01-01 01:00:00"
    assert got_batch[(w1, "non_negative(value)")] == (5.0, True)
    assert got_batch[(w2, "non_negative(value)")] == (-1.0, False)
    assert got_batch[(w1, "completeness(props)")] == (1.0, True)
    assert got_batch[(w2, "completeness(props)")] == (0.5, False)
    assert got_batch[(w2, "mean_between(value)")] == (1.0, True)
    assert got_batch[(w1, "in_set(event_type)")] == (1.0, True)
    assert got_batch[(w2, "in_set(event_type)")] == (0.5, False)

    # streaming form over the same rows split across two files: the
    # report is identical (batch/stream identity is the module contract)
    path = str(tmp_path / "in")
    batch_df.filter("event_id <= 2").coalesce(1).write.parquet(path)
    batch_df.filter("event_id > 2").coalesce(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = stream_check_constraints(stream, "ts", "1 hour", checks)
    got_stream = {
        (str(r["window_start"]), r["constraint"]): (r["metric"], r["passed"])
        for r in _drain(spark, out, "stream_quality", mode="complete").collect()
    }
    assert got_stream == got_batch


def test_stream_check_constraints_validation(spark):
    import pytest as _pytest

    from ferc_xbrl_extractor_spark.operators.quality import non_negative
    from ferc_xbrl_extractor_spark.streaming.quality import (
        stream_check_constraints,
    )

    df = spark.range(1)
    with _pytest.raises(ValueError, match="empty suite"):
        stream_check_constraints(df, "ts", "1 hour", [])
    with _pytest.raises(ValueError, match="duplicate"):
        stream_check_constraints(
            df, "ts", "1 hour", [non_negative("id"), non_negative("id")]
        )


@pytest.mark.slow
def test_stream_cap_per_key_quota_and_windows(spark, tmp_path):
    from ferc_xbrl_extractor_spark.streaming.stateful import stream_cap_per_key

    schema = "event_id long, ts_s string, event_type string"

    def _df(rows):
        return (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )

    # cross-batch quota carry: cap=2 per key, batch 1 fills the quota,
    # batch 2's same-key rows are rejected even though the batch is new
    path = str(tmp_path / "a")
    _df([(3, "2024-01-01 00:00:03", "click"),
         (1, "2024-01-01 00:00:01", "click"),
         (2, "2024-01-01 00:00:02", "click"),
         (9, "2024-01-01 00:00:01", "view")]).coalesce(1).write.parquet(path)
    _df([(4, "2024-01-01 00:00:04", "click"),
         (10, "2024-01-01 00:00:05", "view")]).coalesce(1).write.mode(
        "append").parquet(path)
    stream = (
        spark.readStream.schema("event_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(path)
    )
    out = stream_cap_per_key(stream, ["event_type"], "ts", "event_id", [], cap=2)
    got = _drain(spark, out, "cap_plain").collect()
    by_key = {}
    for r in got:
        by_key.setdefault(r["event_type"], []).append(r["event_id"])
    # batch 1 sorted by (ts, id): clicks 1, 2 fill the cap; 3 and 4 rejected
    assert sorted(by_key["click"]) == [1, 2]
    assert sorted(by_key["view"]) == [9, 10]

    # windowed quota: cap=1 per (key, 60s window) — quota resets per window
    path2 = str(tmp_path / "b")
    _df([(1, "2024-01-01 00:00:10", "click"),
         (2, "2024-01-01 00:00:20", "click"),      # same window: rejected
         (3, "2024-01-01 00:01:10", "click")]).coalesce(1).write.parquet(path2)
    stream2 = (
        spark.readStream.schema("event_id long, event_type string, ts timestamp")
        .parquet(path2)
    )
    out2 = stream_cap_per_key(
        stream2, ["event_type"], "ts", "event_id", [],
        cap=1, window_ms=60_000,
    )
    ids2 = sorted(r["event_id"] for r in _drain(spark, out2, "cap_win").collect())
    assert ids2 == [1, 3]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="cap"):
        stream_cap_per_key(stream2, ["event_type"], "ts", "event_id", [], cap=0)


def _hh_feed(spark, tmp_path, batches, **kw):
    from ferc_xbrl_extractor_spark.streaming.stateful import (
        stream_heavy_hitters,
    )
    path = str(tmp_path / f"hh_{abs(hash(str(batches) + str(kw)))}")
    schema = "k string, n long"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = stream_heavy_hitters(stream, "k", **kw)
    name = f"hh{abs(hash(str(batches) + str(kw)))}"
    got = _drain(spark, out, name, mode="update").collect()
    # update mode re-emits per batch; per-key counts are monotone
    # (an evicted counter only ever re-enters at or above its old
    # value), so the final summary is the max emission per key
    final: dict = {}
    for r in got:
        if r["key"] not in final or r["n_est"] > final[r["key"]][0]:
            final[r["key"]] = (r["n_est"], r["err_max"])
    return final


@pytest.mark.slow
def test_stream_heavy_hitters_exact(spark, tmp_path):
    """G74 default tier: exact counts with zero error when capacity
    covers the shard's keys (the gate oracle's configuration), plus
    validation; eviction and cross-batch accumulation run in the slow
    twin."""
    from ferc_xbrl_extractor_spark.streaming.stateful import (
        stream_heavy_hitters,
    )

    rows = [("a", 1)] * 5 + [("b", 1)] * 3 + [("c", 1)] * 1
    got = _hh_feed(spark, tmp_path, [rows], capacity=16, num_shards=2)
    assert got == {"a": (5, 0), "b": (3, 0), "c": (1, 0)}

    with pytest.raises(ValueError, match="capacity"):
        stream_heavy_hitters(
            spark.readStream.schema("k string, n long").parquet(
                str(tmp_path)
            ),
            "k",
            capacity=0,
        )


@pytest.mark.slow
def test_stream_heavy_hitters_eviction_and_crossbatch(spark, tmp_path):
    """G74 slow twin: eviction replays the documented in-memory merge;
    cross-batch accumulation stays exact."""
    got = _hh_feed(spark, tmp_path,
                   [[("a", 1)] * 7 + [("b", 1)] * 2,
                    [("a", 1)] * 3 + [("c", 1)] * 4],
                   capacity=16, num_shards=2)
    assert got == {"a": (10, 0), "b": (2, 0), "c": (4, 0)}

    # eviction: capacity 2, one shard — replay the documented merge
    # (batch keys in (count desc, key asc) order, evict (count, key)-min)
    batch = [("a", 1)] * 6 + [("b", 1)] * 4 + [("c", 1)] * 3 + [("d", 1)]
    got = _hh_feed(spark, tmp_path, [batch], capacity=2, num_shards=1)
    # merge order a(6), b(4), c(3), d(1): a,b fill; c evicts b(4)->7 err 4;
    # d evicts a(6)->7 err 6
    assert got == {"c": (7, 4), "d": (7, 6)}
    # SpaceSaving guarantee held: every estimate >= true count of its key
    assert got["c"][0] >= 3 and got["d"][0] >= 1


@pytest.mark.slow
def test_stream_funnel_single_batch_and_crossbatch(spark, tmp_path):
    """G79: streaming funnel — a single batch equals the batch
    window_funnel exactly (same fixture as the G75 goldens); across
    batches committed reach times are final and later batches extend;
    no-progress batches emit nothing; validation."""
    from ferc_xbrl_extractor_spark.streaming.stateful import stream_funnel

    schema = "user_id long, ts_s string, event_type string"

    def _write(path, rows, append=False):
        df = (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )
        df.coalesce(1).write.mode("append" if append else "overwrite").parquet(
            path
        )
        return df.schema

    rows = [
        (1, "2024-01-01 00:00:00", "signup"),
        (1, "2024-01-02 00:00:00", "click"),
        (1, "2024-01-03 00:00:00", "purchase"),
        # NULL event time: batch window_funnel's min() skips it; the
        # stream must too (NaT would otherwise commit as a "minimum")
        (1, None, "signup"),
        (9, None, "signup"),  # user 9's ONLY event: absent from result
        (2, "2024-01-01 00:00:00", "signup"),
        (2, "2024-01-03 00:00:00", "click"),
        (2, "2024-01-02 00:00:00", "purchase"),  # before click: stops at 2
        (5, "2024-01-01 00:00:00", "signup"),
        (5, "2024-01-02 00:00:00", "click"),
        (5, "2024-01-09 00:00:00", "purchase"),  # beyond 3-day window
    ]
    p1 = str(tmp_path / "f1")
    sch = _write(p1, rows)
    stream = spark.readStream.schema(
        "user_id long, event_type string, ts timestamp"
    ).parquet(p1)
    out = stream_funnel(
        stream, ["signup", "click", "purchase"],
        window_ms=3 * 86_400_000,
    )
    got = {
        r["user"]: (r["steps_reached"], str(r["t_first"]), str(r["t_last"]))
        for r in _drain(spark, out, "funnel1", mode="update").collect()
    }
    assert got == {
        "1": (3, "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
        "2": (2, "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
        "5": (2, "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
    }  # no "9": NULL-ts events are dropped, not NaT-committed

    # cross-batch: batch 1 commits signup; batch 2 extends with click +
    # purchase; a late batch-2 signup EARLIER than the committed one is
    # not retroactively applied (documented greedy-monotone contract)
    p2 = str(tmp_path / "f2")
    _write(p2, [(7, "2024-01-05 00:00:00", "signup")])
    _write(p2, [(7, "2024-01-01 00:00:00", "signup"),   # late, ignored
                (7, "2024-01-06 00:00:00", "click"),
                (7, "2024-01-07 00:00:00", "purchase")], append=True)
    stream2 = (
        spark.readStream.schema(
            "user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(p2)
    )
    out2 = stream_funnel(stream2, ["signup", "click", "purchase"])
    rows2 = _drain(spark, out2, "funnel2", mode="update").collect()
    # two emissions for user 7 (one per batch); the final chain anchors
    # on the COMMITTED Jan 5 signup, not the late Jan 1 one
    final = max(
        (r for r in rows2 if r["user"] == "7"),
        key=lambda r: r["steps_reached"],
    )
    assert final["steps_reached"] == 3
    assert str(final["t_first"]) == "2024-01-05 00:00:00"
    assert str(final["t_last"]) == "2024-01-07 00:00:00"

    with pytest.raises(ValueError, match="at least 2"):
        stream_funnel(stream2, ["signup"])
    with pytest.raises(ValueError, match="distinct"):
        stream_funnel(stream2, ["signup", "signup"])
