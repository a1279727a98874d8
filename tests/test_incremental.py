"""G23: incremental fingerprint-index dedup (pipeline/incremental.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from ferc_xbrl_extractor_spark.pipeline.incremental import (
    incremental_dedup,
    index_init,
)


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


@pytest.fixture()
def index_dir(spark, tmp_path):
    d = str(tmp_path / "fpindex")
    hist = _docs(spark, [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon")])
    index_init(spark, d, hist)
    return d


@pytest.mark.slow
def test_increment_dedups_within_batch_and_against_history(spark, index_dir):
    batch = _docs(
        spark,
        [
            (10, "alpha beta"),       # historical dup (exact)
            (11, "  alpha\tbeta "),   # historical dup (whitespace-normalized)
            (12, "zeta eta"),         # fresh
            (13, "zeta eta"),         # batch-internal dup of 12
            (14, "theta"),            # fresh
        ],
    )
    res = incremental_dedup(spark, index_dir, batch, update_index=True)
    got = {r["doc_id"] for r in res.fresh.collect()}
    assert got == {12, 14}
    assert res.n_fresh == 2
    # localCheckpoint-backed; no unpersist needed

    # second increment: batch-1 survivors are now historical
    batch2 = _docs(spark, [(20, "zeta eta"), (21, "iota")])
    res2 = incremental_dedup(spark, index_dir, batch2, update_index=True)
    assert {r["doc_id"] for r in res2.fresh.collect()} == {21}
    assert res2.n_fresh == 1
    # localCheckpoint-backed; no unpersist needed


def test_increment_probe_never_shuffles_the_index(spark, index_dir):
    batch = _docs(spark, [(30, "new text"), (31, "alpha beta")])
    res = incremental_dedup(spark, index_dir, batch, update_index=False)
    plan = res.fresh._jdf.queryExecution().executedPlan().toString()
    # both the historical probe and the anti join must be broadcast joins —
    # a sort-merge join would mean the index got shuffled
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_index_cross_session_fallback_path(spark, index_dir):
    """A session that did not create the index has no catalog entry: the
    probe falls back to the plain parquet path and plain appends, and
    stays correct."""
    from ferc_xbrl_extractor_spark.pipeline.incremental import (
        _index_table,
        _read_index,
    )

    name = _index_table(index_dir)
    spark.sql(f"DROP TABLE IF EXISTS {name}")  # simulate a fresh session

    res = incremental_dedup(
        spark,
        index_dir,
        _docs(spark, [(50, "alpha beta"), (51, "mu nu")]),
    )
    assert {r["doc_id"] for r in res.fresh.collect()} == {51}
    assert res.n_fresh == 1

    # the fallback append landed
    assert _read_index(spark, index_dir).count() == 4  # 3 initial + "mu nu"


def test_mixed_layout_degrades_to_plain_read(spark, index_dir):
    """A session HOLDING the bucketed catalog table must not fail with
    'Invalid bucket file' after another session's plain-parquet fallback
    append mixed un-bucketed files into the directory: _read_index
    detects the un-suffixed file and degrades to the plain read (same
    rows, one keyed exchange more)."""
    import os

    from ferc_xbrl_extractor_spark.pipeline.incremental import (
        _dir_has_unbucketed_files,
        _read_index,
    )
    from ferc_xbrl_extractor_spark.operators.text import fingerprint

    # the freshly-initialized index is all bucket-suffixed files
    assert not _dir_has_unbucketed_files(index_dir)
    names = [
        f
        for _r, _d, fs in os.walk(index_dir)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert names and all("_000" in f for f in names)  # bucket ids present

    # simulate the OTHER session's fallback: plain (un-bucketed) append
    extra = fingerprint(_docs(spark, [(99, "zeta eta")]), "text").select("fp")
    extra.write.mode("append").parquet(index_dir)
    assert _dir_has_unbucketed_files(index_dir)

    # this session still holds the catalog entry, yet the read works and
    # sees all 4 fingerprints (3 initial + the plain-appended one)
    assert _read_index(spark, index_dir).count() == 4
    res = incremental_dedup(
        spark,
        index_dir,
        _docs(spark, [(100, "zeta eta"), (101, "fresh words")]),
        update_index=False,
    )
    assert {r["doc_id"] for r in res.fresh.collect()} == {101}


def test_update_index_false_leaves_index_untouched(spark, index_dir):
    before = spark.read.parquet(index_dir).count()
    batch = _docs(spark, [(40, "brand new doc")])
    res = incremental_dedup(spark, index_dir, batch, update_index=False)
    assert res.fresh.count() == 1
    assert spark.read.parquet(index_dir).count() == before


LONG_A = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
LONG_A_NEAR = "the quick brown fox jumps over the lazy cat near the quiet river bank today"
LONG_B = "colorless green ideas sleep furiously while the committee debates the annual budget line"
LONG_B_NEAR = "colorless green ideas sleep furiously while the committee debates the annual budget plan"
UNIQUE = "entirely unrelated text about parquet partitioning strategies for analytical engines"


@pytest.mark.slow
def test_incremental_neardup_drops_internal_and_historical(spark, tmp_path):
    from ferc_xbrl_extractor_spark.pipeline.incremental import (
        incremental_neardup,
        neardup_index_init,
    )

    d = str(tmp_path / "lsh")
    hist = _docs(spark, [(1, LONG_A), (2, "some other historical doc entirely")])
    neardup_index_init(spark, d, hist)

    batch = _docs(
        spark,
        [
            (10, LONG_A_NEAR),  # near-dup of historical 1
            (11, LONG_B),       # fresh, but 12 is its near-dup
            (12, LONG_B_NEAR),  # internal near-dup of 11 (greedy: 11 wins)
            (13, UNIQUE),       # fresh
        ],
    )
    res = incremental_neardup(spark, d, batch, update_index=True)
    assert {r["doc_id"] for r in res.fresh.collect()} == {11, 13}
    assert {(r["id_a"], r["id_b"]) for r in res.internal_pairs.collect()} == {(11, 12)}
    hist_pairs = {(r["hist_id"], r["new_id"]) for r in res.historical_pairs.collect()}
    assert (1, 10) in hist_pairs

    # increment 2: near-dup of a batch-1 SURVIVOR must now be suppressed
    batch2 = _docs(spark, [(20, LONG_B), (21, "another genuinely new document")])
    res2 = incremental_neardup(spark, d, batch2, update_index=True)
    assert {r["doc_id"] for r in res2.fresh.collect()} == {21}
    # ...and near-dups of batch-1 DROPPED docs were not indexed, so their
    # suppression came from the surviving representative (11), not 12
    assert {r["hist_id"] for r in res2.historical_pairs.collect()} == {11}


def test_incremental_neardup_probe_never_shuffles_the_index(spark, tmp_path):
    from ferc_xbrl_extractor_spark.pipeline.incremental import (
        incremental_neardup,
        neardup_index_init,
    )

    d = str(tmp_path / "lsh2")
    neardup_index_init(spark, d, _docs(spark, [(1, LONG_A)]))
    res = incremental_neardup(
        spark, d, _docs(spark, [(10, LONG_A_NEAR)]), update_index=False
    )
    plan = res.historical_pairs._jdf.queryExecution().executedPlan().toString()
    # the band probe is never shuffled: no exchange keyed on
    # the band join keys (the only exchanges allowed are over the SMALL
    # derived candidate set — hist_id/new_id distinct — and the batch side,
    # both bounded by the increment, not the index).
    assert "hashpartitioning(band_hash" not in plan
    assert "hashpartitioning(band_idx" not in plan
    assert "BroadcastHashJoin" in plan


def test_corpus_diff_statuses(spark):
    from pyspark.sql import functions as F

    from ferc_xbrl_extractor_spark.pipeline.incremental import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (5, "e"), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert out == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",   # present-but-NULL text on both sides
        5: "added",
    }


def test_corpus_diff_null_text_transitions(spark):
    from ferc_xbrl_extractor_spark.pipeline.incremental import corpus_diff

    old = spark.createDataFrame(
        [(1, None), (2, "x")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "now set"), (2, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    # NULL -> value and value -> NULL are CHANGES, not added/removed
    assert out == {1: "changed", 2: "changed"}


def test_corpus_diff_shuffles_digests_not_text(spark):
    from ferc_xbrl_extractor_spark.pipeline.incremental import corpus_diff

    old = spark.range(100).selectExpr(
        "id AS doc_id", "repeat('x', 1000) AS text"
    )
    new = spark.range(100).selectExpr(
        "id AS doc_id", "repeat('x', 1000) AS text"
    )
    plan = (
        corpus_diff(old, new)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # fingerprints must be computed below the join: no raw `text`
    # attribute may survive into the join output
    assert "old_fp" in plan and "new_fp" in plan
    joins = plan.split("Join")[0]
    assert "text" not in joins, joins
