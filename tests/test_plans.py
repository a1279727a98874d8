"""Physical-plan assertions: the scale properties the engine promises.

These pin the *shape* of the plan, not its results — a regression here is
invisible at sf0.01 and catastrophic at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.catalog.tablespec import TableSpec
from ferc_xbrl_extractor_spark.operators import neardup, similarity
from ferc_xbrl_extractor_spark.operators.fact_table import construct_table

from conftest import SF0001, needs_sf0001


def _executed_plan(df) -> str:
    df.collect()  # force AQE to finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints the pre-adaptive plan again under '== Initial Plan ==';
    # only the final plan above it is what actually ran.
    return plan.split("== Initial Plan ==")[0]


@pytest.fixture()
def facts(spark):
    rows = [
        (
            "f1",
            f"c{i}",
            "E1",
            False,
            "2021-01-01",
            "2021-12-31",
            {"line_axis": str(i)},
            "cost",
            str(10.5 + i),
        )
        for i in range(50)
    ]
    return spark.createDataFrame(
        rows,
        "filing_name string, c_id string, entity_id string, instant boolean,"
        "start_date string, end_date string, dims map<string,string>,"
        "name string, value string",
    ).withColumn("publication_time", F.to_timestamp(F.lit("2024-01-01 00:00:00")))


def test_fact_table_single_exchange(facts):
    """The per-table pipeline costs exactly ONE shuffle: the explicit
    repartition(filing_name, c_id). Dedup agg, fuzzy agg, and pivot agg all
    reuse that clustering (HashPartitioning on a subset of their keys)."""
    spec = TableSpec(
        name="t",
        period_type="duration",
        columns={"cost": "number"},
        axes=["line_axis"],
    )
    df = construct_table(facts, spec)
    plan = _executed_plan(df)
    n_exchanges = plan.count("Exchange")
    # AQE may report the same exchange node in reused subtrees; count the
    # shuffle origins instead of substring occurrences when they diverge.
    assert n_exchanges == 1, f"expected 1 Exchange, got {n_exchanges}:\n{plan}"


@pytest.fixture()
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + f" tail{i % 7}") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_join_is_keyed_not_cartesian(docs):
    """MinHash-LSH candidate generation must join on (band_idx, band_hash)
    — never a cartesian/broadcast-nested-loop over the corpus."""
    pairs = neardup.minhash_lsh_pairs(docs, num_hashes=4, bands=2, threshold=0.1)
    plan = _executed_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_join_is_keyed_not_cartesian(docs):
    pairs = neardup.jaccard_pairs(docs, threshold=0.9)
    plan = _executed_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_topk_broadcasts_queries(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 2.0]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk(corpus, queries, k=2)
    plan = _executed_plan(out)
    # queries are the broadcast side: the corpus scan must not shuffle
    # before scoring
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_fact_table_normalizes_before_dedup(spark, facts):
    """'1.0' and '1.00' on a number column are exact duplicates (reference
    CONVERT_DTYPES-before-drop_duplicates), not a precision tie."""
    extra = spark.createDataFrame(
        [
            (
                "f1",
                "cX",
                "E1",
                False,
                "2021-01-01",
                "2021-12-31",
                {"line_axis": "X"},
                "cost",
                "7.50",
            ),
            (
                "f1",
                "cX",
                "E1",
                False,
                "2021-01-01",
                "2021-12-31",
                {"line_axis": "X"},
                "cost",
                "7.5",
            ),
        ],
        facts.schema[:-1],
    ).withColumn("publication_time", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    spec = TableSpec(
        name="t",
        period_type="duration",
        columns={"cost": "number"},
        axes=["line_axis"],
    )
    from ferc_xbrl_extractor_spark.operators.fact_table import (
        construct_table_with_errors,
    )

    built = construct_table_with_errors(extra, spec)
    assert built.errors.count() == 0
    rows = built.data.collect()
    assert len(rows) == 1 and rows[0]["cost"] == 7.5


def test_string_typed_conflicts_quarantined(spark):
    """Numeric-looking conflicts on a *string-typed* column must NOT be
    precision-resolved (reference raises; we quarantine)."""
    facts = spark.createDataFrame(
        [
            ("f1", "c1", "E1", False, "2021-01-01", "2021-12-31", {}, "label", "1.5"),
            ("f1", "c1", "E1", False, "2021-01-01", "2021-12-31", {}, "label", "2.55"),
        ],
        "filing_name string, c_id string, entity_id string, instant boolean,"
        "start_date string, end_date string, dims map<string,string>,"
        "name string, value string",
    ).withColumn("publication_time", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    spec = TableSpec(
        name="t", period_type="duration", columns={"label": "string"}, axes=[]
    )
    from ferc_xbrl_extractor_spark.operators.fact_table import (
        construct_table_with_errors,
    )

    built = construct_table_with_errors(facts, spec)
    assert built.errors.count() == 1
    assert built.data.count() == 0


def test_ivf_search_join_is_broadcast_keyed(spark):
    """The IVF search join must be a broadcast hash join of the tiny probe
    side against the cluster-assigned corpus — the corpus is never
    shuffled or nested-loop joined for the search itself."""
    corpus = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3), 2.0]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") < 3)
    out = similarity.ivf_topk(corpus, queries, k=2, nprobe=2)
    plan = _executed_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_salted_agg_two_exchange_shape(spark):
    """Salted aggregation must plan exactly two exchanges: (key, salt)
    partial, then key final — and the map-side partial of the first
    aggregate is what spreads the hot key."""
    from ferc_xbrl_extractor_spark.operators import analytics

    df = spark.createDataFrame(
        [("hot", float(i), 1.0) for i in range(500)], "k string, a double, b double"
    )
    out = analytics.salted_agg(df, ["k"], ["a", "b"])
    plan = _executed_plan(out)
    assert plan.count("Exchange") == 2, plan
    assert "__salt" in plan


def test_shingle_expression_never_pushed_into_scan(spark, tmp_path):
    """Regression pin for the explode-pushdown trap: plain ``explode``
    makes Catalyst synthesize a ``size(arr) > 0`` filter that predicate
    pushdown substitutes into the parquet scan — evaluating the whole
    shingle expression per document BELOW the parallelizing exchange
    (measured: 27s single-task stage at sf0.1). shingle_table uses
    explode_outer + post-filter, so no text-derived expression may appear
    in the scan's pushed filters."""
    spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 10) for i in range(50)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    st = neardup.shingle_table(docs)
    plan = st._jdf.queryExecution().executedPlan().toString()
    scan_part = plan[plan.index("FileScan"):]
    data_filters = scan_part.split("DataFilters: [")[1].split("]")[0]
    assert "split" not in data_filters, data_filters
    assert "transform" not in data_filters, data_filters


def _count_occurrences(plan: str, needle: str) -> int:
    return plan.count(needle)


def test_tokens_materialized_once_in_neardup_plans(spark):
    """Regression pin for the lambda-substitution trap: an inline token
    array gets substituted into higher-order-function lambdas, re-running
    split() once per shingle position / simhash bit (O(tokens^2) per doc).
    The optimized plans must evaluate split(text) a bounded number of
    times — once per distinct consumer projection, never once per
    element-lambda."""
    docs = spark.createDataFrame(
        [(i, f"w{i} alpha beta gamma delta epsilon") for i in range(20)],
        "doc_id long, text string",
    )
    # jaccard: split appears once per aliased self-join side at most
    jac_plan = neardup.jaccard_pairs(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert _count_occurrences(jac_plan, "split(text") <= 2, jac_plan[:2000]
    # simhash: one split + one md5-transform, NOT one per bit
    sim_plan = neardup.simhash_pairs(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert _count_occurrences(sim_plan, "split(text") <= 2, sim_plan[:2000]
    assert _count_occurrences(sim_plan, "md5(") <= 2, sim_plan[:2000]


def test_minhash_verify_adds_no_aggregate(spark):
    """MinHash verification computes common counts via array_intersect on
    per-doc shingle arrays — the plan between the candidate join and the
    output must contain no groupBy (the old shape re-aggregated the
    exploded shingle table per pair)."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + ("dup " * (i % 2)))
         for i in range(30)],
        "doc_id long, text string",
    )
    out = neardup.minhash_lsh_pairs(docs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # nothing above the verification joins but projections/filters — the
    # old shape had a groupBy(id_a, id_b) count here
    above_joins = plan.split("Join")[0]
    assert "Aggregate" not in above_joins, plan[:3000]
    # and the band self-join's two sides resolve to ONE physical exchange
    # (the logical plan duplicates the subtree; exchange reuse must
    # collapse it so signatures are computed once)
    physical = _executed_plan(out)
    assert "ReusedExchange" in physical, physical[:3000]


def test_input_clustered_table_plan_has_single_exchange(spark, facts):
    """construct_table(input_clustered=True) on a pre-clustered facts
    relation must add ZERO exchanges of its own — the only exchange in the
    whole query is the caller's repartition (e.g. placed before a
    row-multiplying transform, or absent entirely for a bucketed scan)."""
    spec = TableSpec(
        name="t",
        period_type="duration",
        columns={"cost": "number"},
        axes=["line_axis"],
    )
    clustered = facts.repartition(F.col("filing_name"), F.col("c_id"))
    out = construct_table(clustered, spec, input_clustered=True)
    plan = _executed_plan(out)
    n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchanges == 1, plan


@needs_sf0001
def test_flagship_query_plans_one_fused_exchange(spark):
    """The flagship xbrl_fact_pipeline fuses the load-repair shuffle with
    its semantic shuffle: the raw scan is hash-repartitioned on the key
    *expressions* and the ctx projection aliases those same expressions,
    so alias-aware output partitioning satisfies every downstream
    aggregate — exactly ONE Exchange end-to-end (the round-robin repair +
    keyed repartition shape it replaces shipped the rows twice)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["xbrl_fact_pipeline"](spark, SF0001)
    df.count()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n == 1, plan


def test_duplicated_spans_skew_safe_form_is_semi_join(spark, monkeypatch):
    """G26 skew-safe form (what the form probe picks on hot-gram
    corpora): the corpus-frequency filter is a
    map-side-combinable aggregate + semi join — never a count window that
    would single-task a hot gram. The duplicated-gram build side is tiny,
    so AQE broadcasts it (no probe-side shuffle)."""
    from ferc_xbrl_extractor_spark.operators import spans as sp

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j k l") for i in range(20)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(sp, "probe_hot_gram", lambda *a, **k: True)
    plan = _executed_plan(sp.duplicated_spans(docs, n=4))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # no Window over the gram key: the only windows are doc-keyed
    assert "partitionbyg" not in plan.lower().replace(" ", "")


def test_duplicated_spans_window_form_single_gram_evaluation(spark, monkeypatch):
    """G26 window form (what the form probe picks on flat corpora):
    evaluates the positional-gram relation ONCE and contains no join at
    all."""
    from ferc_xbrl_extractor_spark.operators import spans as sp

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j k l") for i in range(20)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(sp, "probe_hot_gram", lambda *a, **k: False)
    plan = _executed_plan(sp.duplicated_spans(docs, n=4))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # one gram-generate only: the explode of the positional gram array
    # appears once (a second Generate would mean double evaluation)
    assert plan.count("Generate explode") == 1


def test_semantic_pairs_join_is_cluster_keyed(spark):
    """G27: within-cluster pair scoring must be an equi-join on the
    cluster id — never a cartesian/nested-loop pass over the corpus."""
    from ferc_xbrl_extractor_spark.operators.similarity import (
        semantic_pairs,
        unit_centroids_from_rows,
    )

    cents = unit_centroids_from_rows([[1.0, 0.0], [0.0, 1.0]])
    df = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float((i * 3) % 5)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    plan = _executed_plan(semantic_pairs(df, cents, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__cluster" in plan


def test_classifier_scoring_is_pure_projection(spark):
    """G28: literal-weight scoring must stay a scan-side projection —
    no shuffle, no join, no Python."""
    from ferc_xbrl_extractor_spark.operators import classifier

    df = spark.createDataFrame(
        [(i, "some text here") for i in range(10)], "doc_id long, text string"
    )
    scored = classifier.score_documents(df, {"uniq_ratio": 1.0}, bias=-0.5)
    plan = _executed_plan(scored)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "PythonUDF" not in plan


def test_budget_select_boundary_window_is_block_bounded(spark, monkeypatch):
    """G48 (r5 review item #2): the boundary bucket's exact running sum
    must never be a single-task window over the raw bucket. With the
    per-task row bound forced below the bucket size, every corpus-side
    window is partitioned by the range-block id (bounded sort per task),
    the range exchange exists, and the selected set still matches brute
    force — block boundaries cannot change a prefix sum over a total
    order."""
    import random

    from ferc_xbrl_extractor_spark.operators import sampling

    monkeypatch.setattr(sampling, "_BUDGET_BLOCK_ROWS", 16)
    rng = random.Random(6)
    rows = [
        (i, rng.randint(1, 9), rng.choice([0.1, 0.2, 0.2, None]))
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, n_tokens long, score double"
    )
    out = sampling.select_to_token_budget(
        df, sum(t for _, t, _ in rows) // 2, score_col="score", num_buckets=4
    )

    def brute(budget):
        order = sorted(
            rows, key=lambda r: (r[2] is None, -(r[2] or 0.0), r[0])
        )
        keep, cum = set(), 0
        for i, t, _s in order:
            if cum < budget:
                keep.add(i)
            cum += t
        return keep

    got = {r["doc_id"] for r in out.collect()}
    assert got == brute(sum(t for _, t, _ in rows) // 2)

    plan = _executed_plan(out)
    assert "rangepartitioning(score" in plan  # contiguous blocks exist
    # every window whose spec touches the score order is block-partitioned;
    # the only unpartitioned window may be the <=n_blocks totals relation
    for line in plan.splitlines():
        if "windowspecdefinition(" in line and "score#" in line:
            assert "__blk" in line, f"unpartitioned corpus window: {line}"


def test_bucketed_dedup_exact_runs_exchange_free(spark):
    """A2 bucketed layout (r5 review item #3): a distinct over a
    write_digest_bucketed table must contain ZERO Exchange nodes — the
    bucketed scan satisfies the digest grouping — and return exactly the
    distinct rows (duplicates injected across partitions)."""
    from ferc_xbrl_extractor_spark.operators import dedup

    rows = [(i % 500, f"v{i % 500}", None if i % 7 == 0 else float(i % 11))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, s string, x double").repartition(8)
    dedup.write_digest_bucketed(df, "bkt_dedup_t", num_buckets=8)
    try:
        out = dedup.dedup_exact_bucketed(spark, "bkt_dedup_t")
        plan = _executed_plan(out)
        assert "Exchange" not in plan, plan
        key = lambda t: (t[0], t[1], t[2] is None, t[2] or 0.0)  # noqa: E731
        got = sorted(((r["k"], r["s"], r["x"]) for r in out.collect()), key=key)
        want = sorted(set(rows), key=key)
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_dedup_t")


def test_scd2_both_windows_share_one_exchange(spark):
    """G83 plan pin: the change-collapse (lag + row_number) and the
    interval close (lead + version) partition on the same key, and the
    filter between them preserves partitioning — so the whole SCD2
    build is ONE hash exchange and ONE sort; a second exchange or sort
    would mean the window specs drifted apart."""
    import datetime as _dt

    from ferc_xbrl_extractor_spark.operators.analytics import scd2_intervals

    rows = [
        (i % 7, _dt.datetime(2024, 1, 1 + (i % 20)), i, f"s{i % 3}")
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = scd2_intervals(
        df, ["user_id"], ts_col="ts", attr_cols=["event_type"],
        order_cols=["event_id"],
    )
    plan = _executed_plan(out)
    assert plan.count("Window") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort") == 1, plan
