"""Fuzzy dedup goldens (reference tests/unit/datapackage_test.py:139-192)."""

import pytest

from ferc_xbrl_extractor_spark.operators.dedup import (
    dedup_exact,
    fuzzy_dedup,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "c_id string, name string, value string")


@pytest.mark.slow
def test_fuzzy_picks_most_precise(spark):
    df = _df(
        spark,
        [
            ("a", "cost", "1.0"),
            ("a", "cost", "1.1"),
            ("b", "cost", "2.0"),
            ("b", "cost", "2.1"),
            ("b", "cost", "2.15"),
            ("c", "cost", "3.0"),  # singleton passes through untouched
        ],
    )
    res = fuzzy_dedup(df, ["c_id", "name"])
    got = {r["c_id"]: r["value"] for r in res.resolved.collect()}
    assert got == {"a": "1.1", "b": "2.15", "c": "3.0"}
    assert res.errors.count() == 0


@pytest.mark.slow
def test_fuzzy_tie_is_error(spark):
    df = _df(spark, [("a", "cost", "1.1"), ("a", "cost", "1.2")])
    res = fuzzy_dedup(df, ["c_id", "name"])
    assert res.resolved.count() == 0
    err = res.errors.first()
    assert sorted(err["values"]) == ["1.1", "1.2"]


@pytest.mark.slow
def test_fuzzy_string_conflict_is_error(spark):
    df = _df(spark, [("a", "job", "accountant"), ("a", "job", "pringle")])
    res = fuzzy_dedup(df, ["c_id", "name"])
    assert res.resolved.count() == 0
    assert res.errors.count() == 1


def test_exact_dedup_before_fuzzy(spark):
    # identical repeated values are exact dups, not conflicts
    df = _df(spark, [("a", "cost", "5.0"), ("a", "cost", "5.0")])
    res = fuzzy_dedup(dedup_exact(df), ["c_id", "name"])
    assert res.errors.count() == 0
    assert [r["value"] for r in res.resolved.collect()] == ["5.0"]


def test_fuzzy_integers_unresolvable(spark):
    # all-integer distinct values never isolate at any probe precision
    df = _df(spark, [("a", "n", "1"), ("a", "n", "2")])
    res = fuzzy_dedup(df, ["c_id", "name"])
    assert res.resolved.count() == 0
    assert res.errors.count() == 1


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over pair graphs
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from ferc_xbrl_extractor_spark.operators.neardup import (  # noqa: E402
    attach_clusters,
    connected_components,
    dedup_by_pairs,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_cc_two_components(spark):
    labels = connected_components(_pairs(spark, [(1, 2), (2, 3), (10, 11)]))
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


@pytest.mark.slow
def test_cc_chain_needs_iterations(spark):
    # A 7-node path: the min label must travel 6 hops, exercising the
    # multi-round propagation (one round would only move it one hop).
    # Below the diameter's round budget it reports non-convergence.
    from ferc_xbrl_extractor_spark.operators.neardup import _propagate_labels

    chain = _pairs(spark, [(i, i + 1) for i in range(1, 7)])
    labels = _propagate_labels(chain, "id_a", "id_b", max_rounds=25)
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == {i: 1 for i in range(1, 8)}
    assert _propagate_labels(chain, "id_a", "id_b", max_rounds=4) is None


def test_cc_matches_union_find(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(40))
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(45)})

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    expected = {
        n: min(members) for members in comp.values() for n in members
        if len(members) > 1 or any(n in e for e in edges)
    }
    in_graph = {n for e in edges for n in e}
    expected = {n: lab for n, lab in expected.items() if n in in_graph}

    labels = connected_components(_pairs(spark, edges))
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == expected


def test_cc_unconverged_raises(spark):
    chain = [(i, i + 1) for i in range(1, 7)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_pairs(spark, chain), max_iter=2)


def _cc_both_forms_agree(spark, edges):
    from ferc_xbrl_extractor_spark.operators.neardup import (
        _propagate_labels,
        connected_components_twophase,
    )

    propagated = _propagate_labels(
        _pairs(spark, edges), "id_a", "id_b", max_rounds=50
    )
    want = {r["id"]: r["label"] for r in propagated.collect()}
    got = {
        r["id"]: r["label"]
        for r in connected_components_twophase(_pairs(spark, edges)).collect()
    }
    assert got == want, edges[:5]


@pytest.mark.slow
def test_cc_twophase_matches_propagation(spark):
    """Large-star/small-star contraction yields the SAME label map as
    min-label propagation on a chain, a clique, and a graph with a
    self-pair — the opt-in form for high-diameter dup graphs."""
    cases = [
        [(i, i + 1) for i in range(1, 12)],                     # chain
        [(a, b) for a in range(5) for b in range(a + 1, 5)],    # clique
        [(1, 2), (2, 3), (10, 11), (20, 20)],                   # + self-pair
    ]
    for edges in cases:
        _cc_both_forms_agree(spark, edges)


@pytest.mark.slow
def test_cc_twophase_matches_propagation_random_graph(spark):
    """Same equality on a seeded 50-node random graph (the two full CC
    runs make this the slow half of the comparison)."""
    import random

    rng = random.Random(11)
    nodes = list(range(50))
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(55)})
    _cc_both_forms_agree(spark, edges)


@pytest.mark.slow
def test_cc_twophase_chain_converges_in_log_rounds(spark):
    """A diameter-1000 chain — the shape that multiplies propagation
    rounds into the thousands — converges in O(log n) alternations: with
    ``max_iter`` at log2(1000) ~ 10 plus slack and the confirming round,
    it raises unless it converges in time."""
    from ferc_xbrl_extractor_spark.operators.neardup import (
        connected_components_twophase,
    )

    chain = [(i, i + 1) for i in range(1, 1001)]
    labels = connected_components_twophase(_pairs(spark, chain), max_iter=15)
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == {i: 1 for i in range(1, 1002)}


def test_chain_graph_dedup_with_defaults(spark, contraction_calls):
    """A chain-shaped dup graph longer than the propagation probe: the
    default consumers finish it on star contraction instead of raising
    after the propagation round budget."""
    chain = [(i, i + 1) for i in range(1, 40)]  # 40-node path, diameter 39
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 45)], "doc_id long, text string"
    )
    kept = dedup_by_pairs(docs, _pairs(spark, chain))
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 41, 42, 43, 44]
    clustered = {
        r["doc_id"]: r["cluster"]
        for r in attach_clusters(docs, _pairs(spark, chain)).collect()
    }
    assert clustered == {i: 1 if i <= 40 else i for i in range(1, 45)}
    assert len(contraction_calls) == 2  # one per consumer call


def test_cc_probe_failure_is_not_nonconvergence(
    spark, monkeypatch, contraction_calls
):
    """A failure inside the propagation probe's Spark actions (on Spark 4,
    PySparkRuntimeError subclasses RuntimeError) propagates; it is never
    mistaken for non-convergence and retried on star contraction."""
    from pyspark.errors import PySparkRuntimeError

    from ferc_xbrl_extractor_spark.operators import neardup

    def failing_probe(*args, **kwargs):
        raise PySparkRuntimeError(message="probe failed")

    monkeypatch.setattr(neardup, "_propagate_labels", failing_probe)
    with pytest.raises(PySparkRuntimeError, match="probe failed"):
        connected_components(_pairs(spark, [(1, 2)]))
    assert contraction_calls == []


@pytest.mark.slow
def test_cc_dispatch_value_identity(spark, contraction_calls):
    """The one entry point: a clique-ish graph converges inside the
    propagation probe and never starts star contraction; a chain longer
    than the probe's round budget does — value-identical labels either
    way, so callers never have to know their pair graph's shape."""
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    got_clique = {
        r["id"]: r["label"]
        for r in connected_components(_pairs(spark, clique)).collect()
    }
    assert got_clique == {i: 0 for i in range(5)}
    assert contraction_calls == []

    # diameter 7 > the 4 probe rounds: propagation CANNOT converge in the
    # probe, so this exercises the restart-on-contraction path (expected
    # labels are closed-form for a chain: everything -> the min node)
    chain = [(i, i + 1) for i in range(1, 8)]
    got_chain = {
        r["id"]: r["label"]
        for r in connected_components(_pairs(spark, chain)).collect()
    }
    assert got_chain == {i: 1 for i in range(1, 9)}
    assert len(contraction_calls) == 1

    # the consumers reach the same entry point (the in-probe clique path;
    # the chain path is pinned by test_chain_graph_dedup_with_defaults)
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(5)], "doc_id long, text string"
    )
    kept = dedup_by_pairs(docs, _pairs(spark, clique))
    assert sorted(r["doc_id"] for r in kept.collect()) == [0]
    clustered = attach_clusters(docs, _pairs(spark, clique))
    assert {r["cluster"] for r in clustered.collect()} == {0}
    assert len(contraction_calls) == 1


@pytest.mark.slow
def test_neardup_recall_report(spark):
    """G2 recall loop (VERDICT r7 #6): exact duplicates are caught by
    every band and every SimHash bucket, so recall at their threshold is
    1.0; the sample is plan-bounded (TakeOrderedAndProject, never a
    global sort); zero-truth thresholds report NULL recall; validation
    raises on empty thresholds."""
    from ferc_xbrl_extractor_spark.operators.neardup import (
        neardup_recall_report,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = (
        [(1, base), (2, base), (3, base)]       # exact-dup triple
        + [(4, base + " extra word tail")]      # near miss
        + [(i, f"unique text {i} " + " ".join(
            f"w{i}{j}" for j in range(10))) for i in range(5, 9)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rep = neardup_recall_report(
        docs, thresholds=(0.5, 0.999), sample_n=100
    )
    got = {
        (r["method"], r["threshold"]): r for r in rep.collect()
    }
    assert set(got) == {
        ("minhash_lsh", 0.5), ("minhash_lsh", 0.999),
        ("simhash", 0.5), ("simhash", 0.999),
    }
    for method in ("minhash_lsh", "simhash"):
        r = got[(method, 0.999)]
        # truth at 0.999 = the 3 exact-dup pairs; both methods catch
        # identical docs always -> recall 1.0
        assert r["n_true"] == 3 and r["n_hit"] == 3 and r["recall"] == 1.0
        assert r["n_cand"] >= r["n_hit"]
        lo = got[(method, 0.5)]
        assert lo["n_true"] >= 3 and 0.0 <= lo["recall"] <= 1.0
        assert lo["precision"] is None or 0.0 <= lo["precision"] <= 1.0

    # sample bound is a TakeOrderedAndProject (per-partition heaps),
    # not a global sort; pinned on the pre-checkpoint seam — the
    # operator's own plan hides it behind the checkpoint's ExistingRDD
    from ferc_xbrl_extractor_spark.operators.neardup import _recall_sample

    plan = (
        _recall_sample(docs, "doc_id", "text", 100, "g2recall")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="thresholds"):
        neardup_recall_report(docs, thresholds=())


def test_dedup_by_pairs_keeps_min_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = _pairs(spark, [(0, 1), (1, 2), (4, 5)])
    kept = sorted(r["doc_id"] for r in dedup_by_pairs(docs, pairs).collect())
    assert kept == [0, 3, 4]

    clustered = attach_clusters(docs, pairs)
    got = {r["doc_id"]: r["cluster"] for r in clustered.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}
