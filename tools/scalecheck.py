"""Scale harness: time package operators on inputs one to three decades
past the gate fixtures, with correctness asserted INSIDE the measured
runs (a scale number without an in-run identity check is a number about
nothing). Each case prints one JSON line; its ``"record"`` key (where it
has one) names it in older records. Inputs are synthesized in-plan or
land in /tmp; nothing is written to the repo.

Usage: python tools/scalecheck.py <case>
  With no case, or an unknown one, it lists the cases and exits 1.
  Run one case at a time and no other Spark process beside it: each
  session sizes its driver heap to 60 % of RAM.

Timing, every case: one untimed warm run (shuffle machinery, codegen) —
or the case's own untimed check run — then the best of 2 timed runs
(1 for ``connected_components``), matching bench.py. ``text_ops`` and
``pair_graph`` read the sf0.1 fixture from ``SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ferc_xbrl_extractor_spark.operators import (  # noqa: E402
    analytics,
    classifier,
    graph,
    labels,
    neardup,
    sampling,
    similarity,
    spans,
    text,
    vocab,
)
from ferc_xbrl_extractor_spark.pipeline import incremental  # noqa: E402
from ferc_xbrl_extractor_spark.session import get_spark  # noqa: E402


def timeit(fn, reps: int = 2, warm: bool = True) -> float:
    """Best wall time of ``reps`` calls of ``fn``, in s to the ms, after
    one untimed warm call unless the caller's check run already warmed it."""
    if warm:
        fn()
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def hub_graph(spark, n_edges: int):
    """~50% of edges leave node 0 (the hub); the rest form a ring over
    nodes 1..k so every node exists on both sides."""
    k = n_edges // 2
    hub = spark.range(1, k + 1).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    ring = spark.range(1, k + 1).select(
        F.col("id").alias("src"), (F.col("id") % k + 1).alias("dst")
    )
    return hub.unionByName(ring).repartition(32)


def _sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# ---------------------------------------------------------------------------
# text_ops: the per-token text/embedding operators, sf0.1 → 10×
# ---------------------------------------------------------------------------


def build_10x(spark, src: str, path: str) -> None:
    docs = spark.read.parquet(src)
    big = (
        docs.withColumn("__copy", F.explode(F.sequence(F.lit(0), F.lit(9))))
        .select(
            (F.col("doc_id") * 10 + F.col("__copy")).alias("doc_id"),
            F.concat_ws(
                " ", "text", F.concat(F.lit("salt"), F.col("__copy"))
            ).alias("text"),
            "lang",
            "source",
        )
        .repartition(32)
    )
    big.write.mode("overwrite").parquet(path)


def build_10x_emb(spark, src: str, path: str) -> None:
    emb = spark.read.parquet(src)
    big = (
        emb.withColumn("__copy", F.explode(F.sequence(F.lit(0), F.lit(9))))
        .select(
            (F.col("vec_id") * 10 + F.col("__copy")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: x.cast("double") + F.col("__copy") * 0.001,
            ).alias("embedding"),
            "label",
        )
        .repartition(32)
    )
    big.write.mode("overwrite").parquet(path)


def _diff_case(df):
    """Snapshot-diff decade case: v2 edits every 7th doc, drops every
    13th, so the diff is non-trivial at both scales."""
    v2 = df.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 1, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return incremental.corpus_diff(df, v2).count()


def _window_form_spans_count(df) -> int:
    """G26 window form, reached by making the form probe see no hot gram."""
    with mock.patch.object(spans, "probe_hot_gram", return_value=False):
        return spans.duplicated_spans(df, n=8).count()


def text_ops(spark) -> dict:
    """Second-axis scale evidence: time the heavyweight text/embedding
    operators on a synthesized 10× corpus (50k docs from sf0.1's 5k, ids
    remapped, one per-copy salt token appended so copies are near- but not
    exact duplicates), alongside the sf0.1 numbers.

    The bench suite already records an sf0.01→sf0.1 slope per query; this
    case extends the axis one more decade for the operators whose cost is
    dominated by per-token work (span detection, shingling, vocab build,
    classifier scoring) — the ones whose 100-TB behavior the slope argues
    for."""
    src = _sf_dir()
    big_path = f"/tmp/spark_graft_10x_{os.getpid()}"
    build_10x(spark, f"{src}/documents.parquet", big_path)
    small = f"{src}/documents.parquet"
    cases = {
        # the form probe picks the aggregate+semi-join or the window form
        "g26_dup_spans": lambda df: spans.duplicated_spans(df, n=8).count(),
        "g26_window_form": _window_form_spans_count,
        "g34_gopher_rules": lambda df: text.gopher_rules(df).count(),
        # HTML strip is pure map-side regex work —
        # the decade ratio should sit at the scan slope, near 1×-2×
        "g57_html_text": lambda df: text.html_to_text(
            df.withColumn(
                "text",
                F.concat(
                    F.lit("<html><body><!-- c --><h1>"), F.col("source"),
                    F.lit("</h1><p>"), F.col("text"),
                    F.lit("&amp; tail</p></body></html>"),
                ),
            )
        ).count(),
        "g35_paragraph_dedup": lambda df: text.paragraph_dedup(
            df, sep=" "  # single-line corpus: treat words as paragraphs
        ).count(),
        "g29_vocab": lambda df: vocab.build_vocab(df, vocab_size=100).count(),
        "g29_encode": lambda df: vocab.encode_documents(
            df, vocab.build_vocab(df, vocab_size=100)
        ).count(),
        "g28_classifier": lambda df: classifier.score_documents(
            df, {"uniq_ratio": 2.0, "stopword_ratio": -1.0}, -0.5
        ).count(),
        "g32_report": lambda df: text.corpus_report(df).count(),
        "g45_corpus_diff": lambda df: _diff_case(df),
        # split-QA + selection decade cases.
        # The 10× corpus's salt-copies are DENSE near-dup families (10
        # mutual near-dups per original) — a deliberate stress for the
        # pair graph the split/keep operators consume.
        "g46_split_leakage": lambda df: neardup.split_leakage_report(
            df.withColumn(
                "split",
                F.element_at(
                    F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                    (F.col("doc_id") % 3 + 1).cast("int"),
                ),
            ),
            n=3,
            min_overlap=5,
        ).count(),
        "g47_leakage_safe_split": lambda df: sampling.leakage_safe_split(
            df.select("doc_id"),
            neardup.jaccard_pairs(df, n=3, threshold=0.5),
            {"train": 0.8, "val": 0.1, "test": 0.1},
        ).count(),
        # fixed 250k-token budget: the boundary-bucket window stays
        # ~1/64 of the corpus at either scale
        "g48_budget_select": lambda df: sampling.select_to_token_budget(
            text.with_text_stats(df),
            250_000,
            score_col="stopword_ratio",
        ).count(),
        "g49_dsir_weights": lambda df: sampling.dsir_weights(
            df.select("doc_id", "text"),
            df.filter(F.col("doc_id") % 17 == 3),
            n_buckets=1024,
        ).count(),
        # every source is over cap at both scales, so this times the
        # over-cap window path itself (the under-cap bypass is free)
        "g59_cap_per_group": lambda df: sampling.cap_per_group(
            df.withColumn("n_chars", F.length("text")),
            "source", 100, order_col="n_chars",
        ).count(),
        # contamination audit: fixed-size benchmark side, corpus 10×
        "g62_contamination": lambda df: spans.contamination_spans(
            df,
            df.filter(F.col("doc_id") % 17 == 3).limit(300),
            n=8,
        ).count(),
    }
    out = {}

    def decade(name, fn, small_path, big_path):
        t_small = timeit(lambda: fn(spark.read.parquet(small_path)))
        t_big = timeit(lambda: fn(spark.read.parquet(big_path)))
        out[name] = {
            "sf0.1_s": t_small,
            "10x_s": t_big,
            "time_ratio_for_10x_data": round(t_big / t_small, 2)
            if t_small
            else None,
        }

    for name, fn in cases.items():
        decade(name, fn, small, big_path)

    # Embedding-side decade: the corpus grows 10x, the benchmark set
    # (the realistic fixed side) stays at 256 vectors.
    emb_small = f"{src}/embeddings.parquet"
    emb_big = f"/tmp/spark_graft_10x_emb_{os.getpid()}"
    build_10x_emb(spark, emb_small, emb_big)
    bench = spark.read.parquet(emb_small).filter(F.col("vec_id") < 256)
    decade(
        "g42_semantic_decon",
        lambda df: similarity.semantic_decontaminate(
            df, bench, threshold=0.9, max_benchmark=300
        ).count(),
        emb_small,
        emb_big,
    )
    shutil.rmtree(big_path, ignore_errors=True)
    shutil.rmtree(emb_big, ignore_errors=True)
    return {"scalecheck": out, "docs_small": 5000, "docs_big": 50000}


# ---------------------------------------------------------------------------
# pair_graph: the pair-graph family, 5k → 50k → 500k docs
# ---------------------------------------------------------------------------


def build_blocked_100x(spark, src: str, path: str) -> None:
    """Third-decade corpus (500k docs): 10 BLOCKS × 10 salt copies per
    original. Within a (original, block) group the 10 copies are mutual
    near-dups (the same 10-clique as the 50k tier); ACROSS blocks every
    3rd token carries a block tag, so almost no 3-gram survives intact
    and blocks never pair. The pair graph therefore grows 10× (more
    cliques), not 100× (bigger cliques) — constant duplication RATE,
    which is how real corpora scale; a 100-clique tier would instead
    measure output growth (the g47 caveat)."""
    docs = spark.read.parquet(src)
    big = (
        docs.withColumn("__blk", F.explode(F.sequence(F.lit(0), F.lit(9))))
        .withColumn("__copy", F.explode(F.sequence(F.lit(0), F.lit(9))))
        .select(
            ((F.col("doc_id") * 10 + F.col("__blk")) * 10 + F.col("__copy"))
            .alias("doc_id"),
            F.concat_ws(
                " ",
                F.array_join(
                    F.transform(
                        F.split("text", r"\s+"),
                        lambda t, i: F.when(
                            i % 3 == 0,
                            F.concat(t, F.lit("q"), F.col("__blk")),
                        ).otherwise(t),
                    ),
                    " ",
                ),
                F.concat(F.lit("salt"), F.col("__copy")),
            ).alias("text"),
            "lang",
            "source",
        )
        .repartition(64)
    )
    big.write.mode("overwrite").parquet(path)


def pair_graph(spark) -> dict:
    """Three-decade slope evidence for the pair-graph family
    (g2_cluster_dedup, g24_incremental_neardup, g47_leakage_safe_split):
    5k → 50k → 500k docs. Each case's time is reported next to its tier's
    PAIR-GRAPH size — sub-linearity is claimed in the graph the operator
    actually processes (salt-copy corpora are duplication-dense by
    construction; see build_blocked_100x)."""
    src = _sf_dir()
    pid = os.getpid()
    t10 = f"/tmp/spark_graft_3d_10x_{pid}"
    t100 = f"/tmp/spark_graft_3d_100x_{pid}"
    build_10x(spark, f"{src}/documents.parquet", t10)
    build_blocked_100x(spark, f"{src}/documents.parquet", t100)

    tiers = {
        "5k": f"{src}/documents.parquet",
        "50k": t10,
        "500k": t100,
    }
    out: dict = {}
    for tier, path in tiers.items():
        df = spark.read.parquet(path)
        pairs_n = neardup.jaccard_pairs(df, n=3, threshold=0.5).count()
        row = {"docs": df.count(), "pairs": pairs_n}
        row["g2_cluster_dedup_s"] = timeit(
            lambda: neardup.dedup_by_pairs(
                spark.read.parquet(path),
                neardup.jaccard_pairs(
                    spark.read.parquet(path), n=3, threshold=0.5
                ),
            ).count()
        )
        row["g47_leakage_safe_split_s"] = timeit(
            lambda: sampling.leakage_safe_split(
                spark.read.parquet(path).select("doc_id"),
                neardup.jaccard_pairs(
                    spark.read.parquet(path), n=3, threshold=0.5
                ),
                {"train": 0.8, "val": 0.1, "test": 0.1},
            ).count()
        )
        idx = f"/tmp/spark_graft_3d_idx_{tier}_{pid}"
        incremental.neardup_index_init(
            spark, idx, df.filter(F.col("doc_id") % 3 != 0)
        )
        row["g24_incremental_neardup_s"] = timeit(
            lambda: incremental.incremental_neardup(
                spark,
                idx,
                spark.read.parquet(path).filter(F.col("doc_id") % 2 == 0),
                update_index=False,
            ).fresh.count()
        )
        shutil.rmtree(idx, ignore_errors=True)
        out[tier] = row
    shutil.rmtree(t10, ignore_errors=True)
    shutil.rmtree(t100, ignore_errors=True)
    return {"pairgraph_three_decades": out}


# ---------------------------------------------------------------------------
# connected_components: chain-shaped pair graphs, 100k → 1M edges
# ---------------------------------------------------------------------------


def connected_components(spark) -> dict:
    """Chain-shaped pair-graph tier: one path graph of
    100k and 1M edges — diameter = |E|, the adversarial shape for
    min-label propagation — through connected_components, which
    probes propagation for 4 bounded rounds and restarts on the
    large-star/small-star contraction (O(log n) alternations). The
    sub-linear time ratio for 10× edges is the evidence that the
    graph-driven choice handles high-diameter graphs AT SCALE, not just
    on the pytest fixture."""
    out: dict = {}
    for n in (100_000, 1_000_000):
        edges = spark.range(1, n).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )

        def run(e=edges):
            cc = neardup.connected_components(e)
            # correctness rides the measurement: one component, min=1
            assert (
                cc.agg(F.count_distinct("label"), F.min("label")).first()
                == (1, 1)
            )

        out[str(n)] = {"edges": n, "cc_s": timeit(run, reps=1)}
    tiers = sorted(out)
    ratio = out[tiers[1]]["cc_s"] / max(out[tiers[0]]["cc_s"], 1e-9)
    return {
        "record": "scalecheck_chain",
        "op": "connected_components",
        "tiers": out,
        "time_ratio_for_10x_edges": round(ratio, 2),
    }


# ---------------------------------------------------------------------------
# minhash_lsh_join: G94 cross-corpus near-dup join vs the union self-join
# ---------------------------------------------------------------------------

OFFSET = 10_000_000


def lsh_docs(spark, n: int, fam_dup_pct: int):
    """n synthetic ~30-token docs built in-plan from md5-derived
    tokens. Docs i and i+1 of an even/odd pair share their 30 base
    tokens (a planted near-dup) when (i//2) % 100 < fam_dup_pct —
    controlled within-corpus near-dup density, the work a union
    self-join re-does and the bipartite join skips."""
    fam = F.when(
        F.pmod((F.col("id") / 2).cast("long"), F.lit(100))
        < fam_dup_pct,
        (F.col("id") / 2).cast("long"),
    ).otherwise(F.col("id") + 1_000_000_000)  # unique: no partner
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda j: F.substring(
            F.md5(F.concat(fam.cast("string"), F.lit(":"), j.cast("string"))),
            1,
            6,
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.array_join(toks, " "),
            F.lit(" v"),
            F.pmod(F.col("id"), F.lit(2)).cast("string"),
        ).alias("text"),
    )


def minhash_lsh_join(spark) -> dict:
    """Scale evidence for G94 minhash_lsh_join (cross-corpus near-dup join).

    The operator's claim: when an INCREMENT joins an existing CORPUS, the
    bipartite banded join does only the cross-side work, while the
    self-join over corpus ∪ increment wastes its time surfacing (and
    verifying, and deduplicating) the corpus×corpus pairs nobody asked
    about. This case measures both on a synthesized corpus with a derived
    increment (a sample of the corpus with offset ids and a text
    perturbation, so every increment doc is a planted cross near-dup of
    its source), at corpus sizes 20k and 200k.

    Each tier also asserts, IN-RUN, that the bipartite cross-pair set
    equals the cross-side subset of the union self-join's output (same
    band geometry ⇒ same candidates ⇒ same verified pairs)."""
    tiers = []
    for n_corpus in (20_000, 200_000):
        # 30% of corpus docs carry a planted within-corpus near-dup —
        # realistic crawl density, the self-join's pure waste here
        corpus = lsh_docs(spark, n_corpus, 30).localCheckpoint(eager=True)
        # increment = 10% of corpus size, each doc a near-dup of ONE
        # corpus doc (same family tokens, different variant token)
        inc = (
            lsh_docs(spark, n_corpus, 100)
            .filter(
                (F.pmod(F.col("doc_id"), F.lit(20)) == 0)
                # partner the docs whose family is UNIQUE in-corpus too
            )
            .select(
                (F.col("doc_id") + OFFSET).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" inc")).alias("text"),
            )
            .localCheckpoint(eager=True)
        )
        n_inc = inc.count()
        both = corpus.unionByName(inc)
        bi_s = timeit(
            lambda: neardup.minhash_lsh_join(corpus, inc, threshold=0.5).count()
        )
        un_s = timeit(
            lambda: neardup.minhash_lsh_pairs(both, threshold=0.5).count()
        )

        # in-run value check: the bipartite output ≡ the cross-side
        # subset of the union self-join (canonicalized to (corpus, inc))
        cross = {
            (r["id_a"], r["id_b"])
            for r in neardup.minhash_lsh_pairs(both, threshold=0.5)
            .filter(
                (F.col("id_a") < OFFSET) != (F.col("id_b") < OFFSET)
            )
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .collect()
        }
        bip = {
            (r["id_a"], r["id_b"])
            for r in neardup.minhash_lsh_join(
                corpus, inc, threshold=0.5
            ).collect()
        }
        assert bip == cross, (len(bip), len(cross))
        tiers.append(
            {
                "n_corpus": n_corpus,
                "n_increment": n_inc,
                "bipartite_sec": bi_s,
                "union_selfjoin_sec": un_s,
                "cross_pairs": len(bip),
                "speedup": round(un_s / bi_s, 2),
            }
        )
    return {
        "record": "scalecheck_crossdup",
        "op": "g94_crossdup",
        "threshold": 0.5,
        "tiers": tiers,
    }


# ---------------------------------------------------------------------------
# window_funnel: G75 chained per-step min-reach joins, 1M → 10M events
# ---------------------------------------------------------------------------

STEPS = ["signup", "click", "purchase"]


def funnel_events(spark, n: int):
    return spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(n // 100)).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + F.pmod(F.xxhash64(F.col("id") + 1), F.lit(30 * 86_400))
        ).alias("ts"),
        F.element_at(
            F.array(*[F.lit(s) for s in STEPS + ["noise"]]),
            (F.pmod(F.xxhash64(F.col("id") + 2), F.lit(4)) + 1).cast("int"),
        ).alias("event_type"),
    )


def _funnel_tier(spark, n: int) -> dict:
    ev = funnel_events(spark, n)
    n_s1_users = (
        ev.filter(F.col("event_type") == STEPS[0])
        .select("user_id")
        .distinct()
        .count()
    )

    def run():
        out = analytics.window_funnel(ev, STEPS, window="7 days")
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("steps_reached").alias("lo"),
            F.max("steps_reached").alias("hi"),
            F.sum(
                F.when(F.col("steps_reached") == 3, 1).otherwise(0)
            ).alias("full"),
        ).collect()[0]
        assert agg["n"] == n_s1_users, (agg["n"], n_s1_users)
        assert 1 <= agg["lo"] and agg["hi"] <= 3
        return agg

    agg = run()
    return {
        "events": n,
        "funnel_users": n_s1_users,
        "completed_all_steps": int(agg["full"]),
        "funnel_s": timeit(run, warm=False),
    }


def window_funnel(spark) -> dict:
    """Scale evidence for G75 (window_funnel): the chained per-step
    min-reach joins over synthesized event relations at 1M and 10M events
    (one and two decades past the 100k-row sf0.1 gate fixture).

    Events are xxhash64-derived: ~n/100 users × ~100 events each, types
    drawn uniformly from the three funnel steps plus noise, timestamps
    spread over 30 days. The measured run asserts the output is one row per
    user that has a step-1 event and that reach counts are within [1, 3] —
    correctness inside the measured action, the connected_components
    pattern."""
    t1 = _funnel_tier(spark, 1_000_000)
    t10 = _funnel_tier(spark, 10_000_000)
    return {
        "record": "scalecheck_funnel",
        "op": "window_funnel",
        "tiers": {"1m": t1, "10m": t10},
        "time_ratio_for_10x_events": round(
            t10["funnel_s"] / t1["funnel_s"], 2
        ),
        "note": "three chained pushdown-filtered min aggregates "
        "joined on the user key (co-partitioned after the first "
        "exchange); output row count == distinct step-1 users "
        "asserted inside the measured run at both tiers.",
    }


# ---------------------------------------------------------------------------
# pagerank: G65 / G87 on hub-skewed link graphs, 200k → 2M edges
# ---------------------------------------------------------------------------


def pagerank(spark) -> dict:
    """Hub-skew scale evidence for G65 PageRank.

    The degree computation is a groupBy aggregate joined back, NOT a count
    window partitioned by source — a window would serialize a hub page's
    entire out-edge list through one task. This case measures pagerank on
    synthetic link graphs where ONE hub source owns ~50% of all edges, at
    two scales (10× edges).

    A skew-safe shape should scale near-linearly in |edges| and show no
    straggler cliff between tiers; with the old count-window form the hub
    tier's first materialization was bounded by the single task holding the
    hub's out-edges."""
    # seeded tier: the G87 personalized form on the same
    # hub graphs, 200-literal seed set — after the teleport fold the
    # rounds are shape-identical to the uniform path (the seed CASE
    # evaluates once per edge at the reused exchange, not per round), so
    # seeded/uniform should sit near 1× and scale at the same slope.
    seeds = list(range(1, 201))
    tiers = {}
    seeded = {}
    for n_edges in (200_000, 2_000_000):
        e = hub_graph(spark, n_edges)
        for label, kw in (("uniform", {}), ("seeded", {"seeds": seeds})):
            (tiers if label == "uniform" else seeded)[str(n_edges)] = timeit(
                lambda: graph.pagerank(e, iters=3, **kw).count()
            )
    ratio = round(tiers["2000000"] / tiers["200000"], 2)
    s_ratio = round(seeded["2000000"] / seeded["200000"], 2)
    return {
        "record": "scalecheck_graph",
        "op": "g65_pagerank",
        "hub_share": 0.5,
        "iters": 3,
        "tiers_sec": tiers,
        "time_ratio_for_10x_edges": ratio,
        "seeded_tiers_sec": seeded,
        "seeded_time_ratio_for_10x_edges": s_ratio,
        "seeded_over_uniform_at_2m": round(
            seeded["2000000"] / tiers["2000000"], 2
        ),
        "n_seeds": len(seeds),
    }


# ---------------------------------------------------------------------------
# hamming_pairs: the perceptual-dedup join, 100k → 1M fingerprints
# ---------------------------------------------------------------------------


def fingerprints(spark, n: int):
    """n base fingerprints + a low-bit twin for every 10th: ids are
    [0, n) for bases, n + i for the twin of base i."""
    base = spark.range(n).select(
        F.col("id").alias("fp_id"), F.xxhash64("id").alias("fp")
    )
    twins = (
        spark.range(0, n, 10)
        .select(
            (F.col("id") + n).alias("fp_id"),
            # flip 1-2 of the lowest bits: hamming 1-2, bucket (top
            # 16 bits) untouched by construction
            F.xxhash64("id")
            .bitwiseXOR(F.pmod(F.col("id"), F.lit(3)) + 1)
            .alias("fp"),
        )
    )
    return base.unionByName(twins), n // 10


def _hamming_tier(spark, n: int) -> dict:
    df, n_planted = fingerprints(spark, n)
    run = lambda: neardup.hamming_pairs(  # noqa: E731
        df, "fp_id", "fp", total_bits=64, prefix_bits=16, max_hamming=2
    )
    chk = run().agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(
            F.when(
                (F.col("id_b") - F.col("id_a") == n)
                & (F.pmod(F.col("id_a"), F.lit(10)) == 0),
                1,
            ).otherwise(0)
        ).alias("planted"),
    ).first()
    assert chk["planted"] == n_planted, (chk["planted"], n_planted)
    return {
        "fingerprints": n + n_planted,
        "planted_pairs": n_planted,
        "pairs_found": int(chk["total"]),
        "join_s": timeit(lambda: run().count(), warm=False),
    }


def hamming_pairs(spark) -> dict:
    """Scale evidence for the perceptual-dedup join (G69/G70/G71 all reduce
    to neardup.hamming_pairs): pair-join time over synthesized fingerprint
    relations at 100k and 1M rows — two decades past the ~100-image gate
    fixtures, on the axis that matters (the bucketed self-join, not the
    decode, which is embarrassingly parallel map-side work).

    Fingerprints are xxhash64-derived (uniform over 64 bits, so the
    prefix buckets stay balanced — the well-behaved case; a skewed
    fingerprint population is the G67/G13b salting territory). Every 10th
    fingerprint gets a planted twin 1-2 bit flips away; the checked run
    asserts ALL planted pairs are found whenever the flips avoid the
    prefix (flips are planted in the LOW bits, so bucket identity is
    preserved by construction) and nothing closer than the radius is
    missed."""
    t1 = _hamming_tier(spark, 100_000)
    t10 = _hamming_tier(spark, 1_000_000)
    return {
        "record": "scalecheck_hamming",
        "op": "hamming_pairs (G69/G70/G71 join core)",
        "tiers": {"100k": t1, "1m": t10},
        "time_ratio_for_10x_fingerprints": round(
            t10["join_s"] / t1["join_s"], 2
        ),
        "note": "prefix_bits=16 -> 65536 buckets; uniform "
        "fingerprints keep Σ|bucket|² ~ n²/65536; planted "
        "low-bit twins (hamming 1-2) all recovered inside the "
        "measured run at both tiers.",
    }


# ---------------------------------------------------------------------------
# labels_kappa: G81 weighted crowd-label vote and G95 pairwise kappa
# ---------------------------------------------------------------------------


def annotations(spark, n: int):
    n_items = n // 50
    base = spark.range(n).select(
        (F.col("id") % n_items).alias("item_id"),
        F.pmod(F.xxhash64("id", F.lit("a")), F.lit(500)).alias(
            "annotator_id"
        ),
        F.col("id"),
    )
    true_label = F.concat(
        F.lit("L"), (F.col("item_id") % 5).cast("string")
    )
    decoy = F.concat(
        F.lit("L"),
        F.pmod(F.xxhash64("id", F.lit("d")), F.lit(5)).cast("string"),
    )
    ann = base.select(
        "item_id",
        "annotator_id",
        F.when(
            F.pmod(F.xxhash64("id", F.lit("n")), F.lit(10)) < 7, true_label
        ).otherwise(decoy).alias("label"),
    )
    return ann, n_items


def _labels_tier(spark, n: int) -> dict:
    ann, n_items = annotations(spark, n)
    run = lambda: labels.aggregate_labels(ann, reweight=True)  # noqa: E731
    correct = run().filter(
        F.col("label_weighted")
        == F.concat(F.lit("L"), (F.col("item_id") % 5).cast("string"))
    ).count()
    assert correct >= 0.99 * n_items, (correct, n_items)

    def timed():
        total = run().count()
        assert total == n_items, (total, n_items)

    return {
        "annotations": n,
        "items": n_items,
        "planted_recovered": int(correct),
        "agg_s": timeit(timed, warm=False),
    }


def _kappa_tier(spark, n: int) -> dict:
    """G95 pairwise Cohen's kappa on the same corpus. The one
    scale-risk term is the item-keyed self-join (|items|·d² rows for
    per-item annotator degree d ≈ 50 here — a deliberately HARSH panel;
    production pools run d = 3-5); the pair/marginal aggregates are
    |pairs|·|labels|-sized. In-run check: with 500 annotators at 70%
    shared reliability and uniform-over-5 decoys, the empirical kappa
    distribution at 1M annotations spans [0.285, 0.693] (median 0.49);
    every reported pair (>= 100 shared items) is asserted inside
    (0.20, 0.75) micro — agreement REAL (0 excluded) but imperfect
    (1.0 excluded) for all C(500,2) = 124,750 pairs."""
    ann, _ = annotations(spark, n)
    run = lambda: labels.annotator_agreement(  # noqa: E731
        ann, min_items=100
    )
    out = run().filter(F.col("kappa_micro").isNotNull())
    bad = out.filter(
        (F.col("kappa_micro") < 200000) | (F.col("kappa_micro") > 750000)
    ).count()
    n_pairs = out.count()
    assert n_pairs > 0 and bad == 0, (n_pairs, bad)
    return {
        "annotations": n,
        "pairs_reported": int(n_pairs),
        "kappa_s": timeit(lambda: run().count(), warm=False),
    }


def labels_kappa(spark) -> dict:
    """Scale evidence for G81 (labels.aggregate_labels, reweight=True): the
    two-pass crowd-label reduction at 1M and 10M annotations — two decades
    past the 10k-row gate fixture, on the axis that matters (the annotation
    volume; items and annotators grow with it) — and for G95 pairwise
    kappa on the same corpus.

    Corpus: n annotations over n/50 items (~50 votes each) from 500
    annotators; each item has a planted true label and annotators vote for
    it with 70% probability (xxhash64-derived, deterministic), else one of
    4 decoys. The checked runs assert ≥99% of items recover their planted
    label under the reliability-weighted vote."""
    t1 = _labels_tier(spark, 1_000_000)
    t10 = _labels_tier(spark, 10_000_000)
    k1 = _kappa_tier(spark, 1_000_000)
    k10 = _kappa_tier(spark, 10_000_000)
    return {
        "record": "scalecheck_labels",
        "op": "aggregate_labels(reweight=True) (G81)",
        "tiers": {"1m": t1, "10m": t10},
        "time_ratio_for_10x_annotations": round(
            t10["agg_s"] / t1["agg_s"], 2
        ),
        "kappa_tiers": {"1m": k1, "10m": k10},
        "kappa_time_ratio_for_10x": round(
            k10["kappa_s"] / k1["kappa_s"], 2
        ),
        "note": "two-pass estimate (majority -> annotator "
        "accuracy broadcast -> weighted revote) over 500 "
        "annotators at 70% base reliability; >=99% of planted "
        "item labels recovered inside both measured runs. Every "
        "stage is a combinable aggregate or an |items|-scale "
        "window; the accuracy relation stays 500 rows at any "
        "corpus size.",
    }


# ---------------------------------------------------------------------------
# ppjoin: G84 prefix-filtered Jaccard join vs the full join, 20k → 200k docs
# ---------------------------------------------------------------------------

BOILER = "all rights reserved see terms of use"


def boilerplate_docs(spark, n: int):
    """n base docs + a twin for every 50th; twin ids are base + n."""
    body = F.concat_ws(
        " ",
        *[F.concat(F.lit(f"u{k}x"), F.col("id")) for k in range(10)],
    )
    # 2% of docs carry the boilerplate (ids ≡ 1 mod 50; never the
    # planted-twin bases at ≡ 0, so twin Jaccard stays ≈ 0.78)
    boiler = F.when(
        F.pmod("id", F.lit(50)) == 1, F.lit(" " + BOILER)
    ).otherwise(F.lit(""))
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(body, boiler).alias("text"),
    )
    # twin of every 50th doc (ids ≡ 0 mod 50): one body token changed
    twin_body = F.concat_ws(
        " ",
        F.concat(F.lit("changedtok"), F.col("id")),
        *[F.concat(F.lit(f"u{k}x"), F.col("id")) for k in range(1, 10)],
    )
    twins = spark.range(0, n, 50).select(
        (F.col("id") + n).alias("doc_id"), twin_body.alias("text")
    )
    return base.unionByName(twins), n // 50


def _ppjoin_tier(spark, n: int, form) -> dict:
    df, n_planted = boilerplate_docs(spark, n)
    run = lambda: form(df, n=3, threshold=0.6)  # noqa: E731
    planted = run().filter(
        (F.col("id_b") - F.col("id_a") == n)
        & (F.pmod("id_a", F.lit(50)) == 0)
    ).count()
    assert planted == n_planted, (planted, n_planted)

    def timed():
        total = run().count()
        assert total == n_planted, (total, n_planted)

    return {
        "docs": n + n_planted,
        "pairs": n_planted,  # == every timed run's count, asserted
        "join_s": timeit(timed, warm=False),
    }


def ppjoin(spark) -> dict:
    """Scale evidence for the G84 prefix-filtered Jaccard join: the case it
    exists for is a Zipf-skewed posting-list distribution — boilerplate
    shingles shared by a constant FRACTION of the corpus, whose posting
    lists make the full inverted-index self-join pay Σ df(s)² ~ O(n²) pair
    rows while the prefix filter never lets them into candidate generation
    (each document's prefix keeps only its globally-rarest shingles).

    Corpus: n docs, each with a unique 10-token body (df=1 shingles) and —
    for 2% of docs — a shared 6-token boilerplate sentence (df = 0.02·n,
    the hot posting list; its pair contribution grows 100× for 10× docs).
    Every 50th doc gets a planted near-dup twin (one body token changed →
    Jaccard ≈ 0.75). Both join forms must recover EXACTLY the planted
    pairs at threshold 0.6."""
    tiers = {}
    for label, n in (("20k", 20_000), ("200k", 200_000)):
        tiers[label] = {
            "full_join": _ppjoin_tier(spark, n, neardup.jaccard_pairs),
            "ppjoin": _ppjoin_tier(spark, n, neardup.ppjoin_pairs),
        }
    return {
        "record": "scalecheck_ppjoin",
        "op": "ppjoin_pairs vs jaccard_pairs (G84 vs G2) on a "
        "Zipf-boilerplate corpus",
        "tiers": tiers,
        "full_ratio_for_10x_docs": round(
            tiers["200k"]["full_join"]["join_s"]
            / tiers["20k"]["full_join"]["join_s"],
            2,
        ),
        "ppjoin_ratio_for_10x_docs": round(
            tiers["200k"]["ppjoin"]["join_s"]
            / tiers["20k"]["ppjoin"]["join_s"],
            2,
        ),
        "note": "2% of docs share a 6-token boilerplate sentence: the "
        "full join's hot posting list contributes df² pair rows (100× "
        "for 10× docs — its slope is the quadratic term surfacing), "
        "while the prefix filter keeps only df=1 body shingles in "
        "candidate generation (slope ~= its fixed multi-stage floor "
        "amortizing). The crossover lands between the tiers: the full "
        "join wins at 20k docs, ppjoin wins at 200k — and one more "
        "decade puts the full join's hot-shingle pair relation at 4B "
        "rows while ppjoin grows linearly. Planted twins (J≈0.78) all "
        "recovered by BOTH forms inside the measured runs.",
    }


# ---------------------------------------------------------------------------
# bt_bfs_winnow: G98 Bradley-Terry, G100 bounded BFS, G101 winnowing
# ---------------------------------------------------------------------------

P = 1_000  # BT players


def comparisons(spark, n: int):
    """n synthetic comparisons over P players, strength = player index:
    the larger index wins 65% of decisive comparisons; ~1/29 are ties."""
    base = spark.range(n).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(P)).alias("a"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(P)).alias("b"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(100)) < 65).alias("up"),
        (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(29)) == 0).alias("tie"),
    ).filter(F.col("a") != F.col("b"))
    return base.select(
        F.when(F.col("up"), F.greatest("a", "b"))
        .otherwise(F.least("a", "b"))
        .alias("winner"),
        F.when(F.col("up"), F.least("a", "b"))
        .otherwise(F.greatest("a", "b"))
        .alias("loser"),
        "tie",
    ).repartition(32)


def winnow_docs(spark, n_docs: int):
    """40 pooled sentences per doc; ids 10g+8 and 10g+9 share ALL 40
    (sentence seed keyed by the group), everyone else is unique."""
    sent = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda j: F.md5(
            F.when(
                F.col("id") % 10 >= 8,
                F.concat(
                    (F.col("id") / 10).cast("long").cast("string"),
                    F.lit("_"),
                    j.cast("string"),
                ),
            ).otherwise(
                F.concat(F.col("id").cast("string"), F.lit("#"), j.cast("string"))
            )
        ),
    )
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(sent, " ").alias("text"),
    ).repartition(32)


def bt_bfs_winnow(spark) -> dict:
    """Scale decades for G98 Bradley-Terry, G100 bounded BFS, G101
    winnowing. One 10x tier pair per op on synthetic in-plan data:

    - BT: 1M -> 10M comparisons over 1,000 players with planted strength
      (the stronger index wins 65%, ties at ~3.4%); asserted: the
      top-decile players' mean BT score exceeds the bottom decile's by
      >= 2x (the planted ordering is recovered), every score inside the
      [1, unit^2] clamp. Pair relation ~ P^2/2 rows, so the tiers also
      exercise the |pairs|-keyed joins at 10x the per-pair counts.
    - BFS: 1M -> 10M edges, hub+ring graph (the G65 skew fixture), 50
      seeds, 3 hops; asserted: seeds at hop 0, max hop <= 3, reached
      count non-decreasing in the edge count.
    - Winnow: 20k -> 200k docs of 40 pooled 32-char sentences where each
      group of 10 plants exactly one near-dup pair sharing all 40
      sentences; asserted: the pair set is EXACTLY the planted one (count
      == n_docs/10 and every pair is (10g+8, 10g+9) with n_shared well
      past min_shared)."""
    out: dict = {"record": "scalecheck_r10"}

    # ---- G98 Bradley-Terry ----
    bt: dict = {}
    for n in (1_000_000, 10_000_000):
        c = comparisons(spark, n)
        bt[str(n)] = timeit(
            lambda: labels.bt_scores(c, tie_col="tie", iters=3).count()
        )
    # identity inside the measured configuration (10M tier)
    rows = labels.bt_scores(
        comparisons(spark, 10_000_000), tie_col="tie", iters=3
    )
    agg = rows.select(
        F.avg(F.when(F.col("player") >= P - P // 10, F.col("bt_micro"))).alias("top"),
        F.avg(F.when(F.col("player") < P // 10, F.col("bt_micro"))).alias("bot"),
        F.min("bt_micro").alias("lo"),
        F.max("bt_micro").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert agg["n"] == P, agg["n"]
    assert agg["top"] >= 2 * agg["bot"], (agg["top"], agg["bot"])
    assert 1 <= agg["lo"] and agg["hi"] <= 1_000_000 ** 2
    bt["ratio_10x"] = round(bt["10000000"] / bt["1000000"], 2)
    bt["players"] = P
    bt["ordering_recovered"] = {
        "top_decile_mean_micro": int(agg["top"]),
        "bottom_decile_mean_micro": int(agg["bot"]),
    }
    out["bt"] = bt

    # ---- G100 BFS ----
    # the hub IS a seed: hop 1 reaches n_edges/2 nodes, so the distance
    # relation at tier 2 carries ~5M rows into rounds 2-3 — the frontier
    # stress, not just the edge-scan floor
    bfs: dict = {}
    seeds = [0] + list(range(1, 50))
    reached_prev = 0
    for n in (1_000_000, 10_000_000):
        g = hub_graph(spark, n)
        bfs[str(n)] = timeit(
            lambda: graph.bfs_hops(g, seeds=seeds, max_hops=3).count()
        )
        r = graph.bfs_hops(g, seeds=seeds, max_hops=3)
        chk = r.select(
            F.max("hops").alias("mx"),
            F.sum(F.when(F.col("node").isin(seeds) & (F.col("hops") != 0), 1)
                  .otherwise(0)).alias("bad_seeds"),
            F.count(F.when(F.col("hops").isNotNull(), 1)).alias("reached"),
        ).collect()[0]
        assert chk["mx"] <= 3 and chk["bad_seeds"] == 0, dict(chk.asDict())
        assert chk["reached"] >= reached_prev
        reached_prev = chk["reached"]
        bfs["reached_" + str(n)] = int(chk["reached"])
    bfs["ratio_10x"] = round(bfs["10000000"] / bfs["1000000"], 2)
    bfs["seeds"] = len(seeds)
    out["bfs"] = bfs

    # ---- G101 winnowing ----
    wn: dict = {}
    kw = dict(k=8, window=10, min_shared=5, max_doc_freq=50)
    for n in (20_000, 200_000):
        d = winnow_docs(spark, n)
        wn[str(n)] = timeit(
            lambda: neardup.winnow_overlap_pairs(d, **kw).count()
        )
        pairs = neardup.winnow_overlap_pairs(d, **kw)
        chk = pairs.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("id_a") % 10 == 8)
                    & (F.col("id_b") == F.col("id_a") + 1),
                    1,
                ).otherwise(0)
            ).alias("planted"),
            F.min("n_shared").alias("min_sh"),
        ).collect()[0]
        # EXACTLY the planted pair set: one (10g+8, 10g+9) pair per group
        assert chk["n"] == n // 10, (n, chk["n"])
        assert chk["planted"] == n // 10, chk["planted"]
        assert chk["min_sh"] >= 30, chk["min_sh"]  # 40 shared sentences
    wn["ratio_10x"] = round(wn["200000"] / wn["20000"], 2)
    wn["pair_set"] = "exactly the planted near-dup pairs at both tiers"
    out["winnow"] = wn
    return out


# ---------------------------------------------------------------------------
# lpa_decon_kmv_hits: G104 label propagation, G107 multi-benchmark
# decontamination, G108 KMV sketches, G110 HITS
# ---------------------------------------------------------------------------

GROUP = 1_000  # LPA group size


def grouped_graph(spark, n_edges: int):
    """8 intra-group edges per node, zero inter-group edges."""
    n_nodes = n_edges // 8
    e = spark.range(n_nodes)
    base = (F.col("id") / GROUP).cast("long") * GROUP
    dsts = F.transform(
        F.sequence(F.lit(1), F.lit(8)),
        lambda j: base + F.pmod(F.xxhash64("id", j), F.lit(GROUP)),
    )
    return e.select(
        F.col("id").alias("src"), F.explode(dsts).alias("dst")
    ).repartition(32)


def decon_docs(spark, n_docs: int):
    """40 pooled md5 sentences per doc, all unique per doc — benchmark
    slices share shingles with their own docs only, so per-bench hits
    are exactly the slice members (plus nothing else)."""
    sent = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda j: F.md5(
            F.concat(F.col("id").cast("string"), F.lit("#"), j.cast("string"))
        ),
    )
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.array_join(sent, " ").alias("text")
    ).repartition(32)


def kmv_keys(spark, n: int):
    """Strata a/b, |a|=|b|=n distinct keys, exactly 50% overlap."""
    return spark.range(2 * n).select(
        F.when(F.col("id") < n, F.lit("a")).otherwise(F.lit("b")).alias("st"),
        F.when(F.col("id") < n, F.col("id"))
        .otherwise(F.col("id") - n + n // 2)
        .alias("key"),
    ).repartition(32)


def lpa_decon_kmv_hits(spark) -> dict:
    """Scale decades for G104 label propagation, G107 multi-benchmark
    decontamination, G108 KMV sketches, G110 HITS. One 10x tier pair per
    op on synthetic in-plan data:

    - LPA: 1M -> 10M edges, nodes in 1000-member groups with 8 random
      INTRA-group edges each and no inter-group edges; asserted (exact,
      structural — labels can only propagate along edges): every node's
      final community id lies inside its own group's id range, node count
      matches; the per-group distinct-label count is reported as the
      convergence measure, not asserted (3 synchronous rounds on a sparse
      graph need not converge — the gate oracle pins the semantics).
    - Multi-decon: 20k -> 100k docs, FIVE benchmark slices (doc_id % 31 in
      1..5); measured one-pass multi report vs five sequential G15
      reports; asserted: the (doc, bench) hit relations are IDENTICAL
      (exceptAll both ways empty) in the measured configuration.
    - KMV: two strata of 1M -> 10M distinct keys with EXACTLY 50% overlap
      (|A|=|B|=N, inter N/2, union 3N/2), k=256; asserted: est_distinct
      within 30% of N for both strata, est_union within 30% of 1.5N,
      est_inter within 45% of N/2 (ρ carries ~9% σ at k=256, these are
      >3σ bands); the EXACT alternative (count distinct + exact
      intersection join) is timed alongside — the sketch's pitch.
    - HITS: the G100 hub graph 1M -> 10M edges, iters=3,
      normalize='rounds' (the unbounded-scale mode); asserted: node 0
      (source of half the edges) holds hub_micro == unit, max auth ==
      unit, all scores inside [0, unit]."""
    out: dict = {"record": "scalecheck_r10b"}

    # ---- G104 label propagation ----
    lpa: dict = {}
    for n in (1_000_000, 10_000_000):
        g = grouped_graph(spark, n)
        lpa[str(n)] = timeit(lambda: graph.label_propagation(g, rounds=3).count())
        res = graph.label_propagation(g, rounds=3)
        grp = (F.col("node") / GROUP).cast("long")
        cgrp = (F.col("community") / GROUP).cast("long")
        chk = res.select(
            F.count(F.lit(1)).alias("n"),
            F.sum((grp != cgrp).cast("long")).alias("crossed"),
            F.count_distinct("community").alias("n_labels"),
        ).collect()[0]
        assert chk["n"] == n // 8, chk["n"]
        assert chk["crossed"] == 0, chk["crossed"]  # labels never cross groups
        lpa["labels_per_group_" + str(n)] = round(
            chk["n_labels"] / (chk["n"] / GROUP), 2
        )
    lpa["ratio_10x"] = round(lpa["10000000"] / lpa["1000000"], 2)
    lpa["identity"] = "zero cross-group labels at both tiers (structural exact)"
    out["lpa"] = lpa

    # ---- G107 multi-benchmark decontamination ----
    md: dict = {}
    n_bench = 5
    for n in (20_000, 100_000):
        d = decon_docs(spark, n)
        benches = {
            f"b{i}": d.filter(F.col("doc_id") % 31 == i)
            for i in range(1, n_bench + 1)
        }
        kw = dict(n=3, min_overlap=5)
        md["multi_" + str(n)] = timeit(
            lambda: neardup.contamination_multi_report(d, benches, **kw).count()
        )

        def _seq():
            tot = 0
            for name, b in benches.items():
                tot += neardup.contamination_report(d, b, **kw).count()
            return tot

        md["sequential_" + str(n)] = timeit(_seq)
        # identity inside the measured configuration
        multi = neardup.contamination_multi_report(d, benches, **kw)
        seq = None
        for name, b in benches.items():
            s = neardup.contamination_report(d, b, **kw).select(
                "doc_id", F.lit(name).alias("bench"), "n_hits"
            )
            seq = s if seq is None else seq.unionByName(s)
        assert multi.exceptAll(seq).count() == 0
        assert seq.exceptAll(multi).count() == 0
    md["speedup_100k"] = round(md["sequential_100000"] / md["multi_100000"], 2)
    md["n_benchmarks"] = n_bench
    md["identity"] = "multi report == union of per-bench G15 reports, both tiers"
    out["multidecon"] = md

    # ---- G108 KMV ----
    kmv: dict = {}
    K = 256
    for n in (1_000_000, 10_000_000):
        d = kmv_keys(spark, n)
        kmv["sketch_" + str(n)] = timeit(
            lambda: analytics.kmv_intersection_report(d, "key", "st", k=K).count()
        )

        def _exact():
            a = d.filter(F.col("st") == "a").select("key").distinct()
            b = d.filter(F.col("st") == "b").select("key").distinct()
            return a.count(), b.count(), a.intersect(b).count()

        kmv["exact_" + str(n)] = timeit(_exact)
        row = analytics.kmv_intersection_report(d, "key", "st", k=K).collect()[0]
        dd = {
            r["stratum"]: r["est_distinct"]
            for r in analytics.kmv_distinct_report(d, "key", "st", k=K).collect()
        }
        for s in ("a", "b"):
            assert abs(dd[s] - n) / n < 0.30, (s, dd[s], n)
        assert abs(row["est_union"] - 1.5 * n) / (1.5 * n) < 0.30, row
        assert abs(row["est_inter"] - 0.5 * n) / (0.5 * n) < 0.45, row
        kmv["est_inter_rel_err_" + str(n)] = round(
            abs(row["est_inter"] - 0.5 * n) / (0.5 * n), 3
        )
    kmv["ratio_10x_sketch"] = round(
        kmv["sketch_10000000"] / kmv["sketch_1000000"], 2
    )
    kmv["sketch_vs_exact_10m"] = round(
        kmv["exact_10000000"] / kmv["sketch_10000000"], 2
    )
    kmv["k"] = K
    kmv["identity"] = "est_distinct/union within 30%, est_inter within 45% (>3 sigma bands) at both tiers"
    out["kmv"] = kmv

    # ---- G110 HITS (rounds mode) ----
    ht: dict = {}
    for n in (1_000_000, 10_000_000):
        g = hub_graph(spark, n)
        ht[str(n)] = timeit(
            lambda: graph.hits_scores(g, iters=3, normalize="rounds").count()
        )
        res = graph.hits_scores(g, iters=3, normalize="rounds")
        chk = res.select(
            F.max(F.when(F.col("node") == 0, F.col("hub_micro"))).alias("hub0"),
            F.max("auth_micro").alias("mxa"),
            F.max("hub_micro").alias("mxh"),
            F.min("hub_micro").alias("mnh"),
            F.min("auth_micro").alias("mna"),
        ).collect()[0]
        assert chk["hub0"] == 1_000_000, chk["hub0"]
        assert chk["mxa"] == 1_000_000 and chk["mxh"] == 1_000_000
        assert chk["mnh"] >= 0 and chk["mna"] >= 0
    ht["ratio_10x"] = round(ht["10000000"] / ht["1000000"], 2)
    ht["identity"] = "hub node holds hub==unit, scores in [0, unit], both tiers"
    out["hits"] = ht
    return out


# ---------------------------------------------------------------------------
# scd2_intervals: G83 change-log → validity intervals, 1M → 10M events
# ---------------------------------------------------------------------------


def scd2_log(spark, n: int):
    n_keys = n // 100
    return spark.range(n).select(
        (F.col("id") % n_keys).alias("key"),
        # distinct ts per (key, id): seconds since epoch by visit index
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") / n_keys).cast("long")
        ).alias("ts"),
        F.col("id").alias("event_id"),
        # ~30% repeats: the state only advances when the hash says so
        F.concat(
            F.lit("s"),
            F.pmod(
                F.xxhash64(
                    "key",
                    F.when(
                        F.pmod(F.xxhash64("id", F.lit("r")), F.lit(10)) < 3,
                        (F.col("id") / n_keys).cast("long") - 1,
                    ).otherwise((F.col("id") / n_keys).cast("long")),
                ),
                F.lit(8),
            ).cast("string"),
        ).alias("state"),
    )


def _scd2_tier(spark, n: int) -> dict:
    ev = scd2_log(spark, n)
    run = lambda: analytics.scd2_intervals(  # noqa: E731
        ev, ["key"], ts_col="ts", attr_cols=["state"],
        order_cols=["event_id"],
    )
    # independent expected-version count: lag-based change flags
    w = Window.partitionBy("key").orderBy("ts", "event_id")
    prev = F.lag("state").over(w)
    expected = (
        ev.select(
            (prev.isNull() | ~F.col("state").eqNullSafe(prev))
            .cast("long")
            .alias("c")
        )
        .agg(F.sum("c"))
        .collect()[0][0]
    )
    got = run().count()
    assert got == expected, (got, expected)
    return {
        "events": n,
        "keys": n // 100,
        "versions": int(got),
        "build_s": timeit(lambda: run().count(), warm=False),
    }


def scd2_intervals(spark) -> dict:
    """Scale evidence for G83 (analytics.scd2_intervals): the change-log →
    validity-interval build at 1M and 10M events — two decades past the
    100k-row gate fixture (whose bench slope, 4.3×/decade at sf0.01→sf0.1,
    is mostly the job floor amortizing; this measures the asymptote).

    Log: n events over n/100 keys (~100 events each, the SCD2 regime —
    dimension keys with long histories), 8 distinct states, ~30% of
    consecutive rows repeating the previous state so the duplicate-merge
    path does real work. The checked runs assert the exact version count
    (independently computed with a lag-based change count)."""
    t1 = _scd2_tier(spark, 1_000_000)
    t10 = _scd2_tier(spark, 10_000_000)
    return {
        "record": "scalecheck_scd2",
        "op": "scd2_intervals (G83)",
        "tiers": {"1m": t1, "10m": t10},
        "time_ratio_for_10x_events": round(
            t10["build_s"] / t1["build_s"], 2
        ),
        "note": "one hash exchange + one sort shared by both "
        "window passes (plan-pinned in tests/test_plans.py); "
        "version counts independently recomputed with lag-based "
        "change flags and asserted equal inside both measured "
        "runs. The gate-scale bench slope (4.3x/decade at "
        "sf0.01->sf0.1) is the job floor amortizing; this is "
        "the asymptotic slope.",
    }


# ---------------------------------------------------------------------------
# cms_allocation: G72 count-min sketch and G73 water-filling
# ---------------------------------------------------------------------------


def _cms_tier(spark, n_rows: int) -> dict:
    # ~n_rows/2 distinct keys, zipf-free worst case for an exact groupBy
    keys = spark.range(n_rows).select(
        F.pmod(F.xxhash64("id"), F.lit(n_rows // 2)).alias("k")
    )
    cells = analytics.cms_build(keys, "k", depth=4, width=4096).count()
    assert cells <= 4 * 4096, cells
    cms_s = timeit(
        lambda: analytics.cms_build(keys, "k", depth=4, width=4096).count()
    )
    n_keys = keys.groupBy("k").count().count()
    exact_s = timeit(lambda: keys.groupBy("k").count().count())
    return {
        "rows": n_rows,
        "distinct_keys": n_keys,
        "cms_cells": cells,
        "cms_build_s": cms_s,
        "exact_groupby_s": exact_s,
    }


def _alloc_tier(spark, n_domains: int, budget: int) -> dict:
    doms = spark.range(n_domains).select(
        F.concat(F.lit("d"), F.col("id")).alias("domain"),
        (F.pmod(F.xxhash64("id"), F.lit(50_000)) + 1).alias("avail_tokens"),
        (F.pmod(F.xxhash64(F.col("id") + 1), F.lit(9)) + 1).alias("weight"),
    )
    supply = doms.agg(F.sum("avail_tokens")).collect()[0][0]
    target = min(budget, supply)

    def run():
        got = (
            sampling.mixture_allocation(doms, budget, num_blocks=64)
            .agg(
                F.sum("allocated").alias("alloc"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("saturated"), 1).otherwise(0)).alias(
                    "n_sat"
                ),
            )
            .collect()[0]
        )
        # fill invariant: floor leftovers only (< 1 token per unsat row)
        assert got["n"] == n_domains
        assert (
            target - (n_domains - got["n_sat"]) <= got["alloc"] <= target
        ), got
        return got

    got = run()
    return {
        "domains": n_domains,
        "supply": int(supply),
        "allocated": int(got["alloc"]),
        "saturated": int(got["n_sat"]),
        "alloc_s": timeit(run),
    }


def cms_allocation(spark) -> dict:
    """Scale evidence for G72 (count-min sketch) and G73 (water-filling):

    - G72: build the sketch over synthesized high-cardinality key streams
      (xxhash64-derived keys, ~|rows|/2 distinct — the URL/n-gram/user-id
      shape CMS exists for) at 10M and 100M rows. The sketch relation is
      capped at depth x width cells at BOTH tiers — the claim under test is
      that build time scales with the SCAN (map-side partials bounded at
      depth x width per task), not with key cardinality, while the exact
      groupBy must shuffle one row PER DISTINCT KEY. Records the exact
      groupBy time beside the sketch time at both tiers.

    - G73: allocate one budget across synthesized domain relations of 1e5
      and 1e6 rows (the |domains| axis the block prefix sums exist for).
      Asserts the fill invariant (sum allocated == min(budget, supply),
      floor leftovers only) inside the measured run at both tiers."""
    cms_1x = _cms_tier(spark, 10_000_000)
    cms_10x = _cms_tier(spark, 100_000_000)
    alloc_1e5 = _alloc_tier(spark, 100_000, budget=1_000_000_000)
    alloc_1e6 = _alloc_tier(spark, 1_000_000, budget=10_000_000_000)
    return {
        "record": "scalecheck_sketch",
        "cms": {"1x": cms_1x, "10x": cms_10x},
        "cms_time_ratio_for_10x_rows": round(
            cms_10x["cms_build_s"] / cms_1x["cms_build_s"], 2
        ),
        "alloc": {"1e5": alloc_1e5, "1e6": alloc_1e6},
        "alloc_time_ratio_for_10x_domains": round(
            alloc_1e6["alloc_s"] / alloc_1e5["alloc_s"], 2
        ),
    }


CASES = {
    "text_ops": text_ops,
    "pair_graph": pair_graph,
    "connected_components": connected_components,
    "minhash_lsh_join": minhash_lsh_join,
    "window_funnel": window_funnel,
    "pagerank": pagerank,
    "hamming_pairs": hamming_pairs,
    "labels_kappa": labels_kappa,
    "ppjoin": ppjoin,
    "bt_bfs_winnow": bt_bfs_winnow,
    "lpa_decon_kmv_hits": lpa_decon_kmv_hits,
    "scd2_intervals": scd2_intervals,
    "cms_allocation": cms_allocation,
}


def main(argv: list[str]) -> None:
    if len(argv) != 1 or argv[0] not in CASES:
        sys.exit(
            "usage: python tools/scalecheck.py <case>\ncases: "
            + ", ".join(CASES)
        )
    spark = get_spark(
        f"scalecheck-{argv[0]}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    print(json.dumps(CASES[argv[0]](spark)))


if __name__ == "__main__":
    main(sys.argv[1:])
