"""Second-axis scale evidence: time the heavyweight text/embedding
operators on a synthesized 10× corpus (50k docs from sf0.1's 5k, ids
remapped, one per-copy salt token appended so copies are near- but not
exact duplicates), alongside the sf0.1 numbers.

The bench suite already records an sf0.01→sf0.1 slope per query; this
tool extends the axis one more decade for the operators whose cost is
dominated by per-token work (span detection, shingling, vocab build,
classifier scoring) — the ones whose 100-TB behavior the slope argues
for. Writes nothing to the repo; corpus lands in /tmp.

Usage: python tools/scalecheck.py  → one JSON line for BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ferc_xbrl_extractor_spark.operators import (  # noqa: E402
    classifier,
    neardup,
    sampling,
    similarity,
    spans,
    text,
    vocab,
)
from ferc_xbrl_extractor_spark.session import get_spark  # noqa: E402


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
    from ferc_xbrl_extractor_spark.pipeline.incremental import corpus_diff

    v2 = df.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 1, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(df, v2).count()


def build_blocked_100x(spark, src: str, path: str) -> None:
    """Third-decade corpus (500k docs): 10 BLOCKS × 10 salt copies per
    original. Within a (original, block) group the 10 copies are mutual
    near-dups (the same 10-clique as the 50k tier); ACROSS blocks every
    3rd token carries a block tag, so almost no 3-gram survives intact
    and blocks never pair. The pair graph therefore grows 10× (more
    cliques), not 100× (bigger cliques) — constant duplication RATE,
    which is how real corpora scale; a 100-clique tier would instead
    measure output growth (the r5 g47 caveat)."""
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


def pairgraph_three_decades() -> None:
    """Three-decade slope evidence for the pair-graph family
    (g2_cluster_dedup, g24_incremental_neardup, g47_leakage_safe_split):
    5k → 50k → 500k docs. Each case's time is reported next to its tier's
    PAIR-GRAPH size — sub-linearity is claimed in the graph the operator
    actually processes (salt-copy corpora are duplication-dense by
    construction; see build_blocked_100x). Run: python tools/scalecheck.py
    pairgraph (writes one JSON line; corpora land in /tmp)."""
    import shutil

    from ferc_xbrl_extractor_spark.pipeline import incremental

    spark = get_spark(
        "scalecheck3", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
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
    print(json.dumps({"pairgraph_three_decades": out}))
    shutil.rmtree(t10, ignore_errors=True)
    shutil.rmtree(t100, ignore_errors=True)


def chain_graph_tiers() -> None:
    """Chain-shaped pair-graph tier (VERDICT r7 #4): one path graph of
    100k and 1M edges — diameter = |E|, the adversarial shape for
    min-label propagation — through connected_components, which
    probes propagation for 4 bounded rounds and restarts on the
    large-star/small-star contraction (O(log n) alternations). The
    sub-linear time ratio for 10× edges is the evidence that the
    graph-driven choice handles high-diameter graphs AT SCALE, not just
    on the pytest fixture. Run: python tools/scalecheck.py chain."""
    spark = get_spark(
        "scalecheck_chain",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    out: dict = {}
    for n in (100_000, 1_000_000):
        edges = spark.range(1, n).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )

        def run(e=edges):
            labels = neardup.connected_components(e)
            # correctness rides the measurement: one component, min=1
            assert (
                labels.agg(
                    F.count_distinct("label"), F.min("label")
                ).first()
                == (1, 1)
            )

        out[str(n)] = {"edges": n, "cc_s": timeit(run, reps=1)}
    tiers = sorted(out)
    ratio = out[tiers[1]]["cc_s"] / max(out[tiers[0]]["cc_s"], 1e-9)
    print(
        json.dumps(
            {
                "record": "scalecheck_chain",
                "op": "connected_components",
                "tiers": out,
                "time_ratio_for_10x_edges": round(ratio, 2),
            }
        )
    )


def _window_form_spans_count(df) -> int:
    """G26 window form, reached by making the form probe see no hot gram."""
    with mock.patch.object(spans, "probe_hot_gram", return_value=False):
        return spans.duplicated_spans(df, n=8).count()


def timeit(fn, reps: int = 2) -> float:
    fn()  # warm
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    spark = get_spark(
        "scalecheck", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    big_path = f"/tmp/spark_graft_10x_{os.getpid()}"
    build_10x(spark, f"{src}/documents.parquet", big_path)

    def load(p):
        return spark.read.parquet(p)

    small = f"{src}/documents.parquet"
    cases = {
        # the form probe picks the aggregate+semi-join or the window form
        "g26_dup_spans": lambda df: spans.duplicated_spans(df, n=8).count(),
        "g26_window_form": _window_form_spans_count,
        "g34_gopher_rules": lambda df: text.gopher_rules(df).count(),
        # r5 fourth session: HTML strip is pure map-side regex work —
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
        # r5 third-session additions: split-QA + selection decade cases.
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
    for name, fn in cases.items():
        t_small = timeit(lambda: fn(load(small)))
        t_big = timeit(lambda: fn(load(big_path)))
        out[name] = {
            "sf0.1_s": t_small,
            "10x_s": t_big,
            "time_ratio_for_10x_data": round(t_big / t_small, 2)
            if t_small
            else None,
        }

    # Embedding-side decade: the corpus grows 10x, the benchmark set
    # (the realistic fixed side) stays at 256 vectors.
    emb_small = f"{src}/embeddings.parquet"
    emb_big = f"/tmp/spark_graft_10x_emb_{os.getpid()}"
    build_10x_emb(spark, emb_small, emb_big)
    bench = load(emb_small).filter(F.col("vec_id") < 256)
    emb_cases = {
        "g42_semantic_decon": lambda df: similarity.semantic_decontaminate(
            df, bench, threshold=0.9, max_benchmark=300
        ).count(),
    }
    for name, fn in emb_cases.items():
        t_small = timeit(lambda: fn(load(emb_small)))
        t_big = timeit(lambda: fn(load(emb_big)))
        out[name] = {
            "sf0.1_s": t_small,
            "10x_s": t_big,
            "time_ratio_for_10x_data": round(t_big / t_small, 2)
            if t_small
            else None,
        }
    print(json.dumps({"scalecheck": out, "docs_small": 5000, "docs_big": 50000}))

    import shutil

    shutil.rmtree(big_path, ignore_errors=True)
    shutil.rmtree(emb_big, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "pairgraph":
        pairgraph_three_decades()
    elif len(sys.argv) > 1 and sys.argv[1] == "chain":
        chain_graph_tiers()
    else:
        main()
