"""Suite-wide physical-plan audit: anti-pattern sweep over every declared
query's executed plan (no execution — plans only, so streaming-drain and
index-building queries are skipped as noted).

Flags, per query:
- CartesianProduct / BroadcastNestedLoopJoin (all-pairs work)
- row-at-a-time PythonUDF in the plan (Arrow batch ops are fine)
- parquet scans with no column pruning (ReadSchema covering >24 columns)

Usage: python tools/plan_audit.py [sf_dir]
Exit 0 iff no query shows an anti-pattern.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# These run a stream / build an on-disk index when CALLED, so building
# their "plan" executes real work; they have dedicated plan/pytest
# coverage instead (tests/test_streaming.py, tests/test_incremental.py).
EXECUTES_ON_CALL = {
    "g12_stream_dedup",
    "g12_stream_asof",
    "s8_stream_extract",
    "g23_incremental_dedup",
    "g24_incremental_neardup",
    "s7_jsonl_roundtrip",
    "s7_orc_roundtrip",
    # temperature_rates collects the per-stratum sizes at query-build time
    "g30_temperature_mix",
    "g16_curate_e2e",
    # curate_funnel checkpoints and counts every curate stage when called
    "g36_curate_funnel",
}

# A BroadcastNestedLoopJoin is the DESIGNED plan when one side is a
# bounded tiny relation attached to every row — flagging it would flag
# the pattern the operator exists to use. Bounded sides here:
# - g4_bm25 / g4_surprisal: ONE row of corpus-level stats (an aggregate)
#   cross-joined back so scoring is a map-side projection.
# - g3_cosine_topk / g3_embedding_neardup / g18_quantized_topk /
#   g3_ivf_topk: the broadcast *query* side (10-100 probe vectors) paired
#   with each corpus row — corpus x queries is the semantics; the corpus
#   side streams, never shuffles.
INTENTIONAL_BNLJ = {
    "g3_cosine_topk",
    # g102_margin_mine: both top-k passes are the g3_cosine_topk
    # broadcast-query-side brute scoring (definitionally all-pairs
    # against the broadcast side); the margin layer itself adds only
    # keyed aggregates and joins. Past the brute regime the candidates
    # come from ivf_topk instead (documented on the operator).
    "g102_margin_mine",
    "g3_ivf_topk",
    "g3_embedding_neardup",
    "g4_bm25",
    "g4_surprisal",
    "g18_quantized_topk",
    # g29_encode/g29_decode: ONE row holding the vocab (or reverse) map,
    # cross-joined so the probe is a map-side transform (g4_bm25 shape).
    "g29_encode",
    "g29_decode",
    # g67_skew_report: the ONE-row corpus-total relation broadcast back
    # onto the per-key counts for the share/salt_need projection (the
    # g4_bm25 shape).
    "g67_skew_report",
    # g95b_fleiss: the ONE-row (S2, N) aggregate cross-joined with the
    # ONE-row T2 aggregate — a 1x1 combine, bounded by construction.
    "g95b_fleiss",
    # g80_rrf_fuse: unions the g3_ivf_topk subplan, inheriting its
    # allowlisted broadcast-query-side BNLJ; the fusion layer itself
    # adds only a combinable aggregate + per-query window.
    "g80_rrf_fuse",
    # g89_collocations: the ONE-row corpus-total relation broadcast
    # back onto the (already min_count-filtered) pair relation for the
    # lift projection — the g4_bm25 shape.
    "g89_collocations",
    # g73_mixture_alloc: two ONE-row relations (live totals, post-
    # saturation remainder) broadcast onto the |domains|-row allocation
    # (the g67/g4_bm25 shape).
    "g73_mixture_alloc",
    # g29_coverage / g38_bigram_lm: ONE-row corpus-total / vocab-size
    # relation cross-joined into the projection (the g4_bm25 shape).
    "g29_coverage",
    "g38_bigram_lm",
    # g105_kn_surprisal: TWO one-row relations (distinct-bigram total B,
    # vocab size V) cross-joined into the scoring projection (the
    # g38/g4_bm25 shape).
    "g105_kn_surprisal",
    # g106_corpus_sim: the |strata|-row pair matrix (inequality
    # broadcast self-join over a handful of strata) plus |strata|-row
    # signature attachments — the |strata|^2 output IS the report's
    # contract; document pairs belong to g94, not here.
    "g106_corpus_sim",
    # g108_kmv_intersect: the |strata|-row sketch-pair matrix (same
    # inequality broadcast self-join contract as g106 — strata are few,
    # the |strata|^2 report IS the output).
    "g108_kmv_intersect",
    # g3_recall / g44_ranking_report: measurement loops that EMBED the
    # brute-force cosine_topk baseline (intentional broadcast-queries
    # cross join) as the exact reference side.
    "g3_recall",
    "g44_ranking_report",
    # g49_dsir_weights: TWO one-row total relations (raw/target feature
    # counts) cross-joined into the bucket-ratio projection (g4_bm25
    # shape — n_buckets rows × 1 × 1).
    "g49_dsir_weights",
    # g50_hard_negatives: the g3_cosine_topk broadcast-anchors cross
    # join (corpus × 20 anchors is the mining semantics; corpus streams).
    "g50_hard_negatives",
    # g54_drift_report: two 1-row snapshot-total relations cross-joined
    # into the bucket-spine projection (the g49/g4_bm25 shape).
    "g54_drift_report",
    # g2_recall_report: the |thresholds|-row spine (a LocalRelation) and
    # a 1-row candidate-count relation cross-joined onto the bounded
    # sample-pair truth — truth-pairs × thresholds is the report's
    # semantics (the g3_recall measurement-loop shape); every input is
    # sample-bounded by construction.
    "g2_recall_report",
}


def main() -> int:
    import __spark_entry__ as entrymod
    from ferc_xbrl_extractor_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(
        "plan_audit", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    # Audit the FINE-GRAINED surface: each operator's own plan (the gate's
    # union suites add only a Union + casts on top of these members).
    bad = []
    for name, fn in entrymod.fine_queries().items():
        if name in EXECUTES_ON_CALL:
            print(f"skip {name} (executes on call; covered by pytest)")
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        problems = []
        if "CartesianProduct" in plan:
            problems.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in INTENTIONAL_BNLJ:
            problems.append("BroadcastNestedLoopJoin")
        if "BatchEvalPython" in plan:
            problems.append("row-at-a-time PythonUDF")
        if problems:
            bad.append((name, problems))
            print(f"FLAG {name}: {', '.join(problems)}")
        else:
            print(f"ok   {name}")
    print(f"\n{len(bad)} flagged" + (f": {[n for n, _ in bad]}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
