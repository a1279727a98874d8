"""Operator library: SURVEY.md §2 inventory as pure DataFrame transforms.

Submodules: filters (P1-P7), dedup (A2/A3/G1), fact_table (the per-table
pipeline), joins (J1/J2/G9), stats (A4-A8), analytics (G5-G8/G10),
text (G4), labels (G81 crowd-label aggregation), neardup (G2 + G46
split-leakage audit), similarity (G3 + G27 semantic pairs + G50
hard-negative mining), spans (G26 duplicated-span detection), multimodal
(G11 media plumbing and perceptual hashes), bloom (G15 bloom
prefilter), quality (G20 one-pass constraint suites), classifier
(G28 train/score quality filter), vocab (G29 vocab build + encoding),
layout (G25 Z-order key), sampling (G14 splits/samples + G47
leakage-safe split + G48 token-budget selection + G49 DSIR importance
weights).
"""

from ferc_xbrl_extractor_spark.operators import (  # noqa: F401
    analytics,
    bloom,
    classifier,
    labels,
    multimodal,
    neardup,
    quality,
    similarity,
    spans,
    text,
    vocab,
)
from ferc_xbrl_extractor_spark.operators.dedup import (
    dedup_exact,
    dedup_exact_keep,
    fuzzy_dedup,
)
from ferc_xbrl_extractor_spark.operators.fact_table import (
    construct_table,
    construct_table_with_errors,
)
from ferc_xbrl_extractor_spark.operators.filters import at_least_one_non_null

__all__ = [
    "analytics",
    "bloom",
    "multimodal",
    "neardup",
    "quality",
    "similarity",
    "text",
    "dedup_exact",
    "dedup_exact_keep",
    "fuzzy_dedup",
    "construct_table",
    "construct_table_with_errors",
    "at_least_one_non_null",
]
