"""Training-data curation CLI — the G14-G17 pipeline as a command.

    python -m ferc_xbrl_extractor_spark.curate_cli CORPUS \
        --output OUT [--input-format parquet|jsonl|csv] \
        [--benchmark EVAL_SET] [--neardup-threshold 0.5] [--redact] \
        [--stratum-col source --sample-n N] \
        [--pack-budget 2048 --order-col doc_id] [--shards 16] \
        [--output-format json|parquet|csv] [--manifest]

Reads a document corpus (parquet / JSONL / CSV shards with the
``doc_id, text, ...`` schema), runs ``pipeline.curate.curate_corpus``
(quality filter → optional decontamination → exact dedup → optional
near-dup cluster dedup → optional PII redaction → optional stratified
sample), optionally packs the survivors into fixed-token-budget training
sequences, and delivers balanced shards. Prints ONE JSON summary line.

This is the LLM-side sibling of the reference-parity ``cli.py``
(xbrl_extract surface); no reference counterpart exists.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Curate a text corpus for training.")
    p.add_argument("corpus", help="Input corpus path (file or shard directory).")
    p.add_argument("--output", required=True, help="Output shard directory.")
    p.add_argument(
        "--input-format", choices=["parquet", "jsonl", "csv"], default="parquet"
    )
    p.add_argument(
        "--output-format", choices=["json", "parquet", "csv"], default="json"
    )
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-tokens", type=int, default=10)
    p.add_argument("--max-stopword-ratio", type=float, default=0.5)
    p.add_argument("--min-uniq-ratio", type=float, default=0.3)
    p.add_argument("--max-dup-line-ratio", type=float, default=None)
    p.add_argument("--max-dup-3gram-ratio", type=float, default=None)
    p.add_argument(
        "--min-compression-ratio",
        type=float,
        default=None,
        help="Drop documents whose zlib compressed/raw size ratio falls "
        "below this (G68 — template spam deflates to almost nothing, so "
        "its ratio is far lower than prose's; rides the repetition "
        "screen's drop stage).",
    )
    p.add_argument("--benchmark", help="Eval-suite corpus to decontaminate against.")
    p.add_argument(
        "--benchmark-format", choices=["parquet", "jsonl", "csv"], default="parquet"
    )
    p.add_argument("--min-overlap", type=int, default=5)
    p.add_argument("--neardup-threshold", type=float, default=None)
    p.add_argument(
        "--allowed-scripts",
        nargs="+",
        default=None,
        help="Keep only documents whose dominant Unicode script (G91) "
        "is in this list (e.g. latin cyrillic) — the multilingual "
        "router screen; runs right after c4 cleanup.",
    )
    p.add_argument(
        "--containment-threshold",
        type=float,
        default=None,
        help="Drop documents whose shingle set is >= this contained in "
        "another document's (G90 — excerpt/quote/subset pages a "
        "symmetric near-dup threshold can't catch; runs after exact and "
        "near-dup dedup, lowest id survives mutual containment).",
    )
    p.add_argument(
        "--neardup-keep-by",
        default=None,
        help="Numeric column deciding the near-dup survivor (G52 "
        "quality-keep policy, e.g. n_tokens); default keeps the min id.",
    )
    p.add_argument(
        "--token-budget",
        type=int,
        default=None,
        help="Cap the final corpus at this many tokens, best-scoring "
        "documents first (G48).",
    )
    p.add_argument(
        "--budget-score-col",
        default="stopword_ratio",
        help="Score column ordering --token-budget selection (desc).",
    )
    p.add_argument("--redact", action="store_true", help="Scrub PII from text.")
    p.add_argument("--stratum-col", default=None)
    p.add_argument("--sample-n", type=int, default=None)
    p.add_argument(
        "--trim-spans-n",
        type=int,
        default=None,
        help="Remove cross-document duplicated n-gram spans (G26) of this "
        "gram length from surviving text.",
    )
    p.add_argument(
        "--url-col",
        default=None,
        help="URL column: canonicalize (case/ports/tracking-params/"
        "fragments) and drop refetch duplicates BEFORE every other "
        "stage (G64 — the cheapest attrition runs first).",
    )
    p.add_argument(
        "--domain-col",
        default=None,
        help="Derive a registrable-domain column of this name from "
        "--url-col (G66), usable as --group-cap-col / --stratum-col for "
        "domain balancing.",
    )
    p.add_argument(
        "--suffix-list",
        default=None,
        help="Public-suffix-list file (publicsuffix.org plain-rule "
        "format): exact registrable-domain grouping for --domain-col "
        "instead of the built-in heuristic.",
    )
    p.add_argument(
        "--link-edges",
        default=None,
        help="Parquet path of a (src, dst) link graph over document ids: "
        "rank with G65 PageRank and attach the link_rank quality prior "
        "(usable as --budget-score-col link_rank).",
    )
    p.add_argument(
        "--link-ranks",
        default=None,
        help="Parquet path of a precomputed (node, node_rank) relation "
        "(e.g. a prior pagerank output) instead of --link-edges.",
    )
    p.add_argument(
        "--min-link-rank",
        type=int,
        default=None,
        help="Drop ranked documents with link_rank below this (stage "
        "'linkrank'); unranked documents always pass.",
    )
    p.add_argument("--link-rank-iters", type=int, default=3)
    p.add_argument(
        "--c4",
        action="store_true",
        help="Apply the C4 cleaning rule-pack (G61) first: line-level "
        "terminal-punct/word-count screens, page-level brace / lorem-ipsum "
        "/ min-kept-lines drops.",
    )
    p.add_argument(
        "--group-cap",
        type=int,
        default=None,
        help="Per-group document cap (G59 domain balancing): keep at most "
        "this many docs per --group-cap-col value, best by "
        "--budget-score-col.",
    )
    p.add_argument("--group-cap-col", default="source")
    p.add_argument(
        "--encode-vocab-size",
        type=int,
        default=None,
        help="Append integer token_ids (G29) against a top-V vocabulary "
        "built from the final survivors.",
    )
    p.add_argument(
        "--pack-budget",
        type=int,
        default=None,
        help="Emit materialized training sequences of this token budget "
        "instead of documents.",
    )
    p.add_argument("--pack-by", default=None, help="Stream column for packing.")
    p.add_argument("--shards", type=int, default=16)
    p.add_argument(
        "--manifest",
        action="store_true",
        help="Commit the output with a _MANIFEST.json (exactly-once "
        "publish: a retried run that finds a committed manifest skips "
        "the write; see pipeline/shards.py).",
    )
    return p.parse_args(argv)


def _load(spark, path: str, fmt: str, schema: str | None = None):
    from ferc_xbrl_extractor_spark.sources import corpus

    if fmt == "jsonl":
        return corpus.load_documents_json(spark, path, schema or corpus.DOC_SCHEMA)
    if fmt == "csv":
        return corpus.load_documents_csv(spark, path, schema or corpus.DOC_SCHEMA)
    return spark.read.parquet(path)


def run_main(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from ferc_xbrl_extractor_spark.operators import packing, text
    from ferc_xbrl_extractor_spark.pipeline.curate import curate_corpus
    from ferc_xbrl_extractor_spark.session import get_spark
    from ferc_xbrl_extractor_spark.sources.corpus import write_corpus_shards

    spark = get_spark("curate-cli")
    docs = _load(spark, args.corpus, args.input_format)
    n_in = docs.count()
    benchmark = (
        _load(spark, args.benchmark, args.benchmark_format)
        if args.benchmark
        else None
    )
    curated = curate_corpus(
        docs,
        benchmark,
        id_col=args.id_col,
        text_col=args.text_col,
        min_tokens=args.min_tokens,
        max_stopword_ratio=args.max_stopword_ratio,
        min_uniq_ratio=args.min_uniq_ratio,
        min_overlap=args.min_overlap,
        url_col=args.url_col,
        domain_col=args.domain_col,
        domain_suffixes=(
            text.load_public_suffixes(spark, args.suffix_list)
            if args.suffix_list
            else None
        ),
        link_edges=(
            spark.read.parquet(args.link_edges) if args.link_edges else None
        ),
        link_ranks=(
            spark.read.parquet(args.link_ranks) if args.link_ranks else None
        ),
        min_link_rank=args.min_link_rank,
        link_rank_iters=args.link_rank_iters,
        max_dup_line_ratio=args.max_dup_line_ratio,
        max_dup_3gram_ratio=args.max_dup_3gram_ratio,
        min_compression_ratio=args.min_compression_ratio,
        neardup_threshold=args.neardup_threshold,
        neardup_keep_by=args.neardup_keep_by,
        containment_threshold=args.containment_threshold,
        allowed_scripts=args.allowed_scripts,
        redact=args.redact,
        stratum_col=args.stratum_col,
        sample_n=args.sample_n,
        trim_spans_n=args.trim_spans_n,
        c4=args.c4,
        group_cap=args.group_cap,
        group_cap_col=args.group_cap_col,
        token_budget=args.token_budget,
        budget_score_col=args.budget_score_col,
        encode_vocab_size=args.encode_vocab_size,
    )
    if args.pack_budget:
        sized = curated.withColumn(
            "__n_tok", text.token_counts(curated, args.text_col)
        )
        packed = packing.pack_sequences(
            sized,
            order_col=args.id_col,
            token_col="__n_tok",
            budget=args.pack_budget,
            by=args.pack_by,
        )
        out = packing.materialize_sequences(
            packed,
            text_col=args.text_col,
            by=args.pack_by,
        )
    else:
        out = curated
    # Stage once: count and write from one materialization of the plan.
    out = out.persist()
    n_out = out.count()
    summary = {
        "input_rows": n_in,
        "output_rows": n_out,
        "output": args.output,
        "format": args.output_format,
        "shards": args.shards,
        "packed": bool(args.pack_budget),
    }
    if args.manifest:
        from ferc_xbrl_extractor_spark.pipeline.shards import publish_shards

        res = publish_shards(
            out, args.output, args.shards, fmt=args.output_format
        )
        summary["published"] = res["published"]
        summary["fingerprint"] = res["fingerprint"]
    else:
        write_corpus_shards(
            out, args.output, args.shards, fmt=args.output_format
        )
    out.unpersist()
    print(json.dumps(summary))
    return 0


def main() -> int:
    return run_main(parse(sys.argv[1:]))


if __name__ == "__main__":
    sys.exit(main())
