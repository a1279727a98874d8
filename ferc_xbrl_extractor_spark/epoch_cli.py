"""Training-epoch build CLI — the G40/G39/G17 capstone as a command.

    python -m ferc_xbrl_extractor_spark.epoch_cli CORPUS \
        --output OUT [--input-format parquet|jsonl|csv] \
        [--rates web=1.5,books=4.3 --key-col source --default-rate 1.0] \
        [--target-weights web=8,code=3 --token-budget 1000000] \
        [--budget 2048] [--by source] [--salt s1] [--token-col n_tok] \
        [--materialize] [--shards 16] \
        [--output-format parquet|json|csv] [--manifest]

Reads a (curated) document corpus, builds one epoch's training layout —
fractional-epoch mixture repetition → deterministic global shuffle →
fixed-token-budget sequence packing (``pipeline.epoch.build_epoch``) —
and delivers balanced shards. ``--materialize`` emits per-sequence rows
(concatenated text) instead of the per-document-copy assignment;
``--manifest`` commits the output exactly-once via
``pipeline.shards.publish_shards``. Prints ONE JSON summary line.

Deterministic end to end: the same (corpus, rates, salt, budget)
arguments reproduce the identical epoch on any cluster layout.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_weights(spec: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for part in spec.split(","):
        if not part:
            continue
        key, sep, val = part.partition("=")
        try:
            weight = int(val)
        except ValueError:
            weight = None
        if not sep or not key or weight is None:
            raise SystemExit(
                "--target-weights entries must look like "
                f"stratum=integer_weight, got {part!r}"
            )
        out[key] = weight
    return out


def _parse_rates(spec: str | None) -> dict[str, float] | None:
    if not spec:
        return None
    out: dict[str, float] = {}
    for part in spec.split(","):
        if not part:
            continue
        key, _, val = part.partition("=")
        if not _ or not key:
            raise SystemExit(
                f"--rates entries must look like stratum=rate, got {part!r}"
            )
        out[key] = float(val)
    return out


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="epoch_cli", description=__doc__.splitlines()[0]
    )
    p.add_argument("corpus", help="Input corpus path (file or shard dir).")
    p.add_argument("--output", required=True, help="Output shard directory.")
    p.add_argument(
        "--input-format", choices=["parquet", "jsonl", "csv"],
        default="parquet",
    )
    p.add_argument(
        "--output-format", choices=["parquet", "json", "csv"],
        default="parquet",
    )
    p.add_argument("--rates", help="Mixture spec: stratum=epochs[,...]")
    p.add_argument(
        "--target-weights",
        help="G73 water-filling: stratum=weight[,...] target mixture; "
        "with --token-budget, derives supply-feasible rates instead of "
        "--rates (mutually exclusive with it).",
    )
    p.add_argument(
        "--token-budget", type=int,
        help="Total token budget for --target-weights.",
    )
    p.add_argument(
        "--default-weight", type=int, default=1,
        help="Weight for strata missing from --target-weights.",
    )
    p.add_argument("--key-col", default="source")
    p.add_argument("--default-rate", type=float, default=1.0)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--token-col", help="Precomputed token-count column.")
    p.add_argument("--salt", default="")
    p.add_argument("--budget", type=int, default=2048)
    p.add_argument("--by", help="Pack within these stratum values.")
    p.add_argument("--materialize", action="store_true")
    p.add_argument("--shards", type=int, default=16)
    p.add_argument(
        "--manifest", action="store_true",
        help="Commit the output with a _MANIFEST.json (exactly-once).",
    )
    return p.parse_args(argv)


def run_main(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from ferc_xbrl_extractor_spark.pipeline.epoch import build_epoch
    from ferc_xbrl_extractor_spark.session import get_spark
    from ferc_xbrl_extractor_spark.sources.corpus import (
        load_documents_csv,
        load_documents_json,
        write_corpus_shards,
    )

    spark = get_spark("epoch-cli")
    if args.input_format == "parquet":
        docs = spark.read.parquet(args.corpus)
    elif args.input_format == "jsonl":
        docs = load_documents_json(spark, args.corpus)
    else:
        docs = load_documents_csv(spark, args.corpus)

    if args.target_weights and args.rates:
        raise SystemExit("--target-weights and --rates are mutually exclusive")
    if bool(args.target_weights) != (args.token_budget is not None):
        raise SystemExit("--target-weights and --token-budget go together")
    if args.target_weights:
        from ferc_xbrl_extractor_spark.pipeline.epoch import mixture_rates

        weights = _parse_weights(args.target_weights)
        rates = mixture_rates(
            docs,
            budget=args.token_budget,
            weights=weights,
            key_col=args.key_col,
            text_col=args.text_col,
            token_col=args.token_col,
            default_weight=args.default_weight,
        )
    else:
        rates = _parse_rates(args.rates)

    epoch = build_epoch(
        docs,
        rates=rates,
        key_col=args.key_col,
        default_rate=args.default_rate,
        id_col=args.id_col,
        text_col=args.text_col,
        token_col=args.token_col,
        salt=args.salt,
        budget=args.budget,
        by=args.by,
        materialize=args.materialize,
    )
    epoch = epoch.persist()
    n_rows = epoch.count()
    n_seqs = (
        n_rows
        if args.materialize
        else epoch.agg(
            F.countDistinct(*(["seq_id"] + ([args.by] if args.by else [])))
        ).collect()[0][0]
    )
    summary = {
        "input_rows": docs.count(),
        **(
            {"derived_rates": {k: rates[k] for k in sorted(rates)}}
            if args.target_weights
            else {}
        ),
        "epoch_rows": n_rows,
        "sequences": int(n_seqs),
        "budget": args.budget,
        "materialized": bool(args.materialize),
        "output": args.output,
        "format": args.output_format,
        "shards": args.shards,
    }
    if args.manifest:
        from ferc_xbrl_extractor_spark.pipeline.shards import publish_shards

        res = publish_shards(
            epoch, args.output, args.shards, fmt=args.output_format
        )
        summary["published"] = res["published"]
        summary["fingerprint"] = res["fingerprint"]
    else:
        write_corpus_shards(
            epoch, args.output, args.shards, fmt=args.output_format
        )
    epoch.unpersist()
    print(json.dumps(summary))
    return 0


def main() -> int:
    return run_main(parse(sys.argv[1:]))


if __name__ == "__main__":
    raise SystemExit(main())
