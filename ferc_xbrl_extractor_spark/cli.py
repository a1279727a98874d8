"""CLI matching the reference's ``xbrl_extract`` surface
(/root/reference/src/ferc_xbrl_extractor/cli.py:22-94,130-188), Spark-first.

Run as ``python -m ferc_xbrl_extractor_spark.cli FILINGS... [options]``.

Differences from the reference, deliberate:
- ``--workers`` / ``--batch-size`` are accepted but ignored with a note —
  Spark owns parallelism and batching (the reference's hand-rolled process
  pool is exactly what the engine replaces, SURVEY.md §2.10/F11);
- ``--frozen-catalog`` reads a ``specs_to_json`` document instead of a
  taxonomy archive — the Arelle-free fast path for repeated runs.
"""

from __future__ import annotations

import argparse
import json
import logging
import sys
from pathlib import Path

logger = logging.getLogger(__name__)


def parse(argv: list[str]) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        description="Extract data from XBRL filings to SQLite, DuckDB or Parquet."
    )
    parser.add_argument(
        "filings",
        nargs="+",
        help="Path to a single XBRL filing, a directory of XBRL filings, "
        "or a zipfile containing XBRL filings.",
    )
    parser.add_argument("--output-dir", type=Path, help="Parquet output directory.")
    parser.add_argument("--sqlite-path", type=Path, help="SQLite DB output path.")
    parser.add_argument("--duckdb-path", type=Path, help="DuckDB DB output path.")
    parser.add_argument(
        "-t", "--taxonomy", help="Path to archive of all taxonomy versions."
    )
    parser.add_argument(
        "--frozen-catalog", help="Path to a frozen TableSpec JSON catalog."
    )
    parser.add_argument(
        "-f",
        "--form-number",
        type=int,
        default=1,
        help="FERC form number (names the datapackage descriptor).",
    )
    parser.add_argument(
        "--datapackage-path", type=Path, help="Write datapackage descriptor JSON here."
    )
    parser.add_argument(
        "--metadata-path", type=Path, help="Write taxonomy metadata JSON here (K5)."
    )
    parser.add_argument(
        "--freeze-catalog-path",
        type=Path,
        help="Freeze the parsed taxonomy catalog to JSON here.",
    )
    parser.add_argument(
        "--instance-pattern",
        default="",
        help="Filing-name regex in Python re syntax, matched anywhere in the "
        "name (re.search).",
    )
    parser.add_argument(
        "--requested-tables",
        nargs="+",
        default=None,
        help="Table names to extract (with _duration/_instant suffix).",
    )
    parser.add_argument(
        "--strict",
        action="store_true",
        help="Fail on unresolvable duplicate facts (reference ValueError "
        "semantics) instead of quarantining them.",
    )
    parser.add_argument(
        "--single-file-parquet",
        action="store_true",
        help="Coalesce each output table to one plain {name}.parquet FILE "
        "(reference one-file-per-table layout) instead of a directory of "
        "part files.",
    )
    parser.add_argument("-b", "--batch-size", type=int, default=None)
    parser.add_argument("-w", "--workers", type=int, default=None)
    parser.add_argument("--loglevel", default="INFO")
    parser.add_argument("--logfile", type=Path, default=None)
    return parser.parse_args(argv)


def run_main(args: argparse.Namespace) -> int:
    from ferc_xbrl_extractor_spark.catalog.tablespec import (
        specs_from_json,
        specs_to_json,
    )
    from ferc_xbrl_extractor_spark.pipeline import sinks
    from ferc_xbrl_extractor_spark.pipeline.extract import extract
    from ferc_xbrl_extractor_spark.session import get_spark

    logging.basicConfig(
        level=args.loglevel,
        filename=str(args.logfile) if args.logfile else None,
        format="%(asctime)s %(levelname)s %(name)s %(message)s",
    )
    if args.workers or args.batch_size:
        logger.info(
            "--workers/--batch-size are ignored: Spark schedules parallelism "
            "and batching (set SPARK_GRAFT_CPUS / master instead)."
        )

    if args.frozen_catalog:
        specs = specs_from_json(args.frozen_catalog)
        versions = None
    elif args.taxonomy:
        from ferc_xbrl_extractor_spark.catalog.taxonomy_xml import (
            catalog_from_version,
            merge_catalogs,
            parse_taxonomy_archive,
        )

        versions = parse_taxonomy_archive(args.taxonomy)
        specs = merge_catalogs(
            {d: catalog_from_version(v) for d, v in sorted(versions.items())}
        )
    else:
        logger.error("one of --taxonomy or --frozen-catalog is required")
        return 2

    logger.info("catalog: %d tables", len(specs))
    if args.freeze_catalog_path:
        args.freeze_catalog_path.write_text(json.dumps(specs_to_json(specs), indent=1))
    if args.metadata_path:
        if versions is None:
            logger.error("--metadata-path requires --taxonomy (not a frozen catalog)")
            return 2
        from ferc_xbrl_extractor_spark.catalog.taxonomy_xml import (
            metadata_from_versions,
        )

        args.metadata_path.write_text(json.dumps(metadata_from_versions(versions)))
    if args.datapackage_path:
        db_uri = f"sqlite:///{args.sqlite_path}" if args.sqlite_path else None
        sinks.write_datapackage(specs, str(args.datapackage_path), db_uri=db_uri)

    if not (args.output_dir or args.sqlite_path or args.duckdb_path):
        logger.info("no data sink requested; schema artifacts written, done")
        return 0

    spark = get_spark("xbrl-extract")
    result = extract(
        spark,
        args.filings,
        specs,
        instance_pattern=args.instance_pattern or None,
        requested_tables=args.requested_tables,
    )
    # ONE execution per table plan: stage-first with footer-based empty
    # table dropping (no per-table isEmpty probes, which executed every
    # plan twice — 2×255 serial jobs on a Form-1 run). output_dir, when
    # given, doubles as staging and gets a parquet-flavored
    # datapackage.json (reference cli.py:185-230).
    try:
        if args.strict:
            result.raise_on_conflicts()
        counts = sinks.stage_and_sink(
            result.tables,
            specs=specs,
            output_dir=str(args.output_dir) if args.output_dir else None,
            sqlite_path=str(args.sqlite_path) if args.sqlite_path else None,
            duckdb_path=str(args.duckdb_path) if args.duckdb_path else None,
            single_file=args.single_file_parquet,
        )
        logger.info(
            "extracted %d non-empty tables", sum(1 for c in counts.values() if c)
        )
    finally:
        result.shredded.unpersist()
    return 0


def main() -> int:
    return run_main(parse(sys.argv[1:]))


if __name__ == "__main__":
    sys.exit(main())
