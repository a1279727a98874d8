"""Filing scans (SURVEY.md §2.1 S1/S2/S5).

Spark-first shape: the unit of parallelism is the *file* in a ``binaryFile``
listing, and the file source's own packing spreads the files over tasks
(min(files, cores) partitions for small files, balanced by size, with no
shuffle). A loose ``.xbrl`` file is one filing. A zip archive is one listing
row whose ``.xbrl`` members are its filings; zips are not splittable, so
every member of one zip is read by the task that holds the zip (at
production scale FERC publishes one zip per form-year, and a cluster reads
many zips concurrently).

``filings_of`` is the one generator that turns listing rows into filings.
``scan_filings`` runs it in a ``mapInPandas`` to return the filings
themselves; ``shredder.shred_paths`` runs it inside the shred, so a
member's bytes enter Python once and only shredded rows come back. The
instance-name regex (reference xbrl.py:67-72) is tested on each name
before the member's bytes are read from the archive.

Reference behavior pinned: instances_from_zip / get_instances
(/root/reference/src/ferc_xbrl_extractor/instance.py:411-484), including the
``rssfeed`` JSON sidecar providing per-filing publication_time (UTC,
tz-naive) and taxonomy_version.
"""

from __future__ import annotations

import datetime
import io
import json
import re
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FILING_SCHEMA = T.StructType(
    [
        T.StructField("filing_name", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
        T.StructField("publication_time", T.TimestampType(), True),
        T.StructField("taxonomy_version", T.StringType(), True),
    ]
)


def _parse_rssfeed(raw: bytes) -> tuple[dict[str, datetime.datetime], dict[str, str]]:
    """Decode the zip's ``rssfeed`` member: filename -> (publication_time,
    taxonomy_version). Publication times are normalized to naive UTC."""
    meta = json.loads(raw)
    pub_times: dict[str, datetime.datetime] = {}
    tax_versions: dict[str, str] = {}
    for filers in meta.values():
        for filing in filers:
            ts = datetime.datetime.fromisoformat(
                filing["rss_metadata"]["published_parsed"]
            )
            pub_times[filing["filename"]] = ts.astimezone(
                datetime.timezone.utc
            ).replace(tzinfo=None)
            tax_versions[filing["filename"]] = filing.get("taxonomy_zip_name")
    return pub_times, tax_versions


def list_files(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """The ``binaryFile`` listing (path, content) of every ``.xbrl`` and
    ``.zip`` file under ``path``, recursively.

    ``path`` may be a single path or a list (the CLI's ``nargs='+'``
    surface, reference get_instances per filing source) — passed through
    to ``load`` as a list; a comma-joined string would be read as ONE
    literal path by Spark's file sources and match nothing.
    """
    paths = [path] if isinstance(path, str) else list(path)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{xbrl,zip}")
        .option("recursiveFileLookup", "true")
        .load(paths)
        .select("path", "content")
    )


def compile_instance_pattern(instance_pattern: str | None) -> re.Pattern | None:
    """Compile the instance-name regex on the driver, so a bad pattern
    fails when the plan is built, not in a worker. The syntax is Python
    ``re`` (the reference's), not Java's: a Java-only construct such as
    ``\\p{Alpha}`` or ``(?<name>...)`` raises ``ValueError``."""
    if not instance_pattern:
        return None
    try:
        return re.compile(instance_pattern)
    except re.error as e:
        raise ValueError(
            f"instance pattern {instance_pattern!r} is not a Python re "
            f"regular expression: {e}"
        ) from e


def filings_of(
    listing: pd.DataFrame,
    pattern: re.Pattern | None = None,
    publication_time: datetime.datetime | None = None,
) -> Iterator[tuple]:
    """Listing rows (path, content) -> one (filing_name, content,
    publication_time, taxonomy_version) tuple per filing.

    A loose ``.xbrl`` file is one filing named by its file name without
    ``.xbrl``. It has NO publication time (reference parity,
    instance.py:454-484) unless the caller passes ``publication_time``;
    never the file mtime, which changes on copy, since publication_time is
    part of every table's primary key.

    A ``.zip`` yields its ``.xbrl`` members, named by the member's base
    name without ``.xbrl``, with publication time and taxonomy version
    from its ``rssfeed`` member when that lists them.

    ``pattern`` keeps only filings whose name it matches anywhere
    (``re.search``: the find-anywhere semantics of Spark's ``rlike`` and of
    the reference's Python ``re`` filter). A member is tested before its
    bytes are read from the archive.
    """
    for path, content in zip(listing["path"], listing["content"]):
        if not path.endswith(".zip"):
            name = path.rsplit("/", 1)[-1].removesuffix(".xbrl")
            if pattern is None or pattern.search(name):
                yield name, content, publication_time, None
            continue
        with zipfile.ZipFile(io.BytesIO(content)) as archive:
            names = archive.namelist()
            pub_times: dict[str, datetime.datetime] = {}
            tax_versions: dict[str, str] = {}
            if "rssfeed" in names:
                pub_times, tax_versions = _parse_rssfeed(archive.read("rssfeed"))
            for member in names:
                if not member.endswith(".xbrl"):
                    continue
                name = member.rsplit("/", 1)[-1][: -len(".xbrl")]
                if pattern is not None and not pattern.search(name):
                    continue
                yield (
                    name,
                    archive.read(member),
                    pub_times.get(member),
                    tax_versions.get(member),
                )


def scan_filings(
    spark: SparkSession,
    path: str | list[str],
    instance_pattern: str | None = None,
    publication_time: datetime.datetime | None = None,
) -> DataFrame:
    """Scan directories of ``.xbrl`` files and/or zip archives into a
    filings DataFrame (filing_name, content, publication_time,
    taxonomy_version): one ``mapInPandas`` of ``filings_of`` over the
    listing.

    ``instance_pattern`` filters filing *names* before any XML parsing —
    the cheap pre-scan predicate (reference S5). The extract itself does
    not go through here: ``shredder.shred_paths`` shreds the same filings
    in the same pass that finds them.
    """
    pattern = compile_instance_pattern(instance_pattern)
    columns = FILING_SCHEMA.fieldNames()

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for listing in batches:
            rows = list(filings_of(listing, pattern, publication_time))
            if rows:
                yield pd.DataFrame(rows, columns=columns)

    return list_files(spark, path).mapInPandas(explode, schema=FILING_SCHEMA)
