"""The XML shredder (SURVEY.md §2.1 S3): filing bytes -> long relations.

This is the engine's one UDTF-shaped custom source: a ``mapInPandas`` that
runs an XML parse per filing and emits a single long DataFrame holding
both record kinds (``fact`` and ``context``), discriminated by
``record_type``. ``shred_paths`` (the extract's path) runs it straight over
the file listing, opening zips in the same pass; ``shred_filings`` runs it
over an existing filings DataFrame (streaming ingest, in-plan documents).
Both share one per-filing kernel. Downstream, ``facts_from``/
``contexts_from`` are cheap filters over the cached shredded relation.

Scale design decision (the big departure from the reference, which keeps
facts and contexts separate and joins them per table —
/root/reference/src/ferc_xbrl_extractor/datapackage.py:446-453): a fact and
its context always live in the *same file*, so the shredder denormalizes the
context's primary-key fields (entity, period, dims) onto every fact row
**map-side**. The per-table context join therefore costs zero shuffles at
any scale; each output table needs exactly one shuffle (the pivot groupBy).
At 100 TB this removes ~255 joins per run.

Reference semantics pinned (instance.py:350-408):
- contexts: id, entity identifier, segment dimensions (explicit/typed,
  XML prefix stripped, names snakecased), instant vs duration period;
- facts: elements in the ``fact_prefix`` namespace carrying @contextRef;
  name snakecased; facts with null text dropped (P1) at parse time;
- per-filing ``report_date`` = first ``report_date`` duration fact, falling
  back to ``certifying_official_date`` (the FERC-714 workaround,
  instance.py:294-303).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterable, Iterator
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferc_xbrl_extractor_spark.functions.naming import snakecase as _snakecase_raw
from ferc_xbrl_extractor_spark.functions.naming import strip_xml_prefix
from ferc_xbrl_extractor_spark.sources.filings import (
    compile_instance_pattern,
    filings_of,
    list_files,
)

# Tag and dimension names repeat across every fact/context in a filing
# (an XBRL taxonomy has a bounded vocabulary); the two-regex snakecase
# cost ~18% of shred_one on the sf0.1 roundtrip fixture (26k calls,
# profiled). Pure function -> memoize; the cap bounds adversarial input.
snakecase = lru_cache(maxsize=65536)(_snakecase_raw)

XBRL_INSTANCE = "http://www.xbrl.org/2003/instance"

SHREDDED_SCHEMA = T.StructType(
    [
        T.StructField("record_type", T.StringType(), False),  # 'fact' | 'context'
        T.StructField("filing_name", T.StringType(), False),
        T.StructField("c_id", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), True),
        T.StructField("instant", T.BooleanType(), True),
        T.StructField("start_date", T.StringType(), True),
        T.StructField("end_date", T.StringType(), True),
        T.StructField("dims", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("name", T.StringType(), True),  # facts only
        T.StructField("value", T.StringType(), True),  # facts only
        T.StructField("publication_time", T.TimestampType(), True),
        T.StructField("taxonomy_version", T.StringType(), True),
        T.StructField("report_date", T.StringType(), True),
    ]
)


def _parse_context(elem: ET.Element) -> dict | None:
    """One <context> element -> flat dict (entity, period, dims)."""
    entity = elem.find(f"{{{XBRL_INSTANCE}}}entity")
    period = elem.find(f"{{{XBRL_INSTANCE}}}period")
    if entity is None or period is None:
        return None
    ident = entity.find(f"{{{XBRL_INSTANCE}}}identifier")
    segment = entity.find(f"{{{XBRL_INSTANCE}}}segment")
    dims: dict[str, str] = {}
    if segment is not None:
        for child in segment:
            tag = child.tag
            if tag.endswith("explicitMember"):
                name = snakecase(strip_xml_prefix(child.attrib["dimension"]))
                dims[name] = (child.text or "").strip()
            elif tag.endswith("typedMember"):
                name = snakecase(strip_xml_prefix(child.attrib["dimension"]))
                sub = list(child)
                dims[name] = (sub[0].text or "") if sub else ""
            else:
                raise ValueError("XBRL dimension not formatted correctly")
    instant_el = period.find(f"{{{XBRL_INSTANCE}}}instant")
    if instant_el is not None:
        inst, start, end = True, None, instant_el.text
    else:
        start_el = period.find(f"{{{XBRL_INSTANCE}}}startDate")
        end_el = period.find(f"{{{XBRL_INSTANCE}}}endDate")
        inst = False
        start = start_el.text if start_el is not None else None
        end = end_el.text if end_el is not None else None
    return {
        "c_id": elem.attrib["id"],
        "entity_id": ident.text if ident is not None else None,
        "instant": inst,
        "start_date": start,
        "end_date": end,
        "dims": dims,
    }


def shred_one(content: bytes, fact_prefix: str = "ferc") -> tuple[list[dict], list[dict]]:
    """Parse one filing's bytes into (contexts, facts) row dicts.

    Pure function (no Spark) so unit tests can pin parser semantics against
    the reference's conftest fixture document directly.
    """
    # Collect prefix->uri mappings so facts can be selected by namespace
    # (ElementTree does not retain prefixes on parsed elements). Only
    # ``start-ns`` events are requested — iterating a ``start`` event per
    # element cost ~0.1s per MB of pure Python event-loop overhead on
    # top of the C parse (profiled on the sf0.1 roundtrip fixture); the
    # exhausted iterator exposes the parsed tree as ``.root``.
    fact_uris: set[str] = set()
    it = ET.iterparse(_bytes_io(content), events=("start-ns",))
    for _, (prefix, uri) in it:
        if prefix == fact_prefix:
            fact_uris.add(uri)
    root = it.root

    contexts: list[dict] = []
    facts: list[dict] = []
    for elem in root:
        tag = elem.tag
        if tag == f"{{{XBRL_INSTANCE}}}context":
            ctx = _parse_context(elem)
            if ctx is not None:
                contexts.append(ctx)
        elif tag.startswith("{") and "contextRef" in elem.attrib:
            uri = tag[1 : tag.index("}")]
            if uri in fact_uris:
                if elem.text is None:  # P1: null-value facts dropped at parse
                    continue
                facts.append(
                    {
                        "name": snakecase(tag[tag.index("}") + 1 :]),
                        "c_id": elem.attrib["contextRef"],
                        "value": elem.text,
                    }
                )
    return contexts, facts


def _bytes_io(content: bytes):
    import io

    return io.BytesIO(content)


def _report_date(facts: list[dict], ctx_by_id: dict[str, dict]) -> str | None:
    for key in ("report_date", "certifying_official_date"):
        for f in facts:
            ctx = ctx_by_id.get(f["c_id"])
            if f["name"] == key and ctx is not None and not ctx["instant"]:
                return f["value"]
    return None


# Columnar assembly (guide §4.2): the output batch is built as one list
# per column via per-column comprehensions, never as a list of per-row
# dicts — the dict-merge per fact ({**base, **ctx, **f}) plus pandas'
# list-of-dicts constructor cost ~40% of the Python-side time on the sf0.1
# roundtrip fixture (assembly 0.08-0.15s dicts vs 0.05-0.06s columnar,
# outputs .equals()-identical), all of it O(rows) churn that scales with
# the corpus. Row order: contexts then kept facts per filing.
_COLUMNS = [f.name for f in SHREDDED_SCHEMA]


def _shred_rows(filings: Iterable[tuple], fact_prefix: str) -> pd.DataFrame | None:
    """(filing_name, content, publication_time, taxonomy_version) tuples
    -> one shredded batch, or None when no filing yielded a row."""
    cols: dict[str, list] = {c: [] for c in _COLUMNS}
    for filing_name, content, pub, taxo in filings:
        try:
            contexts, facts = shred_one(content, fact_prefix)
        except ET.ParseError:
            # E1: corrupt filing -> skip (reference xbrl.py:159-163)
            continue
        ctx_by_id = {c["c_id"]: c for c in contexts}
        report = _report_date(facts, ctx_by_id)
        kept = [(f, ctx_by_id[f["c_id"]]) for f in facts if f["c_id"] in ctx_by_id]
        n_ctx, n_f = len(contexts), len(kept)
        n = n_ctx + n_f
        ext = {
            "record_type": (["context"] * n_ctx, ["fact"] * n_f),
            "c_id": ([c["c_id"] for c in contexts], [x["c_id"] for _, x in kept]),
            "entity_id": (
                [c["entity_id"] for c in contexts],
                [x["entity_id"] for _, x in kept],
            ),
            "instant": (
                [c["instant"] for c in contexts],
                [x["instant"] for _, x in kept],
            ),
            "start_date": (
                [c["start_date"] for c in contexts],
                [x["start_date"] for _, x in kept],
            ),
            "end_date": (
                [c["end_date"] for c in contexts],
                [x["end_date"] for _, x in kept],
            ),
            "dims": ([c["dims"] for c in contexts], [x["dims"] for _, x in kept]),
            "name": ([None] * n_ctx, [f["name"] for f, _ in kept]),
            "value": ([None] * n_ctx, [f["value"] for f, _ in kept]),
            "filing_name": ([filing_name] * n,),
            "publication_time": ([pub] * n,),
            "taxonomy_version": ([taxo] * n,),
            "report_date": ([report] * n,),
        }
        for cname, chunks in ext.items():
            for chunk in chunks:
                cols[cname].extend(chunk)
    if not cols["record_type"]:
        return None
    return pd.DataFrame(cols, columns=_COLUMNS)


def _shred_batches(fact_prefix: str):
    """The ``mapInPandas`` function over filings batches (filing_name,
    content, publication_time, taxonomy_version)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = _shred_rows(
                zip(
                    pdf["filing_name"], pdf["content"],
                    pdf["publication_time"], pdf["taxonomy_version"],
                ),
                fact_prefix,
            )
            if out is not None:
                yield out

    return fn


def shred_filings(filings: DataFrame, fact_prefix: str = "ferc") -> DataFrame:
    """filings(filing_name, content, publication_time, taxonomy_version)
    -> long shredded relation (facts with denormalized context PK + contexts).

    One input row -> many output rows; Arrow-batched. Callers should
    ``persist()`` the result when materializing many tables from it.
    """
    return filings.mapInPandas(_shred_batches(fact_prefix), schema=SHREDDED_SCHEMA)


def shred_paths(
    spark: SparkSession,
    path: str | list[str],
    instance_pattern: str | None = None,
    fact_prefix: str = "ferc",
) -> DataFrame:
    """Directories of ``.xbrl`` files and/or zip archives -> the long
    shredded relation, in ONE ``mapInPandas`` straight over the
    ``binaryFile`` listing.

    Each listing row is expanded into filings by ``filings.filings_of``
    (the generator ``scan_filings`` runs) and every filing goes through
    the same kernel as ``shred_filings``, so the rows equal
    ``shred_filings(scan_filings(...))``. A zip member's bytes enter Python
    once and only shredded rows come back to the JVM; there is no
    exchange, and the file source's packing of the listing sets the task
    count. ``instance_pattern`` is that of ``scan_filings`` (Python ``re``,
    matched anywhere in the name); loose files get no publication time.
    """
    pattern = compile_instance_pattern(instance_pattern)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for listing in batches:
            out = _shred_rows(filings_of(listing, pattern), fact_prefix)
            if out is not None:
                yield out

    return list_files(spark, path).mapInPandas(fn, schema=SHREDDED_SCHEMA)


def facts_from(shredded: DataFrame) -> DataFrame:
    """Fact rows (with denormalized context PK fields)."""
    return shredded.filter(F.col("record_type") == "fact").drop("record_type")


def contexts_from(shredded: DataFrame) -> DataFrame:
    """Context rows (one per <context> element)."""
    return (
        shredded.filter(F.col("record_type") == "context")
        .drop("record_type", "name", "value", "report_date")
    )
