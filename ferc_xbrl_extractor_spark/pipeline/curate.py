"""End-to-end corpus curation (G16): the composed training-data pipeline.

The LLM-side analogue of ``pipeline.extract`` — one declarative plan that
chains the G-series operators the way a pretraining data pipeline actually
runs them:

    quality filter (G4 stats)          — map-side projection + filter
    → repetition screen (G4b)          — map-side dup-line/n-gram ratios
    → decontaminate (G15)              — broadcast benchmark probe + anti join
    → exact dedup by fingerprint (G1)  — one min_by hash aggregate
    → near-dup cluster dedup (G2b)     — LSH pairs → components → survivors
    → duplicated-span trim (G26)       — positional-gram index over survivors
    → PII redaction (G4b)              — chained regexp_replace on survivors
    → stratified sample (G14)          — hash-ordered per-stratum budgets
    → integer encoding (G29)           — broadcast vocab-map transform probe

Every stage is written once, in :func:`_curate_stages`, which yields them in
order as ``(stage_name, DataFrame -> DataFrame)`` pairs.
:func:`curate_corpus` folds the documents through them into one lazy plan;
:func:`curate_funnel` (G36) folds the same pairs one stage at a time and
counts the rows each stage leaves, so the funnel attributes every dropped
document to the stage of :func:`curate_corpus` that dropped it.

Optional stages default off, so the composition stays oracle-checkable at
its G16 gate configuration; each of them is also oracle-checked standalone
(e.g. g4_repetition, g2_cluster_dedup, g4_pii_redact, g61_c4_clean).

Shuffle budget: the quality filter and fingerprint are map-side; the
decontamination hit-count aggregate shuffles only contaminated-candidate
ids; the dedup aggregate shuffles one candidate row per distinct
fingerprint (map-side partial combine); the sample's keyed shuffle carries
at most n × partitions rows per stratum after the local pre-prune. Nothing
in the chain materializes the corpus to the driver, and every stage is a
pure column expression — no Python in the loop.

Everything is deterministic (md5-derived randomness only), so the whole
composition is oracle-checkable end to end (``g16_curate_e2e``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators import (
    neardup,
    sampling,
    spans,
    text,
    vocab,
)
from ferc_xbrl_extractor_spark.operators.dedup import dedup_exact_keep

# shingle width of decontamination, near-dup and containment dedup
_SHINGLE_N = 3
# a span trimmed by trim_spans_n occurs in at least this many documents
_TRIM_SPANS_MIN_COUNT = 2


def _link_rank_relation(link_ranks: DataFrame, id_col: str) -> DataFrame:
    """Normalize a (id → rank) relation to ``(id_col, link_rank)``.
    Accepts :func:`operators.graph.pagerank` output ``(node, node_rank)``
    verbatim, or any two-column relation keyed by ``id_col``."""
    cols = link_ranks.columns
    if "node" in cols and "node_rank" in cols:
        return link_ranks.select(
            F.col("node").alias(id_col), F.col("node_rank").alias("link_rank")
        )
    if id_col in cols:
        other = [c for c in cols if c != id_col]
        if len(other) == 1:
            return link_ranks.select(
                id_col, F.col(other[0]).alias("link_rank")
            )
    raise ValueError(
        "link_ranks must be (node, node_rank) or "
        f"({id_col}, <rank>) — got columns {cols}"
    )


def _validate_scripts(allowed_scripts) -> None:
    """script_of only ever emits SCRIPT_CLASSES names (+ 'other'): an
    unknown or wrong-case entry would silently filter the corpus to
    zero rows, so fail fast instead."""
    valid = {n for n, _ in text.SCRIPT_CLASSES} | {"other"}
    bad = [x for x in allowed_scripts if x not in valid]
    if bad:
        raise ValueError(
            f"unknown script names {bad}; valid: {sorted(valid)}"
        )


def _curate_stages(
    benchmark: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_stopword_ratio: float = 0.5,
    min_uniq_ratio: float = 0.3,
    min_overlap: int = 5,
    url_col: str | None = None,
    domain_col: str | None = None,
    domain_suffixes=None,
    c4: bool = False,
    allowed_scripts: list[str] | None = None,
    max_dup_line_ratio: float | None = None,
    max_dup_3gram_ratio: float | None = None,
    min_compression_ratio: float | None = None,
    neardup_threshold: float | None = None,
    neardup_keep_by: str | None = None,
    containment_threshold: float | None = None,
    redact: bool = False,
    stratum_col: str | None = None,
    sample_n: int | None = None,
    sample_salt: str = "curate",
    link_ranks: DataFrame | None = None,
    link_edges: DataFrame | None = None,
    min_link_rank: int | None = None,
    link_rank_iters: int = 3,
    trim_spans_n: int | None = None,
    group_cap: int | None = None,
    group_cap_col: str = "source",
    token_budget: int | None = None,
    budget_score_col: str = "stopword_ratio",
    encode_vocab_size: int | None = None,
) -> Iterator[tuple[str, Callable[[DataFrame], DataFrame]]]:
    """The curation stages in order, as ``(stage_name, DataFrame ->
    DataFrame)`` pairs; the options are documented on
    :func:`curate_corpus`. Every option is checked before the first pair
    is yielded."""
    if domain_col is not None and url_col is None:
        raise ValueError("domain_col requires url_col")
    if allowed_scripts is not None:
        _validate_scripts(allowed_scripts)
    if link_edges is not None and link_ranks is not None:
        raise ValueError("pass link_ranks OR link_edges, not both")
    if sample_n is not None and not stratum_col:
        raise ValueError("sample_n requires stratum_col")

    if url_col is not None:
        # G64 runs BEFORE EVERYTHING: URL-keyed refetch dedup costs one
        # canonical-key aggregate and zero content work — the cheapest
        # possible attrition, so it goes first (the crawl-pipeline
        # convention). Survivor = minimum id per canonical URL.
        yield "url_dup", lambda df: text.dedup_by_url(
            df, url_col=url_col, id_col=id_col
        ).drop("canon_url")
    if domain_col is not None:
        # G66: registrable domain derived in-plan from the URL, so
        # stratum_col / group_cap_col can balance by domain without the
        # caller materializing the column first
        yield "domain", lambda df: text.with_registrable_domain(
            df.withColumn("__g66_host", text.host_of_url(url_col)),
            "__g66_host",
            domain_col,
            suffixes=domain_suffixes,
        ).drop("__g66_host")
    if c4:
        # G61 runs next (raw-crawl line cleanup precedes every
        # statistic): failing pages drop, surviving pages continue with
        # the line-filtered text so all downstream stats see clean text
        yield "c4", lambda df: (
            text.c4_clean(df, text_col)
            .filter(F.col("keep"))
            .withColumn(text_col, F.col("clean_text"))
            .drop("clean_text", "n_kept_lines", "keep")
        )
    if allowed_scripts is not None:
        # G91 script routing next: dominant-script membership is one
        # codegen'd expression, the cheapest per-row screen after c4 —
        # off-script documents never pay tokenization/statistics
        yield "script", lambda df: df.filter(
            text.script_of(text_col).isin(list(allowed_scripts))
        )
    yield "stats", lambda df: text.with_text_stats(df, text_col)
    if (
        max_dup_line_ratio is not None
        or max_dup_3gram_ratio is not None
        or min_compression_ratio is not None
    ):

        def repetition(df: DataFrame) -> DataFrame:
            if max_dup_line_ratio is not None or max_dup_3gram_ratio is not None:
                df = text.with_repetition_stats(df, text_col)
                if max_dup_line_ratio is not None:
                    df = df.filter(F.col("dup_line_ratio") <= max_dup_line_ratio)
                if max_dup_3gram_ratio is not None:
                    df = df.filter(F.col("dup_3gram_ratio") <= max_dup_3gram_ratio)
            if min_compression_ratio is not None:
                # G68 rides the repetition screen: a page so repetitive it
                # deflates below the floor is template spam even when its
                # line/n-gram ratios pass. NULL ratio (empty text) passes
                # here — the quality screen owns empties.
                df = text.compression_ratio(df, text_col).filter(
                    F.col("compression_ratio").isNull()
                    | (F.col("compression_ratio") >= float(min_compression_ratio))
                )
            return df

        yield "repetition", repetition
    yield "quality", lambda df: df.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
        & (F.col("uniq_ratio") >= min_uniq_ratio)
    )
    if link_edges is not None:
        # G65 quality prior derived in-pipeline from a (src, dst) link
        # graph over document ids
        from ferc_xbrl_extractor_spark.operators.graph import pagerank

        link_ranks = pagerank(link_edges, iters=link_rank_iters)
    if link_ranks is not None:

        def linkrank(df: DataFrame) -> DataFrame:
            # one keyed join (O(nodes) rank relation; AQE broadcasts it
            # when small) attaching `link_rank`. Documents ABSENT from the
            # link graph keep a NULL rank and are never dropped by
            # min_link_rank: no prior is not a bad prior.
            df = df.join(_link_rank_relation(link_ranks, id_col), id_col, "left")
            if min_link_rank is not None:
                df = df.filter(
                    F.col("link_rank").isNull()
                    | (F.col("link_rank") >= F.lit(int(min_link_rank)))
                )
            return df

        yield "linkrank", linkrank
    if benchmark is not None:
        yield "decontaminate", lambda df: neardup.decontaminate(
            df,
            benchmark,
            id_col=id_col,
            text_col=text_col,
            n=_SHINGLE_N,
            min_overlap=min_overlap,
        )

    def exact_dup(df: DataFrame) -> DataFrame:
        df = dedup_exact_keep(
            text.fingerprint(df, text_col),
            keys=["fp"],
            order_by=[F.col(id_col)],
        ).drop("fp")
        # Near-dup (jaccard's shingle self-join) and encoding (vocab
        # build + encode — two full token explodes) re-traverse the
        # survivors with per-token work, replaying the whole scan ->
        # stats -> decontaminate -> dedup lineage per traversal: cut it
        # once when either is on. Cheap re-references (two-phase
        # sampling's count pass, the span semi-join reassembly) measure
        # FASTER without the cut — materializing the wide stats rows
        # costs more than their extra pass — so they do not trigger it.
        if neardup_threshold is not None or encode_vocab_size is not None:
            df = df.localCheckpoint(eager=False)
        return df

    yield "exact_dup", exact_dup
    if neardup_threshold is not None:

        def near_dup(df: DataFrame) -> DataFrame:
            pairs = neardup.jaccard_pairs(
                df,
                id_col=id_col,
                text_col=text_col,
                n=_SHINGLE_N,
                threshold=neardup_threshold,
            )
            if neardup_keep_by is not None:
                return neardup.dedup_by_pairs_best(
                    df, pairs, keep_by=neardup_keep_by, id_col=id_col
                )
            return neardup.dedup_by_pairs(df, pairs, id_col=id_col)

        yield "near_dup", near_dup
    if containment_threshold is not None:
        # G90 runs AFTER symmetric dedup: exact/near dup already removed
        # whole-doc copies, so the containment pass only has to catch
        # proper subsets (excerpts, quote pages) — the pair relation it
        # joins is smaller for it.
        yield "contained", lambda df: neardup.dedup_by_containment(
            df,
            id_col=id_col,
            text_col=text_col,
            n=_SHINGLE_N,
            threshold=containment_threshold,
        )
    if trim_spans_n is not None:
        # the stat columns computed before trimming describe the old
        # text; recompute them so downstream consumers (packing budgets,
        # length filters) never read pre-trim counts.
        yield "trim_spans", lambda df: text.with_text_stats(
            spans.trim_duplicated_spans(
                df,
                id_col,
                text_col,
                n=trim_spans_n,
                min_count=_TRIM_SPANS_MIN_COUNT,
            )
            .withColumn(text_col, F.col("clean_text"))
            .drop("clean_text", "n_kept_tokens"),
            text_col,
        )
    if redact:
        yield "redact", lambda df: df.withColumn(
            text_col, text.redact_pii(text_col)
        )
    if sample_n is not None:
        yield "sample", lambda df: sampling.stratified_sample_n(
            df, stratum_col, sample_n, id_col=id_col, salt=sample_salt
        )
    if group_cap is not None:
        yield "group_cap", lambda df: sampling.cap_per_group(
            df, group_cap_col, group_cap,
            order_col=budget_score_col, id_col=id_col,
        )
    if token_budget is not None:
        yield "token_budget", lambda df: sampling.select_to_token_budget(
            df,
            token_budget,
            score_col=budget_score_col,
            token_col="n_tokens",
            id_col=id_col,
        )
    if encode_vocab_size is not None:
        yield "encode", lambda df: vocab.encode_documents(
            df, vocab.build_vocab(df, text_col, vocab_size=encode_vocab_size),
            text_col,
        )


def curate_corpus(
    docs: DataFrame, benchmark: DataFrame | None = None, **options
) -> DataFrame:
    """Curate a document corpus for training: quality-filter, remove
    benchmark contamination, drop exact duplicates (whitespace-normalized
    fingerprint; lowest id survives), and optionally cut each stratum to a
    fixed budget.

    Returns the surviving rows with the G4 stat columns attached (callers
    filter/project further downstream). ``benchmark=None`` skips
    decontamination; ``sample_n=None`` (with ``stratum_col`` naming the
    strata) skips sampling; ``max_dup_*_ratio=None`` skips the repetition
    screen; ``neardup_threshold=None`` skips near-dup cluster dedup;
    ``containment_threshold=None`` skips subset/containment dedup (G90);
    ``min_compression_ratio`` adds the G68 zlib-ratio screen to the
    repetition stage (pages that deflate below the floor are template
    spam even when the line/n-gram ratios pass; NULL/empty text is the
    quality screen's business); ``redact`` scrubs PII from surviving text
    (applied after dedup so redaction cost is paid on survivors only and
    never perturbs dedup keys).

    ``url_col`` drops G64 refetch duplicates first (minimum id per
    canonical URL); ``domain_col`` derives a G66 registrable-domain column
    from ``url_col`` in-plan (``domain_suffixes`` switches to the public
    suffix list), so ``group_cap_col``/``stratum_col`` can balance by
    domain without the caller materializing it; ``c4`` applies the G61
    line cleanup and page filter before every statistic;
    ``allowed_scripts`` keeps documents whose dominant G91 script is
    listed; ``link_ranks`` (an (id → rank) relation, e.g.
    :func:`operators.graph.pagerank` output) or ``link_edges`` (a (src,
    dst) link graph, ranked in-pipeline with ``link_rank_iters`` G65
    iterations) attaches a ``link_rank`` quality prior — consumable
    downstream via ``budget_score_col="link_rank"`` or ``score_buckets``
    — and with ``min_link_rank`` drops ranked documents below the
    threshold (unranked documents always pass); ``trim_spans_n`` removes
    G26 cross-document duplicated n-gram spans from surviving text (after
    document dedup: whole-doc duplicates are gone, boilerplate inside
    survivors remains); ``neardup_keep_by`` names a numeric column (e.g.
    ``n_tokens`` — the stats are already attached) and switches near-dup
    survivor choice to the G52 quality-keep policy (best member wins,
    not min id); ``group_cap`` applies the G59 per-group document cap
    over ``group_cap_col`` (domain balancing: keep-best by
    ``budget_score_col``, id tie-break — BEFORE the token budget, so no
    single source monopolizes it); ``token_budget`` caps the FINAL corpus
    at a token budget via G48 selection ordered by ``budget_score_col``
    desc (after sampling, before encoding — the budget bounds what
    ships); ``encode_vocab_size`` appends G29 ``token_ids`` encoded
    against a vocab built from the final survivors (last, so the vocab
    reflects what ships). The options and their defaults are the keyword
    parameters of :func:`_curate_stages`.
    """
    return reduce(
        lambda df, stage: stage[1](df), _curate_stages(benchmark, **options), docs
    )


def curate_funnel(
    docs: DataFrame, benchmark: DataFrame | None = None, **options
) -> DataFrame:
    """Stage-attrition report (G36) for a :func:`curate_corpus`
    configuration: ``(drop_stage, n_docs)``, one row per stage that
    dropped at least one document plus a ``(NULL, n_survivors)`` row.

    It runs the same stages as :func:`curate_corpus`, one at a time: each
    stage's output is checkpointed eagerly and counted, so a document is
    attributed to the stage that dropped it in the pipeline itself. The
    checkpoint keeps each stage from replaying (and re-tokenizing) the
    corpus through every stage before it; the count is observed on the
    checkpoint's own job. Runs its jobs when called."""
    n = docs.count()
    rows = []
    for name, stage in _curate_stages(benchmark, **options):
        seen = Observation()
        docs = (
            stage(docs)
            .observe(seen, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        left = seen.get["n"]
        if left < n:
            rows.append((name, n - left))
        n = left
    rows.append((None, n))
    return docs.sparkSession.createDataFrame(rows, "drop_stage string, n_docs long")
