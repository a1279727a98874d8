"""Cross-document duplicated-span detection (G26) — substring-level dedup.

Document-level dedup (G1/G2) drops whole near-identical documents; it
cannot remove the boilerplate sentence that appears verbatim inside ten
thousand otherwise-distinct pages. "Deduplicating Training Data Makes
Language Models Better" (Lee et al., 2022) removes any substring that
occurs more than once in the corpus; their single-machine tool builds a
suffix array, which does not distribute. The distributed re-expression
here is the standard positional n-gram inverted index:

1. every token position contributes the hash of the n-gram starting
   there — a long ``(doc, pos, gram)`` relation, built with the
   materialize-tokens-first idiom (see ``neardup.shingles_from_tokens``:
   inline token expressions get substituted into the higher-order-function
   lambda and re-split the text once per position, O(tokens²) per doc);
2. a count window over the gram key marks positions whose gram occurs ≥
   ``min_count`` times corpus-wide (within-doc repeats count, exactly as
   a suffix array would). A count-per-key is row-preserving, so there is
   NO fan-out on hot grams — a gram occurring 10⁹ times contributes one
   survivor bit per occurrence, never a pairwise blowup;
3. covered positions merge into maximal spans per document with the
   gap-and-islands trick (every gram covers exactly n tokens, so a new
   island starts iff ``pos - prev_pos > n``) — a per-document window,
   bounded by document length, never a global sort.

Shuffle budget: a bounded sample probe (``probe_hot_gram``) picks the
gram-frequency form. On a skewed corpus it is one map-side-combinable gram
count aggregate + an AQE-broadcast semi join back onto the gram relation;
on a flat corpus a count window shuffles the gram relation once instead
(measured ~1.9× faster at sf0.1) — see ``duplicated_spans``. Either way
one doc-keyed window follows. All rows are narrow (id, int, 16-byte
md5). At 100 TB the gram relation is ~|tokens| rows — that is the honest
price of substring-level dedup; the knobs that bound it are ``n`` (longer
grams → fewer duplicated positions survive) and pre-filtering the corpus
(quality-filter before span detection).

``md5`` (not ``xxhash64``) keys the grams so the DuckDB oracle can rebuild
them bit-for-bit; swap ``_gram_hash`` for ``xxhash64`` on a real cluster
for an 8-byte shuffle key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def _gram_hash(toks: Column, i: Column, n: int) -> Column:
    return F.md5(F.array_join(F.slice(toks, i + 1, n), " "))


def positional_grams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """Long ``(id, pos, g)`` relation: g = hash of the n tokens starting at
    0-based token position ``pos``.

    Tokens are materialized in a prior projection (linear, not quadratic —
    see module docstring). ``explode_outer`` + post-filter rather than
    ``explode``: the inner variant makes Catalyst synthesize a
    ``size(arr) > 0`` prune filter that predicate pushdown drags into the
    parquet scan, evaluating the whole gram expression below the
    parallelizing exchange (same trap as ``neardup.shingle_table``)."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("pos"), _gram_hash(toks, i, n).alias("g")
        ),
    )
    guarded = F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<struct<pos:int,g:string>>")
    )
    return (
        toked.select(F.col(id_col), F.explode_outer(guarded).alias("__pg"))
        .filter(F.col("__pg").isNotNull())
        .select(
            F.col(id_col),
            F.col("__pg.pos").alias("pos"),
            F.col("__pg.g").alias("g"),
        )
    )


def probe_hot_gram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    sample_rows: int = 512,
    hot_factor: float = 4.0,
) -> bool:
    """G26 form probe: does the corpus have a gram hot enough to straggle
    the window form's per-gram partition?

    Same measured-probe pattern as ``analytics.probe_salt_buckets``: a
    bounded document sample → gram counts → a 1-row ``(max, total)``
    collect. The window form hash-partitions every occurrence of one gram
    onto one task, so it is unsafe when the hottest gram's share of all
    gram rows exceeds ``hot_factor`` × a partition's fair share (1/P).

    The sample is ``limit(sample_rows)`` — a HEAD sample, not a uniform
    one: ``sample(fraction)`` must scan every row to flip its coin
    (measured 1.3s at sf0.1 — it would cost more than the choice saves),
    while a limit terminates the scan after one task's worth of rows.
    Boilerplate grams are corpus-wide by nature, so any contiguous slice
    exhibits them; a corpus ordered adversarially (e.g. sorted so one
    domain owns the head) can fool it. Deterministic (literal limit,
    pure-arithmetic decision)."""
    key = None
    try:
        # the verdict is a property of the INPUT RELATION, not of the
        # query run — cache it per analyzed plan so repeated span passes
        # over the same corpus (bench reps, a curate pipeline's
        # dup_spans + trim_spans pair) pay the probe's job floor once
        # per process. Keyed on the plan STRING (file-backed plans embed
        # their paths); in-memory LocalRelations are NEVER cached — their
        # plan text (and semanticHash) covers the schema, not the data,
        # so two different in-memory corpora would collide.
        analyzed = df._jdf.queryExecution().analyzed()
        # canonicalized: expression ids normalized (a fresh DataFrame
        # over the same source keys identically), file paths kept
        plan_str = analyzed.canonicalized().toString()
        if "LocalRelation" not in plan_str:
            key = (
                plan_str, analyzed.semanticHash(),
                n, id_col, text_col, sample_rows, hot_factor,
            )
        if key in _HOT_GRAM_PROBE_CACHE:
            return _HOT_GRAM_PROBE_CACHE[key]
    except Exception:
        key = None
    g = positional_grams(df.limit(sample_rows), id_col, text_col, n)
    stats = (
        g.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("mx"), F.sum("__n").alias("tot"))
        .collect()[0]
    )
    partitions = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    verdict = bool(stats["tot"]) and (
        (stats["mx"] / stats["tot"]) * partitions > hot_factor
    )
    if key is not None:
        _HOT_GRAM_PROBE_CACHE[key] = verdict
    return verdict


_HOT_GRAM_PROBE_CACHE: dict[tuple, bool] = {}


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal per-document token spans covered by n-grams that occur at
    least ``min_count`` times corpus-wide.

    Returns ``(id_col, span_start, span_end)`` with ``span_end``
    exclusive — tokens ``span_start .. span_end-1`` are duplicated text.

    Two formulations of the corpus-frequency filter; one bounded sample
    probe (:func:`probe_hot_gram` — the G13b measured-probe pattern)
    picks between them: value-identical either way, only the shuffle
    shape changes.

    - Skewed corpora (the probe finds a hot gram): groupBy count
      (map-side partial combine — the aggregate side never skews) + a
      semi join back onto the gram relation. The duplicated-gram set is usually a small
      fraction of the grams, so AQE broadcasts the build side (no probe
      shuffle at all); if it is ever too big to broadcast, AQE's skew-join
      splitting still handles a hot gram's probe partition. This is the
      100-TB default: one boilerplate gram covering 10⁶ documents costs
      nothing special here.
    - Flat corpora: a count window over the gram key — the gram relation
      is evaluated and shuffled ONCE (measured ~1.9× faster at sf0.1
      where nothing is hot), at the cost of a within-partition sort. A
      window hash-partitions ALL occurrences of one gram onto one
      partition and gets no AQE skew mitigation, which is why the probe
      keeps this form away from corpora with a hot gram.
    """
    grams = positional_grams(df, id_col, text_col, n)
    if probe_hot_gram(df, id_col, text_col, n):
        dup = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") >= min_count)
            .select("g")
        )
        hits = grams.join(dup, "g", "left_semi")
    else:
        wg = Window.partitionBy("g")
        hits = (
            grams.withColumn("__cnt", F.count(F.lit(1)).over(wg))
            .filter(F.col("__cnt") >= min_count)
            .drop("__cnt")
        )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = F.coalesce(((F.col("pos") - prev) > n).cast("int"), F.lit(1))
    islands = hits.select(
        F.col(id_col),
        F.col("pos"),
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__island"),
    )
    return islands.groupBy(id_col, "__island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n).alias("span_end"),
    ).select(id_col, "span_start", "span_end")


def trim_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
    spans: DataFrame | None = None,
    out_col: str = "clean_text",
    count_col: str = "n_kept_tokens",
) -> DataFrame:
    """Rebuild each document with its duplicated spans removed.

    Adds ``out_col`` (kept tokens rejoined with single spaces) and
    ``count_col``; input columns with those names are replaced rather
    than duplicated (composing after e.g. ``text.strip_common_lines``,
    which emits the same default names, would otherwise produce an
    ambiguous schema). Span lists are collected per document (bounded by
    document length) and the token filter is a single codegen'd
    higher-order ``filter`` with a positional lambda — no per-token join.
    The spans side is |docs-with-spans| rows of tiny arrays; the join back
    to the corpus is keyed on ``id_col`` and AQE will broadcast it when it
    fits.
    """
    if spans is None:
        spans = duplicated_spans(df, id_col, text_col, n, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toked = df.select("*", tokens(text_col).alias("__toks")).join(
        per_doc, id_col, "left"
    )
    sp = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    kept = F.filter(
        "__toks",
        lambda t, i: ~F.exists(
            sp, lambda s: (i >= s["span_start"]) & (i < s["span_end"])
        ),
    )
    return toked.select(
        *[c for c in df.columns if c not in (out_col, count_col)],
        F.array_join(kept, " ").alias(out_col),
        F.size(kept).cast("long").alias(count_col),
    )


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """G62: longest contiguous train-benchmark overlap per corpus
    document — the contamination AUDIT metric (the PaLM/GPT-4 reports
    quantify leakage as longest n-gram runs, not booleans). G15 decides
    keep/drop on distinct-shingle counts; this measures HOW MUCH of a
    document is verbatim benchmark text: per doc, the count of token
    positions whose n-gram appears anywhere in the benchmark, and the
    longest STEP-1 RUN of such positions reported as tokens
    (``run + n - 1``). A maximal run means every window of n consecutive
    tokens inside it is benchmark text; runs are broken by any
    non-matching position (matched grams at different benchmark
    locations can therefore split — this is the standard conservative
    "longest matched-gram run", not exact longest-common-substring,
    which needs benchmark positions joined in and is quadratic in the
    hit relation).

    Scale shape: the benchmark's distinct gram set is the ONLY relation
    joined against the corpus grams (left-semi, AQE-broadcast — eval
    suites are small by construction); the gap-and-islands window runs
    over HIT positions only (|hits| rows, tiny next to the corpus), and
    the per-doc report joins back as an |contaminated docs|-row
    broadcast. The corpus is never shuffled. Zero-hit docs report zeros.
    """
    grams = positional_grams(corpus, id_col, text_col, n)
    bgrams = positional_grams(
        benchmark, bench_id_col, bench_text_col, n
    ).select("g").distinct()
    hits = grams.join(bgrams, "g", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") - F.lag("pos").over(w) > 1),
        1,
    ).otherwise(0)
    isl = (
        hits.withColumn("__b", brk)
        .withColumn(
            "__island",
            F.sum("__b").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    runs = isl.groupBy(id_col, "__island").agg(
        F.count(F.lit(1)).alias("__run")
    )
    per_doc = runs.groupBy(id_col).agg(
        F.sum("__run").cast("long").alias("n_hit_grams"),
        (F.max("__run") + F.lit(n - 1)).cast("long").alias(
            "longest_overlap_tokens"
        ),
    )
    return corpus.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
        F.coalesce("longest_overlap_tokens", F.lit(0))
        .cast("long")
        .alias("longest_overlap_tokens"),
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """G97: content-defined chunking (the rsync/LBFS boundary trick) —
    split each document at positions where the rolling fingerprint of
    the ``window`` chars ENDING there satisfies ``hash % divisor == 0``.
    Because boundaries depend only on LOCAL content, an insertion or
    deletion early in a document shifts only the chunk it lands in —
    every later chunk re-aligns and hashes identically, which is what
    makes chunk-level dedup find shared content that whole-document
    hashing (G1) misses and shingle overlap (G2) can only score, not
    deduplicate for storage. The training-data uses: dedup storage for
    versioned crawls, shared-boilerplate accounting, delta-compression
    planning.

    Expected chunk length is ``divisor`` chars (geometric); no min/max
    clamps — ``divisor`` sets the distribution (documented scope: the
    clamped CDC variants trade the pure content-defined property for
    bounded chunk sizes and need sequential state per doc).

    Fingerprint = the first 15 md5 hex chars of the window as a 60-bit
    int (the G2 SimHash token-hash trick) — content-defined AND
    SQL-replayable, unlike a true Rabin polynomial. EVERYTHING runs in
    ONE projection of array expressions (sequence → filter over
    windowed md5 → chunk transform) + one explode: no shuffle, no
    Python, no per-position explode — the per-doc work is O(len·window)
    md5 input bytes, the row count stays O(chunks).

    Returns (id_col, chunk_idx, chunk_md5, n_chars).
    """
    if window < 1 or divisor < 1:
        raise ValueError("window and divisor must be >= 1")
    text = F.col(text_col)
    n = F.length(text)
    cut_hash = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(text.substr(i - F.lit(window - 1), F.lit(window))), 1, 15),
        16,
        10,
    ).cast("long")
    bpos = F.when(
        n >= window,
        F.filter(
            F.sequence(F.lit(window), n),
            lambda i: F.pmod(cut_hash(i), F.lit(divisor)) == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    # 0-based cut ends: 0, each boundary, and len — appended only when
    # the last window position is not already a boundary (explicit
    # branch, not array_distinct: first-occurrence order under distinct
    # is a per-engine promise the oracle should not have to trust)
    bp = bpos.cast("array<int>")
    tail = F.when(
        F.try_element_at(bp, F.lit(-1)) == n.cast("int"),
        F.array().cast("array<int>"),
    ).otherwise(F.array(n.cast("int")))
    # cuts MUST be materialized as an attribute before the chunk
    # transform references it: a lambda body substitutes referenced
    # expressions per element, so an inline cuts (which contains the
    # O(len) windowed-md5 filter) would re-run the whole boundary scan
    # for EVERY chunk — O(len · chunks) md5 work (the
    # simhash_from_hashes substitution trap; measured ~20x on the gate
    # fixture).
    staged = df.select(
        F.col(id_col),
        text.alias("__t"),
        F.concat(F.array(F.lit(0).cast("int")), bp, tail).alias("__cuts"),
    )
    cuts = F.col("__cuts")
    chunks = F.transform(
        F.sequence(F.lit(0), F.size(cuts) - 2),
        lambda j: F.struct(
            j.cast("int").alias("chunk_idx"),
            F.col("__t").substr(
                F.element_at(cuts, j + 1) + 1,
                F.element_at(cuts, j + 2) - F.element_at(cuts, j + 1),
            ).alias("chunk"),
        ),
    )
    out = (
        staged.select(F.col(id_col), F.explode(chunks).alias("__c"))
        .select(
            id_col,
            F.col("__c.chunk_idx").alias("chunk_idx"),
            F.md5(F.col("__c.chunk")).alias("chunk_md5"),
            F.length(F.col("__c.chunk")).cast("long").alias("n_chars"),
        )
        .filter(F.col("n_chars") > 0)  # zero-length docs chunk to nothing
    )
    return out


def cdc_dedup_report(chunks: DataFrame) -> DataFrame:
    """G97: chunk-level dedup accounting over a :func:`cdc_chunks`
    relation — ONE row: total/distinct chunk counts, total chars,
    duplicated chars (chars of every instance beyond each chunk's
    first), and the dedup ratio in integer micro-units
    (``1e6 · dup_chars div total_chars`` — exact, replayable). Two
    map-side-combinable aggregates (per-md5, then corpus); output is
    one row regardless of corpus size."""
    per = chunks.groupBy("chunk_md5").agg(
        F.count(F.lit(1)).cast("long").alias("__c"),
        F.max("n_chars").cast("long").alias("__len"),
    )
    return per.agg(
        F.sum("__c").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("__c") * F.col("__len")).cast("long").alias("total_chars"),
        F.sum((F.col("__c") - 1) * F.col("__len")).cast("long").alias("dup_chars"),
    ).select(
        "n_chunks",
        "n_distinct",
        "total_chars",
        "dup_chars",
        F.expr("1000000 * dup_chars div total_chars").cast("long").alias(
            "dup_ratio_micro"
        ),
    )
