"""Text-analysis operators for large-scale training-data pipelines (G4).

Everything here is pure Catalyst column expressions — no Python UDFs — so
the whole stage rides whole-stage codegen and scales linearly with the
scan. Tokenization is regex ``\\s+`` split with empty-token pruning so the
semantics are reproducible in any ANSI engine (the DuckDB oracle uses
``regexp_split_to_array`` + list filter).

These operators have no reference counterpart (the reference,
/root/reference/src/ferc_xbrl_extractor, is an XBRL ETL); they are the
gap surface SURVEY.md §2.12 declares for the new engine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# A small, fixed stopword list shared with the oracle SQL. Deliberately
# tiny: the point is the ratio machinery, not linguistic coverage.
STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
# symbols — the shape GPT-2-style byte-pair pre-tokenization produces.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text_col: str | Column = "text") -> Column:
    """Whitespace tokens with empties removed (leading/trailing space safe)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(col, r"\s+"), lambda t: F.length(t) > 0)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality/statistics columns:

    n_tokens, n_uniq_tokens, avg_token_len, stopword_ratio, punct_ratio,
    uniq_ratio — the standard cheap quality-scoring features a pretraining
    pipeline filters on.
    """
    toks = tokens(text_col)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^!-/:-@\[-`{-~]", ""))
    return (
        df.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("n_uniq_tokens", n_uniq.cast("long"))
        .withColumn(
            "avg_token_len",
            F.round(total_len / F.nullif(n_tokens.cast("double"), F.lit(0.0)), 4),
        )
        .withColumn(
            "stopword_ratio",
            F.round(n_stop / F.nullif(n_tokens.cast("double"), F.lit(0.0)), 4),
        )
        .withColumn(
            "punct_ratio",
            F.round(
                n_punct / F.nullif(F.length(text_col).cast("double"), F.lit(0.0)), 4
            ),
        )
        .withColumn(
            "uniq_ratio",
            F.round(n_uniq / F.nullif(n_tokens.cast("double"), F.lit(0.0)), 4),
        )
    )


def token_counts(
    df: DataFrame, text_col: str = "text", pattern: str | None = None
) -> Column:
    """Token count column; with ``pattern`` uses the BPE-ish regex counter
    instead of whitespace splitting."""
    if pattern is None:
        return F.size(tokens(text_col)).cast("long")
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)).cast(
        "long"
    )


def token_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide token frequency table: explode → count. One shuffle on
    token; partial aggregation (map-side combine) keeps the exploded volume
    off the wire, so this survives 100 TB of text."""
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def language_id(
    df: DataFrame,
    text_col: str = "text",
    profiles: dict[str, list[str]] | None = None,
    out_col: str = "lang_pred",
) -> DataFrame:
    """Heuristic language ID: score each language profile by how many of its
    marker words occur in the document; argmax wins (ties broken by profile
    order). Pure expressions — a 100-language profile set compiles to a wide
    but fully codegen'd projection.
    """
    profiles = profiles or {
        "en": ["the", "and", "of", "to"],
        "es": ["el", "la", "de", "que"],
        "de": ["der", "die", "und", "das"],
    }
    toks = F.array_distinct(tokens(text_col))
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
                ).alias("score"),
                F.lit(i).alias("order"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, words) in enumerate(profiles.items())
        ]
    )
    best = F.array_max(
        F.transform(
            scored,
            lambda s: F.struct(
                s["score"].alias("score"),
                (-s["order"]).alias("neg_order"),
                s["lang"].alias("lang"),
            ),
        )
    )
    return df.withColumn(out_col, best["lang"])


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fp") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized text. Stable
    across engines (md5 is md5 everywhere), so it doubles as an exact-dup
    key that's robust to whitespace differences."""
    normalized = F.array_join(tokens(text_col), " ")
    return df.withColumn(out_col, F.md5(normalized))


def ngrams_from_tokens(toks_col: str | Column, n: int = 2) -> Column:
    """NON-distinct word n-grams from a materialized token-array column
    (the repetition counters need the multiset; ``neardup.shingles_from_
    tokens`` is the distinct variant). Same lambda-substitution contract:
    pass a real attribute, never an inline ``tokens(...)`` expression."""
    toks = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "compression_ratio",
    level: int = 6,
) -> DataFrame:
    """G68: zlib compression ratio of the document text — the classic
    templated/repetitive-page quality signal (CCNet-class screens drop
    the extremes: very low = boilerplate so repetitive it deflates to
    nothing, near/above 1 = incompressible binary junk).

    ``ratio = len(zlib.compress(utf8)) / len(utf8)``, NULL for NULL or
    empty text. Implemented as an Arrow-batched ``pandas_udf`` — zlib is
    C-speed, so the pass costs about one scan; there is deliberately no
    SQL oracle (no engine-portable DEFLATE), the pytest pins exact
    values against the same zlib and the monotone fixtures (repetitive ≪
    mixed < random) that hold across zlib builds."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    # type hints are strings under future-annotations and resolve
    # against MODULE globals — hence the module-level pandas import
    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, level)) / len(b)

        return s.map(one)

    return df.withColumn(out_col, _ratio(F.col(text_col)))


def with_repetition_stats(
    df: DataFrame, text_col: str = "text", line_sep: str = "\n"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
    fraction of duplicated lines and duplicated word 2-/3-grams per
    document. High values flag boilerplate / template spam that survives
    naive quality filters.

    - dup_line_ratio: 1 − |distinct lines| / |lines| (split on
      ``line_sep``, empties dropped)
    - dup_2gram_ratio / dup_3gram_ratio: 1 − |distinct n-grams| / |n-grams|

    Pure Catalyst expressions (split / array_distinct / size) — one
    codegen'd projection over the scan, no shuffle, no Python."""
    import re as _re

    col = F.col(text_col)
    lines = F.filter(F.split(col, _re.escape(line_sep)), lambda t: F.length(t) > 0)

    def dup_ratio(arr: Column) -> Column:
        total = F.size(arr)
        return F.when(total > 0, F.round(
            1.0 - F.size(F.array_distinct(arr)) / total.cast("double"), 4
        )).otherwise(F.lit(0.0))

    out = df.withColumn("__lines", lines).withColumn("__toks", tokens(text_col))
    out = out.select(
        "*",
        F.size("__lines").cast("long").alias("n_lines"),
        dup_ratio(F.col("__lines")).alias("dup_line_ratio"),
        dup_ratio(ngrams_from_tokens("__toks", 2)).alias("dup_2gram_ratio"),
        dup_ratio(ngrams_from_tokens("__toks", 3)).alias("dup_3gram_ratio"),
    )
    return out.drop("__lines", "__toks")


# PII redaction patterns, applied in order (order matters: SSNs before
# phones so 3-2-4 digit runs aren't half-eaten by the phone pattern;
# dotted-quad IPs before dot-separated phones). The regex subset used —
# character classes, bounded repetition, \b — behaves identically under
# Java regex (Spark) and RE2 (DuckDB/Go), so redaction is reproducible
# across engines; no backreferences or lookaround.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
]


def redact_pii(text_col: str | Column = "text") -> Column:
    """Scrub emails / SSNs / IPv4s / phone numbers to typed placeholder
    tokens — the standard pre-training PII pass, as a chained
    ``regexp_replace`` column expression (codegen'd, linear scan, no
    Python; a 100-TB corpus pays exactly one projection)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    for _, pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return col


def pii_counts(text_col: str | Column = "text") -> Column:
    """Struct of per-category PII match counts (email/ssn/ipv4/phone) —
    the audit side of ``redact_pii``, for measuring leakage rates without
    materializing redacted text."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    fields = []
    # Count categories on the progressively-redacted text so overlapping
    # patterns attribute each span to exactly one category, mirroring the
    # replacement order.
    cur = col
    for name, pat, repl in PII_PATTERNS:
        fields.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, repl)
    return F.struct(*fields)


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms —
    the standard retrieval scorer, used in data curation to seed
    quality/domain classifiers from keyword queries.

    Scale shape: the corpus statistics BM25 needs (N, avg doc length,
    per-term document frequencies) are ONE map-side-combinable aggregate
    producing a single row, broadcast back via cross join; the score
    itself is a fixed-order projection (per-term TF via
    ``size(filter(tokens, = t))`` — no explode, no shuffle by term, no
    join). Two scans total, one 1-row broadcast; deterministic float
    fold order, so a SQL oracle reproduces scores bit-comparably at
    round(·, 4).
    """
    toked = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).withColumn("__dl", F.size("__toks"))
    stats = toked.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("__dl").alias("__sum_dl"),
        *[
            F.sum(
                (F.array_position(F.col("__toks"), t) > 0).cast("long")
            ).alias(f"__df_{i}")
            for i, t in enumerate(terms)
        ],
    )
    scored = toked.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sum_dl").cast("double") / F.col("__n_docs")
    n = F.col("__n_docs").cast("double")
    def eq_term(t: str):
        # One-arg lambda factory — a default-arg lambda here would make
        # pyspark's HOF binder pass the element *index* as the second
        # argument, clobbering the captured term (see neardup.perm()).
        return lambda x: x == F.lit(t)

    score = F.lit(0.0)
    for i, t in enumerate(terms):
        tf = F.size(F.filter(F.col("__toks"), eq_term(t))).cast("double")
        dfi = F.col(f"__df_{i}").cast("double")
        idf = F.log((n - dfi + 0.5) / (dfi + 0.5) + 1.0)
        denom = tf + k1 * (1.0 - b + b * F.col("__dl").cast("double") / avgdl)
        score = score + idf * (tf * (k1 + 1.0)) / denom
    return scored.select(F.col(id_col), score.alias("bm25"))


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "surprisal",
) -> DataFrame:
    """Mean per-token surprisal −ln p(token) under the corpus's own
    unigram LM — the CCNet-style cheap quality/fluency proxy (gibberish
    and boilerplate score high/low respectively vs the corpus
    distribution).

    Determinism trick: a per-document SUM of float log-probs is
    order-dependent under a parallel aggregate (doubles are not
    associative), which would break cross-engine hashing. Each token's
    −ln p is therefore fixed to integer MICRO-nats
    (``round(−ln(p)·1e6)``) before summing — integer sums are exact in
    any order — and the mean divides two exact integers at the end.

    Plan: explode → token-frequency aggregate (map-side combined) +
    1-row total broadcast → token-keyed join back (the Zipf-small vocab
    side is broadcast by AQE when it fits) → one integer sum per doc.
    Documents with no tokens surface with NULL surprisal via the final
    left join.
    """
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    exploded = toked.select(F.col(id_col), F.explode("__toks").alias("__tok"))
    freq = exploded.groupBy("__tok").agg(F.count(F.lit(1)).alias("__n"))
    total = freq.agg(F.sum("__n").alias("__total"))
    scored = (
        exploded.join(freq, "__tok")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.round(
                -F.log(F.col("__n").cast("double") / F.col("__total")) * 1e6
            )
            .cast("long")
            .alias("__micro"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("__micro").alias("__sum_micro"),
        F.count(F.lit(1)).alias("__n_tok"),
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(
            out_col,
            F.round(
                (F.col("__sum_micro").cast("double") / 1e6) / F.col("__n_tok"), 4
            ),
        )
        .drop("__sum_micro", "__n_tok")
    )


def _bigram_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) — one row per consecutive token pair. Docs with <2
    tokens contribute nothing (they surface as NULL in the scorer's final
    left join)."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    pairs = F.zip_with(
        F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
        F.slice(F.col("__toks"), 2, F.size("__toks") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return toked.where(F.size("__toks") >= 2).select(
        F.col(id_col), F.explode(pairs).alias("__bg")
    ).select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))


def bigram_lm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Count-based bigram language model: ``(w1, w2, n)`` over consecutive
    token pairs. One explode + one map-side-combinable aggregate — the
    exchange carries |distinct bigrams| (Zipf-bounded), never the corpus.
    Persist/write this to reuse a reference-corpus model across scoring
    runs (the CCNet pattern: train on a clean corpus, score the crawl)."""
    return (
        _bigram_pairs(df, text_col, id_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bigram_surprisal",
    alpha: float = 0.5,
    model: DataFrame | None = None,
    vocab_size: int | None = None,
) -> DataFrame:
    """Mean per-bigram surprisal −ln p(w₂|w₁) under an add-α-smoothed
    bigram LM — the distributed analog of CCNet/Wikipedia-KenLM perplexity
    filtering (Wenzek et al. 2020), one model order down: fluency scoring
    that, unlike ``unigram_surprisal``, is sensitive to word ORDER
    (scrambled text keeps its unigram score but blows up here).

    ``p(w₂|w₁) = (c(w₁,w₂) + α) / (c(w₁) + α·V)`` with V the training
    vocabulary size; unseen bigrams/contexts coalesce to 0, so scoring a
    corpus against an external ``model`` (train clean → score crawl) is
    well-defined: a fully-OOV bigram costs −ln(α/(α·V)) = ln V.

    Determinism: the same integer micro-nat trick as
    ``unigram_surprisal`` — each bigram's −ln p is fixed to
    ``round(−ln(p)·1e6)`` BEFORE the per-doc sum, so the parallel
    aggregate is order-free and a DuckDB oracle hash-matches exactly.

    Plan: pairs explode → (model build if self-trained: one combinable
    aggregate) → two keyed joins back (bigram key, then context key) —
    both AQE-broadcast when the Zipf-small model side fits, shuffle-hash
    otherwise; context counts derive from the MODEL relation (|distinct
    bigrams| rows), not from a corpus re-scan; V rides as a 1-row
    broadcast. Docs with <2 tokens get NULL via the final left join.

    Args:
        model: pre-trained ``bigram_lm`` output; None trains on ``df``.
        vocab_size: V for smoothing; required with an external ``model``
            (the scorer cannot see its training corpus), else counted from
            ``df``'s tokens in one aggregate.
    """
    pairs = _bigram_pairs(df, text_col, id_col)
    if model is None:
        model = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    elif vocab_size is None:
        raise ValueError(
            "bigram_surprisal: an external model needs vocab_size (V) — "
            "the scorer cannot derive it from the scored corpus"
        )
    if vocab_size is None:
        v_df = (
            df.select(F.explode(tokens(text_col)).alias("__tok"))
            .agg(F.count_distinct("__tok").alias("__v"))
        )
    else:
        v_df = df.sparkSession.range(1).select(
            F.lit(int(vocab_size)).cast("long").alias("__v")
        )
    ctx = model.groupBy("w1").agg(F.sum("n").alias("__cn"))
    scored = (
        pairs.join(model, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(v_df))
        .select(
            F.col(id_col),
            F.round(
                -F.log(
                    (F.coalesce(F.col("n"), F.lit(0)).cast("double") + F.lit(alpha))
                    / (
                        F.coalesce(F.col("__cn"), F.lit(0)).cast("double")
                        + F.lit(alpha) * F.col("__v").cast("double")
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("__micro"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("__micro").alias("__sm"), F.count(F.lit(1)).alias("__nb")
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(
            out_col,
            F.round((F.col("__sm").cast("double") / 1e6) / F.col("__nb"), 4),
        )
        .drop("__sm", "__nb")
    )


def kneser_ney_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "kn_surprisal",
    discount: float = 0.75,
    alpha: float = 0.5,
    model: DataFrame | None = None,
    vocab_size: int | None = None,
) -> DataFrame:
    """G105: mean per-bigram surprisal under an interpolated KNESER-NEY
    bigram LM (Kneser & Ney 1995; Chen & Goodman 1999) — the smoothing
    family the KenLM models behind CCNet/CC-Net perplexity filtering
    actually use, one order down. Against :func:`bigram_surprisal`'s
    add-α this fixes the two known add-α pathologies that matter for
    quality filtering: (1) frequent-but-unversatile words ("Francisco"
    — frequent, but only ever after "San") stop looking like good
    continuations in unseen contexts, because the unigram backoff is
    the CONTINUATION probability N₁₊(·,w₂)/B (how many distinct
    contexts the word completes), not raw frequency; (2) probability
    mass moves by absolute discount D from seen bigrams instead of
    being diluted by α·V.

      p(w₂|w₁) = (max(c(w₁,w₂)−D, 0) + D·N₁₊(w₁,·)·p_c(w₂)) / c(w₁)
      p_c(w₂)  = (N₁₊(·,w₂) + α) / (B + α·V)      [α-guarded for OOV]
      unseen context w₁ → p(w₂|w₁) = p_c(w₂)

    with B = |distinct bigrams|. All inputs are integer counts derived
    from the MODEL relation in three combinable aggregates; the α guard
    on the continuation distribution keeps p > 0 for OOV words so
    scoring a crawl against a clean reference ``model`` (the CCNet
    pattern: train clean → score crawl) is total. N₁₊(w₁,·) ≥ 1 for
    every seen context, so the interpolation term keeps p > 0 even
    where the discount zeroes the first term.

    Determinism: the same integer micro-nat trick as
    :func:`bigram_surprisal` — each bigram's −ln p is fixed to
    ``round(−ln(p)·1e6)`` BEFORE the per-doc sum, so the parallel
    aggregate is order-free and the DuckDB oracle (identical arithmetic
    expression shape, IEEE-double step for step) hash-matches exactly.

    Plan: pairs explode → model (self-trained: one combinable
    aggregate) → THREE derived relations off the model in one pass
    each — (c(w₁), N₁₊(w₁,·)) share one groupBy(w₁) aggregate,
    N₁₊(·,w₂) is one groupBy(w₂), B is a 1-row total — then three
    keyed joins back onto the pairs (bigram, context, continuation
    keys; all Zipf-small sides, AQE-broadcast when they fit) and two
    1-row broadcasts (B, V). No corpus re-scan beyond the pairs
    explode; docs with <2 tokens get NULL via the final left join.

    Args:
        discount: absolute discount D ∈ (0, 1); 0.75 is the standard
            Chen-Goodman fixed value.
        alpha: OOV guard on the continuation distribution.
        model: pre-trained :func:`bigram_lm` output; None trains on
            ``df``.
        vocab_size: V for the guard; required with an external
            ``model`` (the scorer cannot see its training corpus).
    """
    if not (0.0 < discount < 1.0):
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    pairs = _bigram_pairs(df, text_col, id_col)
    if model is None:
        model = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    elif vocab_size is None:
        raise ValueError(
            "kneser_ney_surprisal: an external model needs vocab_size (V) — "
            "the scorer cannot derive it from the scored corpus"
        )
    if vocab_size is None:
        v_df = (
            df.select(F.explode(tokens(text_col)).alias("__tok"))
            .agg(F.count_distinct("__tok").alias("__v"))
        )
    else:
        v_df = df.sparkSession.range(1).select(
            F.lit(int(vocab_size)).cast("long").alias("__v")
        )
    ctx = model.groupBy("w1").agg(
        F.sum("n").alias("__cn"), F.count(F.lit(1)).alias("__t1")
    )
    cont = model.groupBy("w2").agg(F.count(F.lit(1)).alias("__nb1"))
    b_df = model.agg(F.count(F.lit(1)).alias("__b"))
    d = float(discount)
    a = float(alpha)
    pc = (
        (F.coalesce(F.col("__nb1"), F.lit(0)).cast("double") + F.lit(a))
        / (F.col("__b").cast("double") + F.lit(a) * F.col("__v").cast("double"))
    )
    p_seen = (
        F.greatest(
            F.coalesce(F.col("n"), F.lit(0)).cast("double") - F.lit(d),
            F.lit(0.0),
        )
        + F.lit(d) * F.col("__t1").cast("double") * pc
    ) / F.col("__cn").cast("double")
    scored = (
        pairs.join(model, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(b_df))
        .crossJoin(F.broadcast(v_df))
        .select(
            F.col(id_col),
            F.round(
                -F.log(F.when(F.col("__cn").isNotNull(), p_seen).otherwise(pc))
                * 1e6
            )
            .cast("long")
            .alias("__micro"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("__micro").alias("__sm"), F.count(F.lit(1)).alias("__nb")
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(
            out_col,
            F.round((F.col("__sm").cast("double") / 1e6) / F.col("__nb"), 4),
        )
        .drop("__sm", "__nb")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 256,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into (optionally overlapping) token-window chunks —
    context-length preprocessing for embedding/training jobs. Chunk ``i``
    covers tokens ``[i·stride, i·stride + max_tokens)`` with
    ``stride = max_tokens − overlap``; a document emits
    ``ceil((n − overlap) / stride)`` chunks (min 1 — empty/short docs
    yield one chunk of themselves).

    Pure Catalyst: tokens materialized once per document, chunk indexes
    from ``sequence`` + ``explode``, chunk text via ``slice`` +
    ``array_join`` — a generate over the scan, no shuffle, no Python.
    Output: input columns minus ``text_col``, plus (chunk_id,
    n_chunk_tokens, chunk_text).
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    toked = df.select("*", tokens(text_col).alias("__toks"))
    n = F.size("__toks")
    n_chunks = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1))
    chunked = toked.select(
        "*", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id")
    )
    piece = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, max_tokens
    )
    return chunked.select(
        *[c for c in df.columns if c != text_col],
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def novelty_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY: of a document's distinct ``n``-gram
    shingles, the fraction found in no other document. The inverse lens
    of G26's duplication signals — high novelty marks genuinely fresh
    content, near-zero novelty marks boilerplate/templated documents
    that per-document repetition stats (which only see inside one doc)
    cannot catch. Adds ``n_shingles``, ``n_novel``, ``novelty_ratio``
    (4dp; NULL for docs with no ``n``-gram, i.e. under ``n`` tokens).

    Scale shape: the per-doc-distinct shingle relation explodes once;
    corpus document frequency is ONE map-side-combinable aggregate (a
    shingle seen in one doc counts df=1); the join back is
    shingle-keyed (the G2 inverted-index shape), and the per-doc
    reduction is one long-sum aggregate. No all-pairs, no windows.
    """
    from ferc_xbrl_extractor_spark.operators.neardup import shingle_table

    sh = shingle_table(df, id_col, text_col, n)
    docfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        sh.join(docfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("__df") == 1).cast("long")).alias("n_novel"),
        )
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(
            "n_shingles", F.coalesce("n_shingles", F.lit(0)).cast("long")
        )
        .withColumn("n_novel", F.coalesce("n_novel", F.lit(0)).cast("long"))
        .withColumn(
            "novelty_ratio",
            F.round(
                F.col("n_novel")
                / F.nullif(F.col("n_shingles").cast("double"), F.lit(0.0)),
                4,
            ),
        )
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = "lang",
    source_col: str | None = "source",
    by: list[str] | None = None,
) -> DataFrame:
    """One-row corpus datasheet ("Datasheets for Datasets"-style summary
    a curation run publishes with its output): ONE map-side-combinable
    aggregation over ONE scan regardless of metric count — the G20
    single-pass discipline applied to corpus-level reporting.

    Metrics: document/token/char totals, exact interpolated token-length
    percentiles (``percentile`` ≡ DuckDB ``quantile_cont``), exact
    distinct whitespace-normalized fingerprints with the implied
    duplicate-document ratio, and distinct language/source counts when
    those columns exist. Exact distincts plan as one Expand inside the
    same aggregate — still a single scan; swap ``approx_count_distinct``
    in at the scale where the Expand's shuffle dominates.

    ``by``: per-stratum datasheet instead of one corpus row — the same
    single-pass aggregate grouped on the stratum columns (one row per
    lang/source/...), the data-mix diagnostic a multilingual corpus
    publishes (per-language token shares, length distributions, dup
    ratios). Grouping columns are excluded from the distinct-count
    metrics they would trivially determine.
    """
    by = by or []
    toks = tokens(text_col)
    staged = df.select(
        *[F.col(c) for c in by],
        F.size(toks).cast("long").alias("__nt"),
        F.length(text_col).cast("long").alias("__nc"),
        F.md5(F.array_join(toks, " ")).alias("__fp"),
        *(
            [F.col(lang_col)]
            if lang_col and lang_col in df.columns and lang_col not in by
            else []
        ),
        *(
            [F.col(source_col)]
            if source_col and source_col in df.columns and source_col not in by
            else []
        ),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.sum("__nc").alias("n_chars"),
        F.round(F.percentile(F.col("__nt"), F.lit(0.25)), 4).alias("p25_tokens"),
        F.round(F.percentile(F.col("__nt"), F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile(F.col("__nt"), F.lit(0.75)), 4).alias("p75_tokens"),
        F.countDistinct("__fp").alias("n_distinct_texts"),
        F.round(
            F.lit(1.0) - F.countDistinct("__fp") / F.count(F.lit(1)), 6
        ).alias("dup_doc_ratio"),
    ]
    if lang_col and lang_col in df.columns and lang_col not in by:
        aggs.append(F.countDistinct(lang_col).alias("n_langs"))
    if source_col and source_col in df.columns and source_col not in by:
        aggs.append(F.countDistinct(source_col).alias("n_sources"))
    if by:
        return staged.groupBy(*by).agg(*aggs)
    return staged.agg(*aggs)


def strip_common_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str | None = None,
    max_ratio: float = 0.5,
    min_docs: int = 2,
    line_sep: str = "\n",
) -> DataFrame:
    """CCNet-style boilerplate line removal: a line occurring in more
    than ``max_ratio`` of a group's documents (and in at least
    ``min_docs`` of them) is boilerplate — headers, footers, cookie
    banners — and is stripped from every document in the group. Groups
    are ``source_col`` values (per-domain, the CCNet setting) or the
    whole corpus when ``None``.

    Complements G26: spans remove VERBATIM repeated n-gram runs
    corpus-wide; this removes STRUCTURALLY repeated whole lines by
    per-group document frequency, catching short boilerplate an 8-gram
    can never cover.

    Plan shape: lines explode once with positions; document frequency is
    one aggregate over the per-doc-distinct line set (map-side combine;
    a line repeated inside one doc counts once); the boilerplate set is
    |flagged lines| rows — broadcast by AQE — anti-joined back; one
    doc-keyed aggregate reassembles surviving lines in position order
    (``sort_array`` of collected (pos, line) structs — no window sort).
    Adds ``clean_text`` and ``n_kept_lines``.

    NORMALIZATION CAVEAT: empty lines are dropped before reassembly, so
    ``clean_text`` collapses consecutive/leading/trailing separators
    ('a\\n\\nb' -> 'a\\nb') even for documents containing no boilerplate
    at all — replacing ``text_col`` with ``clean_text`` is therefore NOT
    byte-exact round-tripping for blank-line formatting. This is the
    CCNet convention (blank lines are never content); callers needing
    untouched documents to round-trip exactly should diff
    ``n_kept_lines`` against the document's non-empty line count and
    keep the original text when equal.
    """
    import re as _re

    # NULL source values form their own group via a sentinel — an equi
    # join on a NULL key matches nothing, which would silently exempt
    # every NULL-source document from boilerplate stripping.
    grp = (
        F.coalesce(F.col(source_col).cast("string"), F.lit("\x00__null"))
        if source_col
        else F.lit("__all")
    )
    sep_re = _re.escape(line_sep)
    raw = F.split(F.col(text_col), sep_re)
    lines = (
        df.select(
            F.col(id_col),
            grp.alias("__grp"),
            F.posexplode_outer(raw).alias("__pos", "__line"),
        )
        .filter(F.col("__line").isNotNull() & (F.length("__line") > 0))
    )
    docs_per_grp = df.groupBy(grp.alias("__grp")).agg(
        F.count(F.lit(1)).alias("__grp_docs")
    )
    freq = (
        lines.select("__grp", "__line", id_col)
        .distinct()
        .groupBy("__grp", "__line")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    boiler = (
        freq.join(docs_per_grp, "__grp")
        .filter(
            (F.col("__df") >= min_docs)
            & (F.col("__df") / F.col("__grp_docs") > max_ratio)
        )
        .select("__grp", "__line")
    )
    kept = lines.join(boiler, ["__grp", "__line"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("__pos", "__line"))
                ),
                lambda s: s["__line"],
            ),
            line_sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept_lines"),
    )
    return (
        df.join(rebuilt, id_col, "left")
        .withColumn("clean_text", F.coalesce("clean_text", F.lit("")))
        .withColumn("n_kept_lines", F.coalesce("n_kept_lines", F.lit(0)))
    )


# Rule ids for gopher_rules' fail bitmask, in bit order.
GOPHER_RULES = [
    "n_words",            # bit 0: word count outside [min_words, max_words]
    "mean_word_len",      # bit 1: mean word length outside [min_wl, max_wl]
    "symbol_ratio",       # bit 2: (# + ellipsis) per word above max_symbol_ratio
    "bullet_lines",       # bit 3: bullet-started line fraction above max
    "ellipsis_lines",     # bit 4: ellipsis-ended line fraction above max
    "alpha_words",        # bit 5: words-with-a-letter fraction below min
    "stopword_hits",      # bit 6: fewer distinct stopwords than min_stop_hits
]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_word_len: float = 3.0,
    max_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
    line_sep: str = "\n",
) -> DataFrame:
    """Gopher-style rule-pack quality filter (Rae et al. 2021, §A1.1) as
    ONE Catalyst projection — every signal, the per-rule fail bitmask and
    the keep decision computed in a single codegen'd pass, no shuffle, no
    Python. Thresholds default to the paper's; the bitmask (bit i =
    ``GOPHER_RULES[i]`` failed) gives the "why was this dropped"
    explainability an audit needs without a second scan.

    Adds: n_words, mean_word_len, symbol_ratio, bullet_line_ratio,
    ellipsis_line_ratio, alpha_word_ratio, stop_hits, fail_mask, keep.
    Ratios are rounded to 4dp so any ANSI oracle reproduces them exactly.
    """
    import re as _re

    toks = tokens(text_col)
    n_words = F.size(toks).cast("long")
    nz_words = F.nullif(n_words.cast("double"), F.lit(0.0))
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_wl = F.round(total_len / nz_words, 4)

    txt = F.col(text_col)
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_ell3 = (
        F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))
    ) / 3
    n_ell1 = F.length(txt) - F.length(F.replace(txt, F.lit("…"), F.lit("")))
    symbol_ratio = F.round((n_hash + n_ell3 + n_ell1) / nz_words, 4)

    lines = F.filter(
        F.split(txt, _re.escape(line_sep)), lambda l: F.length(l) > 0
    )
    n_lines = F.nullif(F.size(lines).cast("double"), F.lit(0.0))
    bullet_ratio = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: F.substring(l, 1, 1).isin("-", "*", "•"),
            )
        )
        / n_lines,
        4,
    )
    ellipsis_ratio = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: l.endswith("...") | l.endswith("…"),
            )
        )
        / n_lines,
        4,
    )
    alpha_ratio = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / nz_words, 4
    )
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(F.transform(toks, F.lower)), sw)
    ).cast("long")

    fails = [
        (n_words < min_words) | (n_words > max_words),
        F.coalesce(
            (mean_wl < min_word_len) | (mean_wl > max_word_len), F.lit(True)
        ),
        F.coalesce(symbol_ratio > max_symbol_ratio, F.lit(True)),
        F.coalesce(bullet_ratio > max_bullet_ratio, F.lit(True)),
        F.coalesce(ellipsis_ratio > max_ellipsis_ratio, F.lit(True)),
        F.coalesce(alpha_ratio < min_alpha_ratio, F.lit(True)),
        stop_hits < min_stop_hits,
    ]
    mask = F.lit(0)
    for i, cond in enumerate(fails):
        mask = mask + F.when(cond, F.lit(1 << i)).otherwise(F.lit(0))
    return (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_wl)
        .withColumn("symbol_ratio", symbol_ratio)
        .withColumn("bullet_line_ratio", bullet_ratio)
        .withColumn("ellipsis_line_ratio", ellipsis_ratio)
        .withColumn("alpha_word_ratio", alpha_ratio)
        .withColumn("stop_hits", stop_hits)
        .withColumn("fail_mask", mask.cast("long"))
        .withColumn("keep", mask == 0)
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    out_col: str = "clean_text",
    count_col: str = "n_kept_paragraphs",
) -> DataFrame:
    """Corpus-wide exact paragraph deduplication (the Dolma/C4 companion
    to G26's n-gram spans): every repeated paragraph keeps ONLY its
    globally first occurrence — ordered by ``(id_col, position)`` — and
    later occurrences are removed from their documents.

    Scale shape: paragraphs posexplode once into ``(id, pos, para)``
    keyed by an md5 of the trimmed paragraph; the survivor per key is one
    ``min(struct(id, pos))`` hash aggregate (map-side combinable — a
    paragraph repeated 10^6 times still forwards one candidate per map
    task, the skew-safe shape G26 defaults to); survivors semi-join back
    on the hash (AQE broadcasts when the winner set fits, splits skewed
    probes otherwise) and each document reassembles with
    ``sort_array(collect_list(struct(pos, para)))`` — no window over the
    paragraph key anywhere. Empty/whitespace paragraphs are dropped (the
    same normalization strip_common_lines applies to lines).

    Adds ``out_col`` (kept paragraphs rejoined with ``sep``) and
    ``count_col``; same-named input columns are replaced.
    """
    import re as _re

    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "__pos", "__para"
        ),
    ).filter(F.length(F.trim(F.col("__para"))) > 0)
    keyed = paras.select(
        id_col, "__pos", "__para", F.md5(F.trim(F.col("__para"))).alias("__h")
    )
    winners = keyed.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p")))
        .alias("__w")
    )
    kept = (
        keyed.join(winners, "__h")
        .filter(
            (F.col(id_col) == F.col("__w.i")) & (F.col("__pos") == F.col("__w.p"))
        )
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("__pos", "__para"))
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias("__clean"),
            F.count(F.lit(1)).alias("__n_kept"),
        )
    )
    return df.join(kept, id_col, "left").select(
        *[c for c in df.columns if c not in (out_col, count_col)],
        F.coalesce(F.col("__clean"), F.lit("")).alias(out_col),
        F.coalesce(F.col("__n_kept"), F.lit(0)).cast("long").alias(count_col),
    )


# HTML entity decode table shared with the oracle SQL. Ordered: `&amp;`
# is decoded LAST so double-escaped entities stay literal text
# ("&amp;lt;" -> "&lt;", never "<") — the single-pass convention every
# streaming extractor uses.
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]

# The regex chain shared verbatim with the DuckDB oracle (both engines'
# dialects — java.util.regex and RE2 — agree on every construct used:
# (?is) inline flags, non-greedy .*?, \b, {3,}, (?:...)). `\s` is
# deliberately avoided (the two dialects' classes differ on \x0B);
# whitespace classes are explicit.
_HTML_STRIP_STEPS: list[tuple[str, str]] = [
    (r"(?s)<!--.*?-->", ""),
    (r"(?is)<script\b[^>]*>.*?</script[ \t]*>", ""),
    (r"(?is)<style\b[^>]*>.*?</style[ \t]*>", ""),
    # block-level boundaries become newlines so paragraph structure
    # survives tag removal (feeds strip_common_lines/paragraph_dedup)
    (
        r"(?i)<(?:br[ \t]*/?|/p|/div|/li|/h[1-6]|/tr|/table|/ul|/ol"
        r"|/blockquote|/section|/article)[ \t]*>",
        "\n",
    ),
    # every remaining tag becomes ONE space so inline markup never
    # glues words ("a<b>b</b>" -> "a b", not "ab")
    (r"(?s)<[^>]*>", " "),
]

_HTML_WS_STEPS: list[tuple[str, str]] = [
    (r"[ \t\r\f]+", " "),  # runs of intra-line whitespace -> one space
    (r" ?\n ?", "\n"),  # spaces hugging a newline are tag residue
    (r"\n{3,}", "\n\n"),  # >=3 blank-separated -> one blank line
    (r"^[ \n]+|[ \n]+$", ""),  # trim (no (?m): whole-string anchors)
]


def html_to_text(
    df: DataFrame, html_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """G57: HTML -> text extraction — the first stage of every web-corpus
    pipeline (CCNet/C4/RefinedWeb run a native extractor; this is the
    engine-resident form for corpora that arrive as raw markup). Drops
    comments and <script>/<style> blocks wholesale, turns block-level
    closing tags and <br> into newlines (preserving paragraph structure
    for the downstream line/paragraph operators), strips every remaining
    tag to a single space, decodes the common named entities
    (single-pass: ``&amp;`` last, so double-escaped text stays literal),
    and normalizes whitespace (intra-line runs collapse, >=2 blank lines
    collapse to one, ends trimmed).

    Scope (documented, not hidden): named entities only — numeric
    ``&#NNN;`` forms other than ``&#39;`` pass through; a lone ``<``
    with no closing ``>`` is kept as text; CDATA sections lose only
    their markers. Plain text with no markup round-trips except for the
    whitespace normalization.

    Plan shape: a single projection of chained ``regexp_replace`` /
    ``replace`` column expressions — pure Catalyst, whole-stage codegen,
    zero shuffle, zero Python; scales with the scan like every other G4
    operator. No reference counterpart (gap operator, SURVEY.md §2.12).
    """
    c: Column = F.col(html_col)
    for pat, rep in _HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    for pat, rep in _HTML_WS_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return df.select(
        *[col for col in df.columns if col != out_col], c.alias(out_col)
    )


# Markdown strip chain — constrained like the HTML chain to the
# java.util.regex ∩ RE2 intersection: NO backreferences (RE2 lacks
# them; emphasis is matched with negated classes instead), (?m) line
# anchors, explicit whitespace classes. Replacement strings differ by
# dialect ($1 in Java, \1 in RE2) — the oracle replays with its own
# syntax; `keep` marks the rules that carry a capture group.
MD_STRIP_STEPS: list[tuple[str, str]] = [
    (r"(?m)^```[^\n]*$", ""),  # fence lines go, fenced CONTENT stays
    (r"!\[([^\]\n]*)\]\([^)\n]*\)", "$1"),  # image -> alt (before links)
    (r"\[([^\]\n]*)\]\([^)\n]*\)", "$1"),  # inline link -> text
    (r"\[([^\]\n]*)\]\[[^\]\n]*\]", "$1"),  # reference link -> text
    (r"(?m)^#{1,6}[ \t]+", ""),  # ATX headers
    (r"(?m)^[ \t]*>[ \t]?", ""),  # blockquote markers
    (r"(?m)^[ \t]*[-*+][ \t]+", ""),  # bullet markers
    (r"(?m)^[ \t]*[0-9]+\.[ \t]+", ""),  # ordered-list markers
    (r"(?m)^[=\-*_]{2,}[ \t]*$", ""),  # rules + setext underlines
    (r"\*\*([^*\n]+)\*\*", "$1"),  # bold (no backrefs: per-marker rules)
    (r"\*([^*\n]+)\*", "$1"),  # italic
    (r"__([^_\n]+)__", "$1"),
    (r"_([^_\n]+)_", "$1"),
    (r"`([^`\n]*)`", "$1"),  # inline code keeps its content
]


def markdown_to_text(
    df: DataFrame, md_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """G60: Markdown -> text extraction — the sibling of
    :func:`html_to_text` for the other big raw-corpus format (GitHub
    READMEs, docs sites, forum exports). Fence lines drop (fenced code
    CONTENT is kept — code is training text), images collapse to alt
    text, inline/reference links to their anchor text, ATX headers /
    blockquote markers / list bullets / horizontal rules are stripped,
    emphasis and inline-code markers unwrap; whitespace then normalizes
    exactly as the HTML chain does.

    Scope: no backreference-dependent constructs (RE2-replayable), so
    mixed-marker emphasis (``**x__``) unwraps per marker; embedded HTML
    passes through — chain :func:`html_to_text` after for README-style
    hybrid documents. Plain text round-trips modulo whitespace
    normalization.

    Plan shape: one projection of chained ``regexp_replace`` — pure
    Catalyst, codegen, zero shuffle, zero Python (same as G57).
    """
    c: Column = F.col(md_col)
    for pat, rep in MD_STRIP_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for pat, rep in _HTML_WS_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return df.select(
        *[col for col in df.columns if col != out_col], c.alias(out_col)
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
    line_term_pattern: str = r'[.!?"][ \t]*$',
) -> DataFrame:
    """G61: the C4 cleaning rule-pack (Raffel et al. 2020, §2.2) — the
    line- and page-level screens the original C4 corpus was built with:
    keep only lines that end in terminal punctuation AND carry at least
    ``min_line_words`` words AND don't mention javascript; drop pages
    containing ``{`` (leaked code), the phrase "lorem ipsum", or fewer
    than ``min_kept_lines`` surviving lines.

    Complements the existing packs: G34 gopher_rules screens on
    document-level statistics, G33 strip_common_lines on corpus-level
    line frequency (one aggregate); this is the third lens — per-line
    STRUCTURAL screens that need no corpus context at all. Adds
    ``out_col`` (surviving lines rejoined), ``n_kept_lines`` and a
    page-level ``keep`` flag; callers filter on ``keep`` and replace
    ``text_col`` with ``out_col``.

    Plan shape: pure higher-order functions over one ``split`` — filter
    + rejoin entirely inside the projection, ZERO shuffle, zero Python;
    the cheapest possible form of the C4 pass and exactly what you want
    mapped over 100 TB of raw crawl.
    """
    lines = F.split(F.col(text_col), r"\n")
    words = lambda l: F.size(  # noqa: E731 — local readability helper
        F.filter(F.split(l, r"[ \t]+"), lambda t: F.length(t) > 0)
    )
    kept = F.filter(
        lines,
        lambda l: l.rlike(line_term_pattern)
        & (words(l) >= F.lit(min_line_words))
        & ~F.lower(l).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    n_kept = F.size(kept).cast("long")
    keep = (
        (n_kept >= F.lit(min_kept_lines))
        & ~F.col(text_col).contains("{")
        & ~F.lower(F.col(text_col)).contains("lorem ipsum")
    )
    return df.select(
        *[c for c in df.columns if c not in (out_col, "n_kept_lines", "keep")],
        clean.alias(out_col),
        n_kept.alias("n_kept_lines"),
        keep.alias("keep"),
    )


# G64: URL canonicalization steps — applied IN ORDER, before the
# query rebuild and the scheme/host/rest rebuild. Backreference-free and
# lookaround-free, so the same patterns run under java.util.regex
# (Spark) and RE2 (DuckDB, with the 'g' flag); the oracle chain is
# GENERATED from these tables (the G60 pattern).
URL_STRIP_STEPS: list[tuple[str, str]] = [
    (r"#.*$", ""),  # fragment
]
# Tracking params are the CCNet/C4-style analytics noise that makes
# byte-identical pages look distinct by URL. Matched PER PARAM after the
# query splits on '&', anchored at the param start — so near-miss names
# like 'xfbclid' survive (an unanchored mid-query strip once chewed
# '?xfbclid=1&q=2' into '?xq=2' and silently merged distinct documents).
URL_TRACKING = r"^(?:utm_[A-Za-z]+|fbclid|gclid|msclkid)="
# RFC 3986 §2.3 unreserved characters: percent-encoding them is
# OPTIONAL, and real crawls see both forms of the same page constantly
# ('%7Euser' vs '~user', '%2Fpath' case variants) — encoders disagree
# on unreserved-set escaping. Canonical form: decode them. The decode
# step table is GENERATED (uppercase hex only — the escape-hex
# uppercasing pass runs first), literal find→replace pairs, so both
# engines replay it with plain replace(), no regex.
URL_UNRESERVED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    "0123456789-._~"
)
URL_PCT_DECODE_STEPS: list[tuple[str, str]] = [
    (f"%{ord(c):02X}", c) for c in URL_UNRESERVED
]
_URL_PCT_HEX = r"^[0-9A-Fa-f]{2}"
_URL_SCHEME = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_URL_HOST = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_URL_PREFIX = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"


def _rebuild_query(u: Column) -> Column:
    """Split the query on '&', drop empty and tracking params
    (URL_TRACKING, anchored per param), SORT the survivors, rejoin.
    Param-order permutations ('?a=1&b=2' vs '?b=2&a=1' — the same page,
    emitted constantly by real crawls) canonicalize to one key; an
    emptied query drops its '?'. Pure higher-order functions inside the
    projection — zero shuffle, zero Python."""
    base = F.regexp_replace(u, r"\?.*$", "")
    q = F.regexp_extract(u, r"\?(.*)$", 1)
    params = F.filter(
        F.split(q, "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(URL_TRACKING),
    )
    return F.when(
        F.size(params) > 0,
        F.concat(base, F.lit("?"), F.array_join(F.sort_array(params), "&")),
    ).otherwise(base)


def _pct_canonicalize(u: Column) -> Column:
    """Percent-encoding canonical form: escape hex uppercased
    (``%2f`` → ``%2F``) and percent-encoded RFC-3986 unreserved
    characters decoded (``%7E`` → ``~``, ``%41`` → ``A``) via the
    generated URL_PCT_DECODE_STEPS literal replace chain. The
    whole pass splits on ``%`` and rewrites each segment's leading hex
    pair with higher-order array functions — no backreferences, no
    callbacks, so DuckDB's list lambdas replay it structurally. A ``%``
    not followed by two hex digits passes through (malformed escapes
    are kept verbatim, like the rest of the canonicalizer's
    garbage-in-garbage-kept policy).

    The unreserved decode is a constant-map lookup on the (uppercased)
    hex pair INSIDE the same per-segment lambda — one pass over the
    string. The first form chained 66 whole-string ``replace`` calls
    after the rejoin, 66 string copies per row; that doubled the g64
    bench row (0.94 → 1.9s at sf0.1). ``try_element_at``: a plain map
    access throws under ANSI mode when the key is missing (a reserved
    escape), and missing-key → NULL is exactly the branch signal."""
    dec_map = F.create_map(
        *[F.lit(x) for find, rep in URL_PCT_DECODE_STEPS
          for x in (find[1:], rep)]
    )
    parts = F.split(u, "%", -1)

    def seg(p, i):
        up = F.upper(F.substring(p, 1, 2))
        rest = F.substr(p, F.lit(3))
        dec = F.try_element_at(dec_map, up)
        return (
            F.when(i == F.lit(0), p)
            .when(
                p.rlike(_URL_PCT_HEX),
                F.when(dec.isNotNull(), F.concat(dec, rest)).otherwise(
                    F.concat(F.lit("%"), up, rest)
                ),
            )
            .otherwise(F.concat(F.lit("%"), p))
        )

    return F.array_join(F.transform(parts, seg), "")


def normalize_url(url_col: str | Column = "url") -> Column:
    """G64: canonical form of a URL — fragments stripped
    (URL_STRIP_STEPS), percent-encoding canonicalized (escape hex
    uppercased, unreserved characters decoded — ``_pct_canonicalize``),
    tracking parameters dropped and the remaining
    query parameters SORTED (URL_TRACKING + ``_rebuild_query``), scheme
    and host lowercased, default ports dropped (``:80`` for http,
    ``:443`` for https), trailing slashes trimmed, bare hosts given
    ``/``. Strings without a scheme pass through unchanged
    (already-canonical keys, non-URL ids).

    This is the dedup key a web-crawl pipeline needs BEFORE content
    dedup: the same page arrives under `http://WWW.x.com/p/`,
    `https://www.x.com:443/p?utm_source=feed`, `...?b=2&a=1` vs
    `...?a=1&b=2`, and URL-keyed dedup collapses refetches at zero
    content cost. One codegen'd projection — regexp chain + split/
    filter/sort_array/array_join + two ``regexp_extract`` — zero
    shuffle, zero Python, and bit-replayable by the SQL oracle
    :func:`normalize_url_sql` generated from the same tables."""
    col = F.col(url_col) if isinstance(url_col, str) else url_col
    u = col
    for pat, rep in URL_STRIP_STEPS:
        u = F.regexp_replace(u, pat, rep)
    # after the fragment strip (an ENCODED '#', %23, is reserved and
    # stays encoded — decoding only unreserved characters can never
    # change URL structure), before the query rebuild (params sort over
    # canonical bytes)
    u = _pct_canonicalize(u)
    u = _rebuild_query(u)
    scheme = F.lower(F.regexp_extract(u, _URL_SCHEME, 1))
    host = F.lower(F.regexp_extract(u, _URL_HOST, 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    rest = F.regexp_replace(u, _URL_PREFIX, "")
    rest = F.regexp_replace(rest, r"/+$", "")
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(
        scheme == "", col
    ).otherwise(F.concat(scheme, F.lit("://"), host, rest))


# G66: the "generic" 2-level TLDs where the registrable domain needs
# THREE labels (bbc.co.uk, not co.uk). A pragmatic public-suffix
# approximation — the full PSL is a data file, not logic; swap it in by
# broadcasting a suffix table when exactness matters.
URL_SECOND_LEVEL_TLDS = ("co", "com", "org", "net", "ac", "gov", "edu")


def host_of_url(url_col: str | Column = "url") -> Column:
    """G66: lowercased host of a URL, port stripped; empty string for
    scheme-less values. One regexp_extract + one regexp_replace —
    map-side, RE2-safe, replayed verbatim by the SQL oracle."""
    col = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.regexp_replace(
        F.lower(F.regexp_extract(col, _URL_HOST, 1)), r":[0-9]+$", ""
    )


def registrable_domain(host_col: str | Column = "host") -> Column:
    """G66: registrable-domain approximation of a host — the last two
    labels, or three when the second-to-last is a generic 2-level TLD
    label (URL_SECOND_LEVEL_TLDS) under a 2-char country TLD:
    ``www.site.example.com`` → ``example.com``, ``news.bbc.co.uk`` →
    ``bbc.co.uk``. Pure array ops inside the projection — zero shuffle,
    zero Python."""
    col = F.col(host_col) if isinstance(host_col, str) else host_col
    labels = F.split(col, r"\.")
    n = F.size(labels)
    two = F.array_join(F.slice(labels, -2, 2), ".")
    three = F.array_join(F.slice(labels, -3, 3), ".")
    second = F.element_at(labels, -2)
    tld = F.element_at(labels, -1)
    needs_three = (
        (n >= 3)
        & second.isin(*URL_SECOND_LEVEL_TLDS)
        & (F.length(tld) == 2)
    )
    return F.when(n <= 1, col).when(needs_three, three).otherwise(two)


def load_public_suffixes(spark, path: str) -> DataFrame:
    """Read a publicsuffix.org data file (the PSL's plain-text format:
    ``//`` comments, blank lines, one rule per line) into the 1-column
    ``(suffix)`` relation :func:`with_registrable_domain` consumes.
    ALL three rule kinds are kept (r8 verdict #5 — the r8 loader
    silently dropped ~1k wildcard/exception rows): plain (``co.uk``),
    wildcard (``*.kawasaki.jp``) and exception (``!city.kawasaki.jp``)
    rules pass through verbatim for the consumer to dispatch on; rules
    are lowercased and de-duplicated. ~9.5k rows from the published
    list — a natural broadcast dimension."""
    s = F.trim(F.col("value"))
    return (
        spark.read.text(path)
        .select(F.lower(s).alias("suffix"))
        .filter(
            (F.length("suffix") > 0) & ~F.col("suffix").startswith("//")
        )
        .distinct()
    )


def with_registrable_domain(
    df: DataFrame,
    host_col: str = "host",
    out_col: str = "domain",
    suffixes: DataFrame | None = None,
    suffix_col: str = "suffix",
    max_suffix_labels: int | None = None,
) -> DataFrame:
    """G66: attach the registrable domain of ``host_col`` as
    ``out_col`` — by the heuristic expression (:func:`registrable_domain`,
    the default) or EXACTLY against a public-suffix table.

    ``suffixes``: a 1-column relation of public-suffix rules in the
    PSL's own syntax — plain (``co.uk``, ``ne.jp``), wildcard
    (``*.kawasaki.jp``: ``*`` matches exactly one label, leftmost
    position only, as in every published rule) and exception
    (``!city.kawasaki.jp``: beats any matching wildcard/plain rule;
    the matched labels ARE the registrable domain, per the spec's
    "rule minus leftmost label is the public suffix"). The published
    list is ~9.5k rules, a natural broadcast dim. Longest-match
    semantics via one BROADCAST left join per (rule kind, candidate
    length) pair PRESENT IN THE RULES — all map-side, zero shuffle of
    the corpus at any scale; absent (kind, length) pairs cost nothing.
    The candidate fan is DERIVED from the rules (one bounded aggregate
    over the broadcast-sized relation), so a 5-label rule like
    ``s3.dualstack.ap-northeast-1.amazonaws.com`` can never be
    silently out-ranged; pass ``max_suffix_labels`` to assert a
    ceiling instead (rules longer than it raise). Malformed rules
    (``*`` anywhere but as the entire leftmost label, interior ``!``)
    raise with a count — never a silent drop. Hosts are lowercased for
    matching AND in ``out_col`` (PSL rules are lowercase; domains are
    case-insensitive — a mixed-case host must not silently miss its
    rule). A host with no matching rule falls back to the PSL's
    prevailing-``*`` rule (suffix = last label, registrable = last
    two), matching the heuristic's base case. A host that IS a public
    suffix (``co.uk``; ``a.kawasaki.jp`` under ``*.kawasaki.jp``) has
    no registrable domain and passes through unchanged — an explicit
    branch, not the r8 accident-of-fallback.
    """
    col = F.col(host_col)
    if suffixes is None:
        return df.withColumn(out_col, registrable_domain(host_col))
    col = F.lower(col)
    # parse rule kinds once — the relation is broadcast-sized, so the
    # two driver-side aggregates below are bounded by |rules|
    r = F.lower(F.trim(F.col(suffix_col)))
    parsed = suffixes.select(
        F.when(r.startswith("!"), F.lit("exc"))
        .when(r.startswith("*."), F.lit("wld"))
        .otherwise(F.lit("pln"))
        .alias("__kind"),
        F.when(r.startswith("!"), F.substring(r, 2, 2**30))
        .otherwise(r)
        .alias("__key"),  # exceptions keyed on the body; wildcards verbatim
        r.alias("__raw"),
    ).withColumn("__k", F.size(F.split(F.col("__key"), r"\.")))
    # strict malformed-rule gate (r8 verdict #5 / hygiene #8): a '*'
    # anywhere but as the whole leftmost label, or an interior '!',
    # would otherwise be treated as literal characters and never match
    bad = parsed.filter(
        (
            F.col("__raw").contains("*")
            & ~(
                F.col("__raw").startswith("*.")
                & ~F.expr("substring(__raw, 3)").contains("*")
            )
        )
        | F.expr("substring(__raw, 2)").contains("!")
    )
    n_bad = bad.count()
    if n_bad:
        ex = [row["__raw"] for row in bad.limit(3).collect()]
        raise ValueError(
            f"{n_bad} malformed public-suffix rule(s) (wildcards are "
            f"leftmost-label-only in the PSL; '!' marks only a leading "
            f"exception): e.g. {ex}"
        )
    meta = {
        (row["__kind"], int(row["__k"]))
        for row in parsed.select("__kind", "__k").distinct().collect()
    }
    longest = max(k for _, k in meta)
    if max_suffix_labels is not None and longest > max_suffix_labels:
        raise ValueError(
            f"suffix rules reach {longest} labels, beyond "
            f"max_suffix_labels={max_suffix_labels} — longer rules would "
            "be silently ignored"
        )
    labels = F.split(col, r"\.")
    n = F.size(labels)

    def _last(k: int):
        return F.array_join(F.slice(labels, -k, k), ".")

    out = df
    joined_cols: list[str] = []
    hits: dict[str, list[tuple[int, str]]] = {"exc": [], "pln": [], "wld": []}
    for kind, k in sorted(meta, key=lambda t: -t[1]):
        cand_col, hit_col = f"__{kind}{k}", f"__{kind}hit{k}"
        # candidates fire at n >= k (a NULL candidate can never
        # join-match); the n == k case — host IS the public suffix —
        # is resolved to pass-through at decision time
        if kind == "pln":
            cand = F.when(n >= k, _last(k))
        elif kind == "wld":
            # '*' eats exactly one host label: key = '*.' + the k-1
            # literal labels
            if k < 2:
                continue  # a bare-'*' rule IS the prevailing fallback
            cand = F.when(
                n >= k,
                F.concat(F.lit("*."), _last(k - 1)),
            )
        else:  # exc — the matched labels are the registrable domain
            cand = F.when(n >= k, _last(k))
        out = out.withColumn(cand_col, cand)
        rules = (
            parsed.filter((F.col("__kind") == kind) & (F.col("__k") == k))
            .select(F.col("__key").alias(cand_col))
            .distinct()
            .withColumn(hit_col, F.lit(True))
        )
        out = out.join(F.broadcast(rules), cand_col, "left")
        joined_cols += [cand_col, hit_col]
        hits[kind].append((k, hit_col))
    dom = F.when(n <= 1, col)
    for k, hit_col in hits["exc"]:  # exceptions beat everything
        dom = dom.when(F.col(hit_col), _last(k))
    merged: dict[int, Column] = {}
    for kind in ("pln", "wld"):  # same precedence: longest match wins
        for k, hit_col in hits[kind]:
            c = F.coalesce(F.col(hit_col), F.lit(False))
            merged[k] = (merged[k] | c) if k in merged else c
    for k in sorted(merged, reverse=True):
        dom = dom.when(
            merged[k], F.when(n == k, col).otherwise(_last(k + 1))
        )
    dom = dom.otherwise(_last(2))
    out = out.withColumn(out_col, dom)
    return out.drop(*joined_cols)


def domain_report(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    domain_col: str = "domain",
    suffixes: DataFrame | None = None,
) -> DataFrame:
    """G66: per-registrable-domain corpus report — document count,
    distinct canonical-URL count, total text bytes. THE balancing
    dimension crawl curation caps on (a handful of domains otherwise
    monopolize any token budget); feed ``domain_col`` to
    ``cap_per_group``/``group_cap_col`` for the enforcement half.

    ``suffixes``: optional public-suffix relation for exact domain
    grouping (:func:`with_registrable_domain`); the heuristic stays the
    default.

    One map-side projection (host → domain + canonical URL, the
    suffix-table mode adding only broadcast joins) and ONE hash
    aggregate; the distinct-URL count rides in the same aggregate. At
    100 TB the output is |domains| rows — millions, not billions."""
    base = df.select(
        host_of_url(url_col).alias("__host"),
        normalize_url(url_col).alias("__canon"),
        F.length(F.col(text_col)).cast("long").alias("__chars"),
    )
    base = with_registrable_domain(
        base, "__host", domain_col, suffixes=suffixes
    )
    return (
        base.groupBy(domain_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("__canon")).alias("n_urls"),
            F.sum("__chars").alias("n_chars"),
        )
    )


def dedup_by_url(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    canon_col: str = "canon_url",
) -> DataFrame:
    """G64: URL-keyed exact dedup — keep the minimum-``id_col`` row per
    canonical URL (deterministic survivor, the G1 policy). One
    ``min_by`` hash aggregate over the normalized key: map-side partial
    combine ships one candidate per canonical URL per task, so the
    shuffle is |distinct URLs|, not |rows| — the right shape for a crawl
    where refetch duplication is high."""
    canon = df.withColumn(canon_col, normalize_url(url_col))
    from ferc_xbrl_extractor_spark.operators.dedup import dedup_exact_keep

    return dedup_exact_keep(
        canon, keys=[canon_col], order_by=[F.col(id_col)]
    )


def normalize_url_sql(
    inner_sql: str,
    cols: list[str],
    url_col: str = "u",
    out_col: str = "canon_url",
) -> str:
    """ANSI/DuckDB-SQL replay of :func:`normalize_url`, GENERATED from
    the same URL_STRIP_STEPS / URL_TRACKING tables (the G60/G65
    generated-oracle pattern) so Spark and the oracle cannot drift.
    ``inner_sql`` must yield ``cols`` plus ``url_col``; returns a SELECT
    of ``cols`` + ``out_col``. Patterns are capture-group-free and
    RE2-safe; the per-param tracking filter and the param sort use
    DuckDB's list lambdas, mirroring Spark's higher-order functions."""
    u = url_col
    for pat, rep in URL_STRIP_STEPS:
        u = f"regexp_replace({u}, '{pat}', '{rep}', 'g')"
    # percent canonicalization, mirroring _pct_canonicalize: split on
    # '%', per segment uppercase the leading hex pair and decode it
    # when unreserved (a generated CASE chain — the constant-map lookup
    # the Spark side does), rejoin.
    # COALESCE: DuckDB's array_to_string returns NULL (not '') for an
    # empty list — i.e. for every URL with no '%' at all
    dec_case = " ".join(
        f"WHEN '{find[1:]}' THEN '{rep}'"
        for find, rep in URL_PCT_DECODE_STEPS
        # a decoded single quote would need escaping; the unreserved
        # set contains none, asserted by the generator
        if rep != "'" or (_ for _ in ()).throw(ValueError(rep))
    )
    pct = (
        "__parts[1] || COALESCE(array_to_string(list_transform("
        "__parts[2:], "
        f"x -> CASE WHEN regexp_matches(x, '{_URL_PCT_HEX}') "
        f"THEN COALESCE(CASE upper(x[1:2]) {dec_case} END, "
        "'%' || upper(x[1:2])) || x[3:] "
        "ELSE '%' || x END), ''), '')"
    )
    params = (
        "list_filter(string_split(__q, '&'), "
        f"x -> x <> '' AND NOT regexp_matches(x, '{URL_TRACKING}'))"
    )
    keep = ", ".join(cols)
    return f"""
        SELECT {keep},
               CASE WHEN __sch = '' THEN {url_col} ELSE
                 __sch || '://' ||
                 (CASE WHEN __sch = 'http' THEN regexp_replace(__h, ':80$', '', 'g')
                       WHEN __sch = 'https' THEN regexp_replace(__h, ':443$', '', 'g')
                       ELSE __h END) ||
                 (CASE WHEN __rest = '' THEN '/' ELSE __rest END)
               END AS {out_col}
        FROM (
          SELECT {keep}, {url_col},
                 lower(regexp_extract(__u2, '{_URL_SCHEME}', 1)) AS __sch,
                 lower(regexp_extract(__u2, '{_URL_HOST}', 1)) AS __h,
                 regexp_replace(regexp_replace(__u2, '{_URL_PREFIX}', '', 'g'),
                                '/+$', '', 'g') AS __rest
          FROM (
            SELECT {keep}, {url_col},
                   CASE WHEN len(__p) > 0
                        THEN __base || '?' || array_to_string(list_sort(__p), '&')
                        ELSE __base END AS __u2
            FROM (
              SELECT {keep}, {url_col},
                     regexp_replace(__uf, '\\?.*$', '', 'g') AS __base,
                     {params} AS __p
              FROM (
                SELECT {keep}, {url_col},
                       __upct AS __uf,
                       regexp_extract(__upct, '\\?(.*)$', 1) AS __q
                FROM (
                  SELECT {keep}, {url_col}, {pct} AS __upct
                  FROM (
                    SELECT {keep}, {url_col},
                           string_split({u}, '%') AS __parts
                    FROM ({inner_sql})
                  )
                )
              )
            )
          )
        )
    """


def collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 2,
    min_count: int = 2,
    top_k: int = 100,
) -> DataFrame:
    """G89: corpus collocation statistics — ordered token pairs
    co-occurring within ``window`` positions, scored by LIFT
    ``n_pair · N / (n_a · n_b)`` (pointwise mutual information's exact
    rational core, before the log — one integer-exact ratio instead of
    a transcendental, so the score is hash-reproducible cross-engine).
    The corpus-analysis primitive behind phrase mining ("new york",
    "machine learning"), tokenizer-merge candidates, and template/spam
    fingerprinting (boilerplate pairs score extreme lift).

    Returns the top ``top_k`` pairs as ``(w1, w2, n_pair, n_w1, n_w2,
    lift, rank)`` under the total order (lift DESC, n_pair DESC, w1,
    w2); pairs below ``min_count`` occurrences are cut before scoring
    (rare-pair lift is noise — a pair seen once between two hapaxes
    scores N).

    Scale shape: ONE posexplode projection; pair generation is
    ``window`` lead() columns over a doc-keyed window (one exchange on
    the doc id — never a self-join on position); the pair aggregate and
    the unigram marginal aggregate are both map-side combinable; N is
    a 1-row broadcast; marginals attach by two keyed joins against the
    (already small) filtered pair relation; the final top-k is a
    TakeOrdered, not a global sort.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    base = (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(F.col(id_col), F.posexplode("__toks").alias("pos", "w1"))
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    # leads materialize in a projection first — Catalyst forbids window
    # expressions inside a generator
    led = base.select(
        "w1",
        *[
            F.lead("w1", k).over(w).alias(f"__n{k}")
            for k in range(1, window + 1)
        ],
    )
    pair_cols = F.array(
        *[
            F.struct(
                F.col("w1").alias("a"), F.col(f"__n{k}").alias("b")
            )
            for k in range(1, window + 1)
        ]
    )
    pairs = (
        led.select(F.explode(pair_cols).alias("__p"))
        .filter(F.col("__p.b").isNotNull())
        .select(F.col("__p.a").alias("w1"), F.col("__p.b").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    marg = base.groupBy("w1").agg(
        F.count(F.lit(1)).cast("long").alias("n_w")
    )
    total = marg.agg(F.sum("n_w").cast("long").alias("n_total"))
    scored = (
        pairs.join(marg.withColumnRenamed("n_w", "n_w1"), "w1")
        .join(
            marg.withColumnRenamed("w1", "w2").withColumnRenamed(
                "n_w", "n_w2"
            ),
            "w2",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "n_pair", "n_w1", "n_w2",
            # each factor casts to double BEFORE the multiply: a
            # long·long product overflows int64 for tokens appearing
            # >3e9 times (corpus scale) and Spark wraps silently
            F.round(
                F.col("n_pair")
                * F.col("n_total").cast("double")
                / (
                    F.col("n_w1").cast("double")
                    * F.col("n_w2").cast("double")
                ),
                4,
            ).alias("lift"),
        )
    )
    # single rank window: Spark ≥3.5 plans row_number() ≤ k with a
    # partial WindowGroupLimit on each map task BEFORE the single-
    # partition exchange (SPARK-37099), so the global rank only ever
    # sees ≤ top_k rows per upstream task — the manual
    # partitionBy(spark_partition_id()) pre-prune this replaced cost an
    # extra full exchange (the planner hash-partitions on the pid
    # column). Order is total (w1, w2 unique), so output is identical.
    order = [F.col("lift").desc(), F.col("n_pair").desc(), "w1", "w2"]
    ww = Window.orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(ww).cast("int"))
        .filter(F.col("rank") <= top_k)
    )


# Unicode script ranges for G91 — class spellings chosen inside the
# java.util.regex ∩ RE2 intersection (literal \uXXXX ranges, no
# properties like \p{Script=...}, which RE2 spells differently).
SCRIPT_CLASSES: list[tuple[str, str]] = [
    # latin covers ASCII letters PLUS the accented blocks (Latin-1
    # Supplement letters À-Ö/Ø-ö/ø, Latin Extended-A/B through ɏ, and
    # Latin Extended Additional Ḁ-ỿ for Vietnamese) — the r8 ASCII-only
    # class counted é/ñ/ß toward NO class, so heavily accented
    # Latin-script documents (French, Vietnamese, Turkish) could
    # mislabel as 'digit'/'other' and --allowed-scripts latin dropped
    # legitimate text. The two multiplication/division signs (×, ÷)
    # are excluded by the range split, as in the Unicode blocks.
    ("latin", "A-Za-zÀ-ÖØ-öø-ɏḀ-ỿ"),
    ("digit", "0-9"),
    ("cyrillic", "Ѐ-ӿ"),
    ("arabic", "؀-ۿ"),
    ("cjk", "一-鿿"),
    ("kana", "぀-ヿ"),
    ("hangul", "가-힯"),
]


def _script_counts(text_col: str) -> dict:
    n_chars = F.length(F.col(text_col))
    return {
        name: n_chars
        - F.length(F.regexp_replace(F.col(text_col), f"[{cls}]", ""))
        for name, cls in SCRIPT_CLASSES
    }


def script_of(text_col: str = "text") -> Column:
    """G91: the dominant-script label alone (the argmax column
    with_script_profile attaches) — for screens that route on script
    without materializing the per-class ratios."""
    counts = _script_counts(text_col)
    names = [n for n, _ in SCRIPT_CLASSES]
    script = F.lit("other")
    for name in reversed(names):
        cond = counts[name] > 0
        for other in names:
            if other == name:
                continue
            if names.index(other) < names.index(name):
                cond = cond & (counts[name] > counts[other])
            else:
                cond = cond & (counts[name] >= counts[other])
        script = F.when(cond, F.lit(name)).otherwise(script)
    return script


def with_script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """G91: per-document writing-system profile — for each Unicode
    script class, the fraction of characters in it, plus the dominant
    ``script`` label. The multilingual-corpus router: script detection
    is cheaper and stricter than model-based language ID (G4's n-gram
    lang_pred refines WITHIN a script), and mixed-script documents
    (spam, encoding damage, code) surface as low max-ratio rows.

    Counting is ``length(text) - length(regexp_replace(text, '[cls]',
    ''))`` per class — pure codegen'd string expressions, no explode, no
    shuffle, ONE projection (the G57/G60 zero-Python pattern); class
    spellings live in the java.util.regex ∩ RE2 intersection so the
    DuckDB oracle runs the character-identical regexes. Ratios are
    count/n_chars rounded 4dp (exact-integer division, deterministic);
    the dominant script is the FIRST class in SCRIPT_CLASSES order
    whose count is positive, strictly greater than every
    earlier-declared class's count, and >= every later one's — i.e.
    ties break toward the earlier-declared class (pinned by the
    ``'ab12' → latin`` test golden) — a deterministic argmax both
    engines replay as a CASE chain; all-zero rows (whitespace/punct-only
    or empty) label ``'other'``.

    Emits ``n_chars``, one ``<class>_ratio`` per script class, and
    ``script``. Raises if the input already carries any of those names
    (r8 ADVICE: documents relations in this repo commonly carry
    ``n_chars`` — silently overwriting it corrupted downstream
    consumers' expectations; rename or drop the column first).
    """
    emitted = (
        ["n_chars", "script"]
        + [f"{name}_ratio" for name, _ in SCRIPT_CLASSES]
    )
    clash = [c for c in emitted if c in df.columns]
    if clash:
        raise ValueError(
            f"with_script_profile would overwrite existing column(s) "
            f"{clash}; rename or drop them first"
        )
    counts = _script_counts(text_col)
    out = df.withColumn(
        "n_chars", F.length(F.col(text_col)).cast("long")
    )
    for name, _ in SCRIPT_CLASSES:
        out = out.withColumn(
            f"{name}_ratio",
            F.when(
                F.col("n_chars") > 0,
                F.round(counts[name] / F.col("n_chars").cast("double"), 4),
            ).otherwise(F.lit(0.0)),
        )
    # deterministic argmax: first class (declaration order) that is
    # >= every other class's count and > 0 — script_of
    return out.withColumn("script", script_of(text_col))


def extract_links(
    df: DataFrame,
    html_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "href",
) -> DataFrame:
    """G112: href extraction from raw HTML — ``(id, href)`` with one
    row per link OCCURRENCE (multiplicity kept: repeated links carry
    weight for graph consumers that want it; G65/G104/G110 dedup on
    their own edge relation anyway). The missing first step of the
    link-graph family: raw crawl HTML → `extract_links` → host edges
    (compose with :func:`host_of_url`) → PageRank/HITS/LPA — the whole
    chain now runs engine-resident on a crawl table.

    Scope (documented): ``href`` attributes in double OR single
    quotes, any tag (a, link, area — HTML doesn't restrict href
    either); unquoted hrefs and srcset-style attribute soup are out of
    scope (quoted hrefs are what real-world generators emit). Values
    come back verbatim — relative links, fragments, javascript: etc.
    included; filter/canonicalize downstream (G64's chain).

    Plan shape: one ``regexp_extract_all`` projection per quote style,
    concatenated, exploded — pure Catalyst, zero Python; the regexes
    stay inside the java.util.regex ∩ RE2 intersection (explicit
    whitespace classes, no backreferences) so the DuckDB oracle
    replays them verbatim (the G57 contract).
    """
    ws = "[ \\t\\r\\n]*"
    dq = F.regexp_extract_all(
        F.col(html_col), F.lit(f'href{ws}={ws}"([^"]*)"'), F.lit(1)
    )
    sq = F.regexp_extract_all(
        F.col(html_col), F.lit(f"href{ws}={ws}'([^']*)'"), F.lit(1)
    )
    return (
        df.select(F.col(id_col), F.concat(dq, sq).alias("__hrefs"))
        .select(F.col(id_col), F.explode("__hrefs").alias(out_col))
    )


def host_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "text",
) -> DataFrame:
    """G113: raw crawl rows → HOST-GRAPH edges — the composition that
    makes the whole link-graph family run end-to-end engine-resident:
    ``(page url, page html)`` → :func:`extract_links` hrefs → per-link
    destination host → ``(id, src_host, dst_host)`` edges feeding
    G65 PageRank / G87 PPR / G100 BFS / G104 LPA / G110 HITS directly.

    Resolution rules (documented, RE2-replayable — no URL library):
    absolute ``http(s)://`` hrefs resolve to their own host (via
    :func:`host_of_url`: lowercased, port stripped);
    protocol-relative ``//host/...`` hrefs take the href's host;
    path-relative hrefs (``/x``, ``x/y``, ``#f``, ``?q``) resolve to
    the PAGE's host (a self-edge — real: nav links dominate crawl
    HTML); non-web schemes (``mailto:``, ``javascript:``, ``ftp:``,
    ``data:``) are dropped, as are links on pages whose own URL
    yields no host. Occurrence multiplicity is kept (G112's
    contract); graph consumers dedup on their own edge relation.

    Plan shape: the G112 extraction plus one CASE of two regexes —
    still a pure projection pipeline, zero Python, zero shuffle; the
    edge relation lands partitioned however the crawl scan was.
    """
    links = extract_links(df, html_col=html_col, id_col=id_col)
    pages = df.select(
        F.col(id_col), host_of_url(url_col).alias("__src")
    )
    href = F.col("href")
    is_abs = href.rlike(r"^[Hh][Tt][Tt][Pp][Ss]?://")
    is_proto_rel = href.rlike(r"^//")
    has_scheme = href.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:")
    dst = (
        F.when(is_abs, host_of_url(href))
        .when(is_proto_rel, host_of_url(F.concat(F.lit("http:"), href)))
        .when(has_scheme, F.lit(""))  # mailto:, javascript:, data:, ...
        .otherwise(F.col("__src"))  # path-relative -> self-edge
    )
    return (
        links.join(pages, id_col)
        .select(F.col(id_col), F.col("__src").alias("src_host"), dst.alias("dst_host"))
        .filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    )
