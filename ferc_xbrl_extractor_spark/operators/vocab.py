"""Vocabulary build + integer token encoding (G29) — the bridge between
corpus curation (G16) and sequence packing (G17): turn curated text into
the bounded-id integer streams a trainer consumes.

Two stages, each with an explicit scale shape:

- **build_vocab** — one explode → count aggregate (map-side partial
  combine; the exchange carries |distinct tokens|, not |tokens|), then
  global top-V via ``orderBy().limit(V)`` — Spark compiles that to
  ``TakeOrderedAndProject`` (per-partition heaps, no full sort). Id
  assignment is a ``row_number`` over the V survivors only: a
  single-partition window bounded by ``vocab_size``, never by the corpus.

- **encode_documents** — the vocab is folded into ONE row holding a
  ``map<token,id>`` and broadcast through a 1-row cross join (the same
  shape ``text.bm25_scores`` uses for corpus stats); encoding is then a
  per-row ``transform`` + ``element_at`` map probe, fully codegen'd.
  The corpus is never exploded, never shuffled by token, and never
  re-grouped by document — encode cost is a scan. A 100k-entry vocab is
  a few MB: trivially broadcastable; at millions of entries switch the
  probe to a broadcast hash join over posexploded tokens (one doc-keyed
  reassembly shuffle) — the map form is strictly better below that.

Ids are 1..V ordered by (count desc, token asc) — deterministic, total
(token is unique) — with 0 reserved for OOV/UNK, the convention id-based
trainers expect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 50000,
    min_count: int = 1,
) -> DataFrame:
    """(token, token_id, n): the ``vocab_size`` most frequent corpus
    tokens, id 1..V by (count desc, token asc)."""
    counts = (
        df.select(F.explode_outer(tokens(text_col)).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    topv = counts.orderBy(F.col("n").desc(), F.col("token")).limit(vocab_size)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return topv.select(
        "token", F.row_number().over(w).cast("int").alias("token_id"), "n"
    )


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    unk_id: int = 0,
    out_col: str = "token_ids",
) -> DataFrame:
    """Add ``out_col``: the document's whitespace tokens as vocab ids
    (OOV → ``unk_id``). Scan-shaped — see module docstring."""
    vmap = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct("token", "token_id"))
        ).alias("__vmap")
    )
    toked = df.select("*", tokens(text_col).alias("__toks")).crossJoin(
        F.broadcast(vmap)
    )
    # Map probe via __getitem__ (UnresolvedExtractValue), which accepts a
    # column key — ``element_at`` requires a literal in older API shapes.
    ids = F.transform(
        "__toks",
        lambda t: F.coalesce(
            F.col("__vmap")[t], F.lit(int(unk_id)).cast("int")
        ),
    )
    return toked.select(*df.columns, ids.alias(out_col))


def decode_documents(
    df: DataFrame,
    vocab: DataFrame,
    ids_col: str = "token_ids",
    out_col: str = "decoded_text",
    unk_token: str = "<unk>",
) -> DataFrame:
    """Inverse of :func:`encode_documents`: rebuild whitespace-joined
    text from vocab ids (ids with no vocab entry → ``unk_token``) — the
    round-trip validator for encoded corpora (a doc of in-vocab tokens
    decodes byte-identically; see tests). Same scan shape as encode:
    the id→token map rides as ONE broadcast row, the probe is a
    codegen'd ``transform``, the corpus is never exploded or shuffled.
    """
    vmap = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct("token_id", "token"))
        ).alias("__rmap")
    )
    joined = df.crossJoin(F.broadcast(vmap))
    toks = F.transform(
        ids_col,
        lambda i: F.coalesce(F.col("__rmap")[i], F.lit(unk_token)),
    )
    return joined.select(
        *[c for c in df.columns if c != out_col],
        F.array_join(toks, " ").alias(out_col),
    )


def coverage_report(
    df: DataFrame,
    text_col: str = "text",
    vocab_sizes: list[int] = (100, 1_000, 10_000, 50_000),
    min_count: int = 1,
) -> DataFrame:
    """Token-coverage curve for vocabulary sizing: for each candidate V,
    the fraction of ALL corpus token occurrences covered by the V most
    frequent tokens (the number that decides vocab_size / OOV budget
    before committing a tokenizer).

    Scale shape: reuses build_vocab's explode→count aggregate (the
    exchange carries |distinct tokens|), then a cumulative sum over the
    frequency-ranked counts. The running window IS a single partition by
    construction — but over the DISTINCT-TOKEN relation (Zipf-bounded,
    millions at web scale, not corpus-sized), and only the top
    max(vocab_sizes) rows of it survive the limit before the window runs.
    Returns (vocab_size, covered_tokens, total_tokens, coverage).
    """
    vmax = max(vocab_sizes)
    counts = (
        df.select(F.explode_outer(tokens(text_col)).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    total = counts.agg(F.sum("n").alias("__total"))
    topv = counts.orderBy(F.col("n").desc(), F.col("token")).limit(vmax)
    w = Window.orderBy(F.col("n").desc(), F.col("token")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = topv.select(
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("token")))
        .alias("__rank"),
        F.sum("n").over(w).alias("__cum"),
    )
    sizes = F.array(*[F.lit(int(v)) for v in sorted(set(vocab_sizes))])
    # per size V: the cumulative count at rank min(V, |ranked|)
    per_size = (
        ranked.crossJoin(total)
        .select(
            F.explode(sizes).alias("vocab_size"),
            "__rank",
            "__cum",
            "__total",
        )
        .filter(F.col("__rank") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(
            F.max("__cum").alias("covered_tokens"),
            F.max("__total").alias("total_tokens"),
        )
        .select(
            "vocab_size",
            F.col("covered_tokens").cast("long").alias("covered_tokens"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.col("covered_tokens") / F.col("total_tokens").cast("double"),
                6,
            ).alias("coverage"),
        )
    )
    return per_size
