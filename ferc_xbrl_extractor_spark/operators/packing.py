"""Sequence packing for pretraining (G17): lay documents end-to-end in a
deterministic order and cut the token stream into fixed-budget training
sequences (GPT-style concat-and-chunk).

The core computation is a *global prefix sum* of per-document token
counts — which a naive ``Window.orderBy(...)`` makes a single-partition
sort (one task owns the whole corpus; dead at scale). This module uses
the standard two-phase decomposition instead:

1. **Block-local offsets.** Documents are grouped into deterministic
   blocks (``order_col // block_size`` — a pure projection, no shuffle
   beyond the window's own keyed exchange), and a window partitioned by
   (stream, block) computes each document's offset within its block.
   Every block is a bounded partition, so the sort is bounded.
2. **Block base offsets.** Per-block token totals (one row per block —
   |corpus| / block_size rows, tiny) get a running-sum window ordered by
   block id, then broadcast-join back. This single-partition-per-stream
   window runs over the *totals* relation, not the corpus.

Offset = block base + local offset; sequence id = offset // budget. The
result is deterministic, engine-portable (pure integer arithmetic — a
SQL oracle reproduces it with one plain cumsum window), and every
shuffle is keyed and bounded.

No reference counterpart (the reference is an XBRL ETL); SURVEY.md §2.12
gap surface, G-series.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    order_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    by: str | None = None,
    block_size: int = 100_000,
) -> DataFrame:
    """Assign every document its place in the packed token stream.

    Args:
        df: corpus with a numeric ordering column and a token count.
        order_col: deterministic layout order (numeric — block ids are
            ``order_col // block_size``; ids should be dense-ish so
            blocks stay balanced).
        token_col: per-document token count (precompute with
            ``text.token_counts``).
        budget: tokens per training sequence.
        by: optional stream column (e.g. ``source``) — packing restarts
            at offset 0 per stream, so each mixture component is its own
            token stream.
        block_size: documents per block in the two-phase prefix sum.
            Anything from 10^4 to 10^6 is fine; it only bounds the
            per-task sort and sizes the (tiny) totals relation.

    Returns the input plus:
        - ``tok_offset``: the document's first-token offset in its stream
        - ``seq_id``: the training sequence that token lands in
        - ``n_seqs``: how many sequences the document spans (straddling
          is inherent to concat-and-chunk packing)
    """
    streams = [by] if by else []
    order = F.col(order_col)
    n_tok = F.col(token_col).cast("long")

    blocked = df.withColumn(
        "__blk", (order / F.lit(block_size)).cast("long")
    )

    w_local = (
        Window.partitionBy(*streams, "__blk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = blocked.withColumn(
        "__local_off", F.coalesce(F.sum(n_tok).over(w_local), F.lit(0))
    )

    totals = blocked.groupBy(*streams, "__blk").agg(
        F.sum(n_tok).alias("__blk_tok")
    )
    w_base = (
        Window.partitionBy(*streams)
        .orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # bases descends from the same parent as local — rename its keys so
    # the self-join is unambiguous by construction (the analyzer's
    # "trivially true equals predicate" WARN is exactly the silent
    # mis-bind hazard after a refactor)
    bkeys = [f"__b{i}" for i in range(len(streams))] + ["__bblk"]
    bases = totals.select(
        *[F.col(k).alias(b) for k, b in zip(streams + ["__blk"], bkeys)],
        F.coalesce(F.sum("__blk_tok").over(w_base), F.lit(0)).alias("__base"),
    )

    # Null-safe join keys: a NULL stream value (or NULL order_col → NULL
    # block) must still pack — an inner equi-join would silently delete
    # every such document from the corpus. The window/groupBy above
    # already treat NULL as an ordinary grouping value, so <=> makes the
    # whole decomposition null-total.
    cond = F.lit(True)
    for k, b in zip(streams + ["__blk"], bkeys):
        cond = cond & local[k].eqNullSafe(bases[b])
    packed = local.join(F.broadcast(bases), cond).drop(*bkeys)
    offset = (F.col("__base") + F.col("__local_off")).alias("tok_offset")
    out = packed.select("*", offset).drop("__blk", "__local_off", "__base")
    seq_id = F.floor(F.col("tok_offset") / budget)
    last_seq = F.floor(
        (F.col("tok_offset") + F.greatest(n_tok, F.lit(1)) - 1) / budget
    )
    return out.withColumn("seq_id", seq_id.cast("long")).withColumn(
        "n_seqs", (last_seq - seq_id + 1).cast("long")
    )


def temperature_rates(
    df: DataFrame,
    tau: float,
    by: str = "source",
    token_col: str | None = None,
) -> dict[str, float]:
    """Temperature-flattened domain mixing (the multilingual-LM
    ``p_s \u221d n_s^\u03c4`` rule): per-stratum Bernoulli rates whose expected
    post-sample composition matches weights \u221d n_s^tau, by pure
    downsampling. Feed to ``sampling.sample_by_rate``.

    Algebra: raw_s = w_s / n_s \u221d n_s^(\u03c4-1) is maximized by the SMALLEST
    stratum, and the mixture normalizer cancels out of the rescale:

        rate_s = (n_min / n_s) ** (1 - \u03c4)

    one integer ratio and one power per stratum \u2014 no float summation, so
    the rates are reproducible bit-for-bit in any IEEE engine (exactly
    so at \u03c4=0.5, where the power is a correctly-rounded sqrt \u2014 the
    oracle-checked configuration). \u03c4=1 keeps natural proportions (all
    rates 1); \u03c4=0 equalizes every stratum's expected size down to the
    smallest. Sizes come from one tiny aggregate; the collect is
    |strata| rows.
    """
    if not 0.0 <= tau <= 1.0:
        raise ValueError("tau must be in [0, 1]")
    size_expr = (
        F.sum(F.col(token_col)) if token_col else F.count(F.lit(1))
    ).alias("n")
    # NULL strata are excluded (a None dict key would crash
    # sample_by_rate's sorted threshold chain): rows with a NULL ``by``
    # value fall to sample_by_rate's ``default_rate`` downstream — as do
    # strata whose size aggregate is NULL/0 (e.g. a token_col that is
    # all-NULL within the stratum). Both exclusions are WARNED loudly:
    # with the default default_rate=0.0 an excluded stratum is silently
    # deleted from the mixture, which is almost never what the caller
    # meant for a zero-token (but non-empty) stratum.
    rows = df.groupBy(by).agg(size_expr).collect()
    sizes = {
        r[by]: int(r["n"]) for r in rows if r["n"] and r[by] is not None
    }
    excluded = [r[by] for r in rows if not (r["n"] and r[by] is not None)]
    if excluded:
        import warnings

        warnings.warn(
            f"temperature_rates: strata excluded for NULL key or "
            f"NULL/zero size {excluded!r}; their rows fall to "
            "sample_by_rate's default_rate (0.0 drops them entirely)",
            stacklevel=2,
        )
    if not sizes:
        raise ValueError("corpus has no non-empty strata")
    n_min = min(sizes.values())
    if tau == 0.5:
        return {s: math.sqrt(n_min / n) for s, n in sizes.items()}
    return {s: (n_min / n) ** (1.0 - tau) for s, n in sizes.items()}


def materialize_sequences(
    packed: DataFrame,
    text_col: str = "text",
    order_col: str = "tok_offset",
    seq_col: str = "seq_id",
    by: str | None = None,
    sep: str = " ",
) -> DataFrame:
    """Concatenate document text into per-sequence training rows from a
    ``pack_sequences`` assignment. A document straddling a budget
    boundary contributes to its *start* sequence here — token-exact
    splitting belongs to the trainer's tokenizer, which must re-tokenize
    anyway; this materialization is the shard-building step.

    One keyed aggregate: ``collect_list(struct(offset, text))`` per
    (stream, seq), sorted in-group by **(offset, text)** and joined. The
    text tie-break matters: zero-token documents share an offset with
    their successor, and offset alone would leave their relative order
    engine- and run-dependent — (offset, text) is a total order on the
    group, so the concatenation is deterministic (any SQL mirror must
    ORDER BY offset, text for byte parity). The group payload is bounded
    by the token budget, so the aggregate state is small and map-side
    combine applies; no window, no global sort.
    """
    keys = ([by] if by else []) + [seq_col]
    parts = F.array_sort(
        F.collect_list(
            F.struct(F.col(order_col).alias("o"), F.col(text_col).alias("t"))
        )
    )
    return packed.groupBy(*keys).agg(
        F.array_join(F.transform(parts, lambda s: s["t"]), sep).alias("seq_text"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min(order_col).cast("long").alias("start_offset"),
    )


def assemble_dialogues(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    role_col: str = "role",
    text_col: str = "text",
    gap: str = "30 minutes",
    sep: str = "\n",
) -> DataFrame:
    """G103: gap-sessionized dialogue assembly — turn event-shaped rows
    (user, timestamp, role, text) into one ordered transcript per
    conversation, the reduction that builds SFT/chat training sequences
    out of raw interaction logs (support tickets, chat exports, agent
    traces). A conversation = a G8 session with Spark's exact boundary
    rule (probed, not assumed): a turn landing AT ``start + gap``
    still merges — only a strictly larger gap starts a new session.

    Returns one row per (user, session):
      (user_col, started_at, n_turns, transcript)
    transcript = ``role: text`` lines joined by ``sep``, turns ordered
    by (ts, role, text) — a TOTAL order, so duplicate timestamps
    cannot make the transcript engine- or partitioning-dependent.
    NULL role/text render as empty strings (an abstain turn keeps its
    slot; dropping it would silently reorder context).

    Scale shape: Spark's native ``session_window`` aggregate — ONE
    map-side-combinable groupBy over the event volume keyed on
    (user, session window); the transcript builds inside the aggregate
    via collect_list + array_sort, bounded by the session length
    (human conversations: tens of turns), never the user's history.
    The oracle replays sessionization as the g8 lag/cumsum form and
    the transcript as ``string_agg(... ORDER BY ts, role, text)``.
    """
    role = F.coalesce(F.col(role_col).cast("string"), F.lit(""))
    text = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    turns = F.array_sort(
        F.collect_list(F.struct(F.col(ts_col).alias("t"), role.alias("r"), text.alias("x")))
    )
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("__w"),
            F.col(user_col),
        )
        .agg(
            F.min(ts_col).alias("started_at"),
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.array_join(
                F.transform(turns, lambda s: F.concat(s["r"], F.lit(": "), s["x"])),
                sep,
            ).alias("transcript"),
        )
        .select(user_col, "started_at", "n_turns", "transcript")
    )
