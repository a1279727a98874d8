"""Custom stateful streaming operators (``applyInPandasWithState``).

These cover semantics Spark's built-in streaming operators can't express:

- ``stream_dedup_first``: emit only the first-observed row per key across
  the life of the stream. Built-in ``dropDuplicates`` keeps *all* columns
  as the key or needs a watermark-bounded event-time column; this keeps an
  explicit (ts, tiebreak)-ordered survivor per arbitrary key and one
  boolean of state per key.
- ``stream_asof_enrich``: streaming as-of (LOCF) enrichment — events are
  joined to the most recent reference row at-or-before their event time.
  Stream-stream as-of joins don't exist in Spark; interval joins buffer
  both sides. Here the two sides arrive as ONE tagged stream (``side`` 0 =
  reference, 1 = event), grouped by key; per-key state carries the latest
  reference row forward across microbatches, so reference rows can be
  dropped as soon as a newer one arrives.

Scale shape: both operators shuffle once on the group key; state lives in
the state store keyed by that key and is O(1) per key (a flag / one
reference row), never O(rows). The per-batch Python work is Arrow-batched
pandas (``pd.merge_asof`` — vectorized, no per-row loop).

Batch equivalents (what the DuckDB oracles check): keep-first ==
``row_number() OVER (PARTITION BY key ORDER BY ts, tiebreak) = 1``;
as-of enrich == ``ASOF LEFT JOIN`` (see ``operators/joins.py::asof_join``
for the batch form; reference has no streaming at all — SURVEY.md §2.9).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_dedup_first(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Keep-first dedup on a streaming DataFrame: for each key, emit the
    (ts, tiebreak)-minimal row of the first microbatch in which the key
    appears; suppress the key forever after (one boolean of state).

    Output columns: ``key_cols + [ts_col, tiebreak_col] + payload_cols``.
    """
    out_fields = [events.schema[c] for c in (*key_cols, ts_col, tiebreak_col)]
    out_fields += [events.schema[c] for c in payload_cols]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])
    order = [ts_col, tiebreak_col]
    cols = [f.name for f in out_fields]

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        state.update((True,))
        yield pdf.sort_values(order, kind="mergesort").head(1)[cols]

    return (
        events.select(*cols)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def stream_asof_enrich(
    tagged: DataFrame,
    key_col: str,
    ts_col: str,
    event_cols: list[str],
    ref_cols: list[str],
    side_col: str = "side",
) -> DataFrame:
    """Streaming backward as-of enrichment over a tagged union stream.

    ``tagged`` carries both sides: ``side_col`` 0 = reference rows (their
    ``ref_cols`` are set), 1 = event rows (their ``event_cols`` are set).
    Each event is emitted once, enriched with the reference row having the
    greatest ts <= the event's ts for the same key (ties: reference at the
    same instant matches). Per-key state is the single latest reference
    row, so a reference seen in batch N enriches events in batch N+1.

    Output columns: ``event_cols + [key_col, ts_col] + ref_cols``.
    """
    out_fields = [tagged.schema[c] for c in (*event_cols, key_col, ts_col)]
    out_fields += [tagged.schema[c] for c in ref_cols]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType(
        [T.StructField("ts", tagged.schema[ts_col].dataType)]
        + [T.StructField(c, tagged.schema[c].dataType) for c in ref_cols]
    )
    out_cols = [f.name for f in out_fields]

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        ref = (
            pdf[pdf[side_col] == 0][[ts_col, *ref_cols]]
            .sort_values(ts_col, kind="mergesort")
        )
        if state.exists:
            st = state.get
            prior = pd.DataFrame(
                {ts_col: [st[0]], **{c: [v] for c, v in zip(ref_cols, st[1:])}}
            )
            # a batch may carry a reference OLDER than the carried state
            # (late data) — re-sort so merge_asof stays valid and the
            # max-ts row stays last
            ref = pd.concat([prior, ref], ignore_index=True).sort_values(
                ts_col, kind="mergesort"
            )
        evt = (
            pdf[pdf[side_col] == 1][[*event_cols, key_col, ts_col]]
            .sort_values(ts_col, kind="mergesort")
        )
        if len(ref):
            last = ref.iloc[-1]

            def plain(v):
                if hasattr(v, "to_pydatetime"):  # pandas Timestamp
                    return v.to_pydatetime()
                return v.item() if hasattr(v, "item") else v  # numpy scalar

            state.update((plain(last[ts_col]), *(plain(last[c]) for c in ref_cols)))
        if not len(evt):
            return
        if len(ref):
            out = pd.merge_asof(evt, ref, on=ts_col, direction="backward")
        else:
            out = evt.assign(**{c: None for c in ref_cols})
        # pandas promotes unmatched integer ref cols to float NaN; restore
        # nullable ints so Arrow hands Spark the declared long/int type
        for f in out_fields:
            if f.name in ref_cols and isinstance(
                f.dataType, (T.LongType, T.IntegerType)
            ):
                out[f.name] = out[f.name].astype(
                    "Int64" if isinstance(f.dataType, T.LongType) else "Int32"
                )
        yield out[out_cols]

    return tagged.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_neardup_suppress(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    prefix_bits: int = 8,
    max_hamming: int = 3,
    max_fps_per_key: int = 100_000,
) -> DataFrame:
    """G53: streaming NEAR-duplicate suppression — the SimHash analogue of
    ``stream_dedup_first``. Each document's fingerprint is computed
    map-side (the G2 SimHash expression); documents shuffle once on the
    fingerprint's top ``prefix_bits`` bucket (the same LSH bucketing as
    the batch ``simhash_pairs``); per-bucket state holds the fingerprints
    of every document emitted so far, and a new document is emitted only
    if NO stored fingerprint is within ``max_hamming`` bits — first
    arrival wins, near-duplicates are suppressed forever after, across
    microbatches.

    Approximation contract (identical to batch SimHash): near-dups are
    only caught within a shared prefix bucket. State is O(emitted docs)
    per bucket, capped at ``max_fps_per_key`` fingerprints (oldest
    evicted — after eviction an ancient near-dup can slip through; cap
    sized for the expected distinct-docs-per-bucket, corpus/2^prefix_bits).
    Within a microbatch rows are processed in ascending ``id_col`` order,
    so the emitted set is deterministic for deterministic input batches
    (pinned against an in-memory greedy reference in tests; no SQL oracle
    — greedy first-wins suppression isn't relationally expressible, the
    same class as BPE/G20c).

    Batch equivalent: per bucket, scan ids ascending, emit iff no
    previously EMITTED fingerprint is within ``max_hamming`` (the greedy
    survivor rule of G27, under SimHash distance).
    """
    from ferc_xbrl_extractor_spark.operators.neardup import (
        simhash_from_hashes,
        token_hashes,
        tokens,
    )

    cols = docs.columns
    keyed = (
        docs.select("*", tokens(text_col).alias("__toks"))
        .select("*", token_hashes("__toks").alias("__h"))
        .select("*", simhash_from_hashes("__h", bits).alias("__fp"))
        .drop("__toks", "__h")
        .withColumn(
            "__bucket", F.shiftright(F.col("__fp"), bits - prefix_bits)
        )
    )
    out_fields = [keyed.schema[c] for c in cols] + [
        T.StructField("fp", T.LongType())
    ]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType(
        [T.StructField("fps", T.ArrayType(T.LongType()))]
    )

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        fps: list[int] = list(state.get[0]) if state.exists else []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(id_col, kind="mergesort")
        keep = []
        for i, fp in zip(pdf.index, pdf["__fp"]):
            fp = int(fp)
            if any(
                bin(fp ^ int(s)).count("1") <= max_hamming for s in fps
            ):
                continue
            keep.append(i)
            fps.append(fp)
        if len(fps) > max_fps_per_key:
            fps = fps[-max_fps_per_key:]
        state.update((fps,))
        if keep:
            out = pdf.loc[keep, [*cols, "__fp"]].rename(
                columns={"__fp": "fp"}
            )
            yield out

    return keyed.groupBy("__bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_cap_per_key(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
    payload_cols: list[str],
    cap: int,
    window_ms: int | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """G63: per-key ingest quota — emit at most ``cap`` rows per key (or
    per (key, event-time window) when ``window_ms`` is set), chosen
    (ts, tiebreak)-first. The streaming side of G59's domain balancing:
    a crawler that floods one domain gets throttled AT INGEST, before
    its rows cost storage and downstream curation work; a windowed cap
    is a rate limit ("N docs per source per hour").

    Deterministic in event time within each (key, window): rows are
    processed in (ts, tiebreak) order inside a batch and the running
    count carries across batches, so a single-batch run equals the
    batch ``row_number() <= cap`` exactly (the gate pins that); across
    batches, arrival order decides which later rows meet an
    already-full quota — the same at-most-N guarantee either way.

    State: ONE long per live (key, window). With ``window_ms`` set,
    EventTimeTimeout timers evict a window's counter once the watermark
    passes its end — full quotas don't accumulate forever (the G56
    eviction pattern); an unwindowed cap keeps one counter per key for
    the stream's life (bounded by |keys|, the quota's own cardinality).

    Output columns: ``key_cols + [ts_col, tiebreak_col] + payload_cols``.
    """
    if cap < 1:
        raise ValueError("stream_cap_per_key: cap must be >= 1")
    out_fields = [events.schema[c] for c in (*key_cols, ts_col, tiebreak_col)]
    out_fields += [events.schema[c] for c in payload_cols]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType([T.StructField("n", T.LongType())])
    order = [ts_col, tiebreak_col]
    cols = [f.name for f in out_fields]
    group = list(key_cols)
    src = events.select(*cols).withWatermark(ts_col, watermark)
    if window_ms is not None:
        src = src.withColumn(
            "__win",
            (
                F.col(ts_col).cast("timestamp").cast("long")
                / (window_ms / 1000.0)
            ).cast("long"),
        )
        group = [*key_cols, "__win"]

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(order, kind="mergesort")
        seen = int(state.get[0]) if state.exists else 0
        room = cap - seen
        state.update((seen + len(pdf),))
        if window_ms is not None:
            # evict this window's counter once the watermark passes its end
            win_end_ms = (int(key[-1]) + 1) * window_ms
            state.setTimeoutTimestamp(
                max(win_end_ms, state.getCurrentWatermarkMs() + 1)
            )
        if room <= 0:
            return
        yield pdf.head(room)[cols]

    return src.groupBy(*group).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout
        if window_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


def stream_heavy_hitters(
    events: DataFrame,
    key_col: str,
    capacity: int = 256,
    num_shards: int = 8,
    count_col: str | None = None,
) -> DataFrame:
    """G74: streaming heavy hitters — a SpaceSaving summary (Metwally et
    al., ICDT'05) of the hottest keys, maintained in bounded state while
    the stream runs. The streaming complement of G67's exact skew report
    and G72's count-min sketch: the skew report needs the whole corpus,
    the sketch needs a candidate set to probe — SpaceSaving TRACKS its
    own candidates, at most ``capacity`` counters per shard, and still
    guarantees every key with true count above ``(shard mass)/capacity``
    is present, with per-key error bounded by the counter it evicted
    (``err_max``, reported per row; 0 means the count is exact).

    Keys are sharded by ``xxhash64(key) % num_shards`` so the state store
    spreads across tasks; a shard sees EVERY occurrence of its keys, so
    per-key counts never split and the union of shard summaries obeys the
    same guarantee at ``capacity × num_shards`` total counters. Global
    top-k = take the k largest ``n_est`` over the union (a k-row
    TakeOrderedAndProject on ≤ capacity·num_shards rows).

    Deterministic: batch counts merge in (count desc, key asc) order and
    eviction always takes the (count, key)-smallest counter, so a replay
    produces the identical summary. With ``capacity`` ≥ the shard's
    distinct keys nothing ever evicts and the summary IS the exact group
    count (the gate oracle pins that configuration; overflow behavior is
    pytest-pinned against an in-memory reference — same no-SQL-oracle
    class as BPE).

    Emits in "update" mode: every microbatch re-emits each updated
    shard's full current summary ``(key, n_est, err_max)`` — consumers
    keep the latest emission per key (a monitoring sink) or read the
    final batch (finite backfills).
    """
    if capacity < 1:
        raise ValueError("stream_heavy_hitters: capacity must be >= 1")
    if num_shards < 1:
        raise ValueError("stream_heavy_hitters: num_shards must be >= 1")
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("n_est", T.LongType()),
            T.StructField("err_max", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("keys", T.ArrayType(T.StringType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
            T.StructField("errs", T.ArrayType(T.LongType())),
        ]
    )
    w = (
        F.col(count_col).cast("long")
        if count_col
        else F.lit(1).cast("long")
    )
    src = events.select(
        F.col(key_col).cast("string").alias("__k"), w.alias("__w")
    ).filter(F.col("__k").isNotNull())
    src = src.withColumn(
        "__shard", F.pmod(F.xxhash64("__k"), F.lit(num_shards))
    )

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        batch = (
            pdf.groupby("__k", sort=False)["__w"].sum().astype("int64")
        )
        if state.exists:
            keys, counts, errs = state.get
            summary = {
                k: [int(c), int(e)]
                for k, c, e in zip(keys, counts, errs)
            }
        else:
            summary = {}
        # deterministic merge order: heaviest batch keys first, name-tied
        items = sorted(batch.items(), key=lambda kv: (-kv[1], kv[0]))
        for k, c in items:
            c = int(c)
            if k in summary:
                summary[k][0] += c
            elif len(summary) < capacity:
                summary[k] = [c, 0]
            else:
                evict = min(summary.items(), key=lambda kv: (kv[1][0], kv[0]))
                floor = evict[1][0]
                del summary[evict[0]]
                summary[k] = [floor + c, floor]
        ks = sorted(summary)
        state.update(
            (
                ks,
                [summary[k][0] for k in ks],
                [summary[k][1] for k in ks],
            )
        )
        yield pd.DataFrame(
            {
                "key": ks,
                "n_est": [summary[k][0] for k in ks],
                "err_max": [summary[k][1] for k in ks],
            }
        )

    return src.groupBy("__shard").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_ms: int | None = None,
) -> DataFrame:
    """G79: the G75 windowed funnel under Structured Streaming — per-user
    reach state advances as events arrive; every microbatch re-emits the
    users whose chain moved ("update" semantics, the G74 contract).

    State per user is ONE timestamp per reached step (bounded by
    |steps|, never by event count). Within a batch, events replay in
    event-time order, so a single-batch run equals the batch
    ``window_funnel`` EXACTLY (the gate oracle pins that). Across
    batches the chain is greedy-monotone: committed reach times are
    final, later batches only extend or leave them — an out-of-order
    straggler that would have improved an ALREADY-COMMITTED step's time
    is not retroactively applied (retraction would need the full per-
    step event history in state — unbounded; the same arrival-order
    contract as ``stream_cap_per_key``'s quota). Extensions still honor
    event time: a batch's step-i candidates are its events at/after the
    committed step-(i-1) time (and within ``window_ms`` of step 1 when
    set).

    Output per emission: ``(user, steps_reached, t_first, t_last)``.
    """
    if len(steps) < 2:
        raise ValueError("stream_funnel needs at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps}")
    out_schema = T.StructType(
        [
            T.StructField("user", T.StringType()),
            T.StructField("steps_reached", T.IntegerType()),
            T.StructField("t_first", T.TimestampType()),
            T.StructField("t_last", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("reach_us", T.ArrayType(T.LongType()))]
    )
    src = (
        events.select(
            F.col(user_col).cast("string").alias("__u"),
            F.col(ts_col).cast("timestamp").alias("__ts"),
            F.col(type_col).cast("string").alias("__t"),
        )
        .filter(F.col("__t").isin(list(steps)))
        # NULL event time would arrive as pandas NaT whose .value is the
        # int64 sentinel (~year 1677) and would commit as a "minimum" —
        # batch window_funnel ignores NULL ts (min() skips nulls), so
        # drop them here to keep the single-batch == batch contract
        .filter(F.col("__ts").isNotNull())
    )
    step_ix = {s: i for i, s in enumerate(steps)}

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Vectorized per-group body (guide §4.2): the original boxed a
        # pd.Timestamp per event (t.value) and re-scanned a Python list
        # per step; this is called once per user per microbatch, so the
        # per-row Python was the dominant drain cost (addBatch ~80% of
        # trigger time, profiled). min-over-mask in numpy replaces both.
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        s = pdf["__ts"]
        if getattr(s.dtype, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        us_arr = s.to_numpy("datetime64[ns]").astype("int64") // 1000
        six_arr = np.fromiter(
            (step_ix[t] for t in pdf["__t"]), dtype="int64", count=len(pdf)
        )
        # event-time order was a stable sort on __ts only; min-per-mask
        # below is order-insensitive, so the sort itself is unnecessary
        reach = list(state.get[0]) if state.exists else []
        before = len(reach)
        # extend greedily: for each next step, the earliest batch event
        # of that step at/after the committed previous reach (and inside
        # the window of step 1)
        progressed = True
        while progressed and len(reach) < len(steps):
            want = len(reach)
            mask = six_arr == want
            if reach:
                mask &= us_arr >= reach[-1]
                if window_ms is not None:
                    mask &= us_arr <= reach[0] + window_ms * 1000
            if mask.any():
                reach.append(int(us_arr[mask].min()))
            else:
                progressed = False
        if not reach or len(reach) == before:
            return  # nothing new committed; no emission
        state.update((reach,))
        yield pd.DataFrame(
            {
                "user": [key[0]],
                "steps_reached": [len(reach)],
                "t_first": [pd.Timestamp(reach[0], unit="us")],
                "t_last": [pd.Timestamp(reach[-1], unit="us")],
            }
        )

    return src.groupBy("__u").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
