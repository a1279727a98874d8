"""Declared analytic operators (G5-G8, G10): window functions, rollup/cube,
approximate aggregates, event-time windows, JSON column ops.

These are thin, deliberately: each is the built-in Catalyst operator used
the way a 100 TB pipeline should use it (explicit orderings so results are
deterministic, partial-agg-friendly groupings, epoch-aligned time buckets).
Declaring them as first-class named operators gives each a correctness
contract (__spark_entry__ queries + DuckDB oracle) rather than leaving them
as incidental API calls.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ranked(
    df: DataFrame,
    keys: list[str],
    order_cols: list,
    exprs: dict[str, Column] | None = None,
) -> DataFrame:
    """G5: standard analytic pack over one window definition — row_number
    always, plus any caller-supplied window expressions evaluated over the
    same (keys, order) spec so Catalyst plans ONE sort+shuffle for all."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    out = df.withColumn("row_num", F.row_number().over(w))
    for name, col in (exprs or {}).items():
        out = out.withColumn(name, col.over(w))
    return out


def rollup_agg(df: DataFrame, group_cols: list[str], aggs: list[Column]) -> DataFrame:
    """G6: hierarchical subtotals. Spark plans rollup as Expand + one
    aggregate — a single shuffle regardless of the number of levels."""
    return df.rollup(*group_cols).agg(*aggs)


def cube_agg(df: DataFrame, group_cols: list[str], aggs: list[Column]) -> DataFrame:
    """G6: all 2^n grouping combinations, same Expand+single-shuffle plan."""
    return df.cube(*group_cols).agg(*aggs)


def approx_metrics(
    df: DataFrame,
    group_cols: list[str],
    distinct_col: str,
    quantile_col: str,
    rsd: float = 0.02,
) -> DataFrame:
    """G7: HyperLogLog++ distinct count + t-digest quantiles — the sketches
    that replace exact distinct/sort at 100 TB (constant memory per group,
    mergeable partials, no sort)."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(distinct_col, rsd).alias("approx_distinct"),
        F.percentile_approx(quantile_col, [0.5, 0.95, 0.99], 10000).alias(
            "approx_quantiles"
        ),
        F.count(F.lit(1)).alias("n"),
    )


def hll_partial_sketches(
    df: DataFrame,
    part_cols: list[str],
    distinct_col: str,
    lgk: int = 12,
) -> DataFrame:
    """G7: materialized per-partition HLL sketches (Apache DataSketches via
    ``hll_sketch_agg``) — the mergeable-partial pattern that makes distinct
    counting incremental at 100 TB. Build one sketch per storage partition
    (day, shard, filing batch) ONCE, persist the binary column, and answer
    any coarser distinct-count rollup later by unioning sketches — no
    rescan of the raw data, and a day's re-ingest only rebuilds that day's
    sketch. ``approx_count_distinct`` (HLL++) can't do this: its partials
    live only inside a single aggregation.
    """
    return df.groupBy(*part_cols).agg(
        F.hll_sketch_agg(distinct_col, F.lit(lgk)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def hll_rollup(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """G7: merge partial sketches up to a coarser grouping and estimate.
    A union carries the same lgK error bound as a single whole-data
    sketch — accuracy does not degrade with the number of partials merged
    (the union result can differ from the one-pass sketch by a register
    representation detail — sub-percent in practice, both within the
    bound)."""
    return sketches.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("distinct_est"),
        F.count(F.lit(1)).alias("n_sketches"),
        F.sum("n_rows").alias("n_rows"),
    )


def exact_quantiles(
    df: DataFrame, group_cols: list[str], col: str, qs: list[float]
) -> DataFrame:
    """G7 exact counterpart (oracle-checkable): linear-interpolated
    percentiles. Exact percentile sorts per group — use the approx form for
    the genuinely large cases and keep this for verification slices."""
    aggs = [
        F.round(F.percentile(F.col(col), F.lit(q)), 4).alias(
            f"p{str(q).replace('0.', '')}"
        )
        for q in qs
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    group_cols: list[str],
    aggs: list[Column],
    slide: str | None = None,
) -> DataFrame:
    """G8: epoch-aligned event-time windows — tumbling by default, sliding
    (hopping) when ``slide`` < ``duration``. Batch-mode ``F.window`` — the
    identical expression works under readStream with a watermark, which is
    how the streaming surface reuses this operator."""
    w = F.window(F.col(ts_col), duration, slide) if slide else F.window(
        F.col(ts_col), duration
    )
    return (
        df.groupBy(w.alias("w"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    group_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    """G8: sliding (hopping) windows — each row lands in duration/slide
    overlapping windows, expanded inline by ``F.window`` (no self-join)."""
    return tumbling_window_agg(df, ts_col, duration, group_cols, aggs, slide=slide)


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    count_alias: str = "n",
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-phase skew-safe aggregation: aggregate on (key, salt) first so a
    hot key's rows spread over ``salt_buckets`` reducers, then re-aggregate
    the per-salt partials on the key alone. Algebraic aggregates only
    (sum/count here — min/max/avg-of-sums follow the same shape).

    This is the explicit fallback for skew too extreme for AQE's runtime
    skew-join/partition splitting; the second shuffle moves only
    |keys| × salt_buckets rows.
    """
    salt = (F.rand(seed=7) * salt_buckets).cast("int").alias("__salt")
    partial = (
        df.select(*group_cols, salt, *sum_cols)
        .groupBy(*group_cols, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__pn"),
            *[F.sum(c).alias(f"__ps_{c}") for c in sum_cols],
        )
    )
    return partial.groupBy(*group_cols).agg(
        F.sum("__pn").alias(count_alias),
        *[F.sum(f"__ps_{c}").alias(f"sum_{c}") for c in sum_cols],
    )


def probe_salt_buckets(
    df: DataFrame,
    group_cols: list[str],
    sample_fraction: float = 0.02,
    max_buckets: int = 256,
    seed: int = 7,
) -> int:
    """G13b probe: estimate the hottest group's row share from a seeded
    sample and derive the salt bucket count ``salted_agg`` needs — 1 when
    no key is hot enough to overload a single reducer.

    Rule: with hot-key share ``p`` and ``P`` shuffle partitions, an
    unsalted aggregate sends ``p·N`` rows to one reducer vs ``N/P``
    average; salting by ``ceil(p·P)`` (rounded up to a power of two,
    capped) levels the hot reducer back to average. The probe is one
    sample scan + a 1-row ``max(count)`` collect — bounded regardless of
    |keys| (the sample's group counts are the only shuffled rows, and at
    2% the probe costs ~1/50th of the real aggregate it protects).
    Deterministic: seeded sample, pure-arithmetic decision.
    """
    stats = (
        df.sample(fraction=sample_fraction, seed=seed)
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("mx"), F.sum("__n").alias("tot"))
        .collect()[0]
    )
    if not stats["tot"]:
        return 1
    share = stats["mx"] / stats["tot"]
    partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    need = math.ceil(share * partitions)
    if need <= 1:
        return 1
    return min(max_buckets, 2 ** math.ceil(math.log2(need)))


def salted_agg_auto(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    count_alias: str = "n",
    sample_fraction: float = 0.02,
    max_buckets: int = 256,
) -> DataFrame:
    """G13b: probe-then-salt aggregation — ``salted_agg`` whose bucket
    count is measured, not guessed. At 100 TB nobody knows ahead of time
    which ingest batch carries a hot key; hardcoding salt wastes a second
    shuffle on uniform data, omitting it straggles on skewed data. The
    probe (see ``probe_salt_buckets``) picks 1 (plain single-exchange
    aggregate — the uniform fast path) or the measured power-of-two.
    The RESULT is identical either way (algebraic aggregates commute with
    the two-phase split), so correctness is probe-independent — only the
    shuffle shape changes.
    """
    buckets = probe_salt_buckets(
        df, group_cols, sample_fraction=sample_fraction,
        max_buckets=max_buckets,
    )
    if buckets == 1:
        return df.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias(count_alias),
            *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
        )
    return salted_agg(
        df, group_cols, sum_cols, count_alias=count_alias,
        salt_buckets=buckets,
    )


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_k: int = 20,
    partitions: int | None = None,
) -> DataFrame:
    """G67: exact per-key skew diagnostics — the audit-side complement to
    the :func:`probe_salt_buckets` sample (the probe decides cheaply at
    runtime; this reports exactly, for the human planning a pipeline).

    Returns the ``top_k`` hottest keys with ``n_rows``, ``n_total``,
    ``share`` (rounded to 6), and ``salt_need`` — the reducer multiple
    this key alone would load onto one unsalted reducer, i.e. the salt
    bucket count that levels it back to average:
    ``ceil(n · P / total)`` computed in INTEGER arithmetic
    (``(n·P + total − 1) div total``) so the number is bit-identical in
    every engine; consumers round it up to a power of two like
    ``probe_salt_buckets`` does. ``salt_need`` ≤ 1 means the key is
    harmless at the session's shuffle parallelism.

    Plan shape: one map-side-combinable count aggregate (the only
    corpus-scale shuffle), a 1-row total broadcast back, and a top-k
    ``orderBy(...).limit`` that Spark executes as TakeOrderedAndProject —
    per-partition heaps, no full sort. Deterministic: ties break on the
    key columns.
    """
    if partitions is not None:
        p = partitions
    else:
        # some vendor runtimes set this conf to a non-numeric sentinel
        # ('auto'); degrade to the cluster's default parallelism rather
        # than raising on a diagnostics call
        try:
            p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except ValueError:
            p = df.sparkSession.sparkContext.defaultParallelism
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "n_rows",
            "n_total",
            F.round(F.col("n_rows") / F.col("n_total"), 6).alias("share"),
            # `div`, not `/`: Spark's `/` is double division and doubles
            # lose integer exactness past 2^53 — corpus-scale counts
            # times the partition count get there
            F.expr(f"(n_rows * {p} + n_total - 1) div n_total")
            .cast("long")
            .alias("salt_need"),
        )
        .orderBy(F.col("n_rows").desc(), *key_cols)
        .limit(top_k)
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    group_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    """G8: session windows (gap-based). Spark's native session_window does
    the gaps-and-islands merge in one pass; an ANSI oracle reproduces it
    with lag + cumulative-sum island ids."""
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), *group_cols)
        .agg(*aggs)
        .withColumn("session_start", F.col("w.start"))
        .drop("w")
    )


def json_extract(
    df: DataFrame, json_col: str, fields: dict[str, str]
) -> DataFrame:
    """G10: pull JSONPath fields out of a JSON string column.

    ``fields`` maps output column name -> JSONPath (``$.k``). Uses
    get_json_object (no schema needed); callers with a fixed schema should
    prefer ``F.from_json`` so Catalyst prunes unused fields.
    """
    out = df
    for name, path in fields.items():
        out = out.withColumn(name, F.get_json_object(F.col(json_col), path))
    return out


def unpivot(
    df: DataFrame,
    ids: list[str],
    values: list[str],
    var_col: str = "name",
    value_col: str = "value",
) -> DataFrame:
    """G21: wide -> long melt, the inverse of the engine's core A1 pivot
    (reference pivots long->wide at datapackage.py:427-441; consumers
    frequently need the reverse to re-enter EAV form, e.g. to feed wide
    metric tables back through the dedup/fuzzy pipeline).

    Uses the native ``DataFrame.unpivot`` — in-plan Expand, one row out
    per (row, value column), no shuffle, fully codegen'd. Value columns
    are cast to a common type by Spark; heterogeneous inputs should
    pre-cast (the EAV convention here is string values, matching the
    shredder's long relation).
    """
    return df.unpivot(
        [F.col(c) for c in ids],
        [F.col(c) for c in values],
        var_col,
        value_col,
    )


def _cms_hashes(key: Column, salt: str) -> tuple[Column, Column]:
    """ONE md5 per key, split into two independent 60-bit integers
    (hex digits 1-15 and 16-30) — the Kirsch-Mitzenmacher pair from
    which every sketch row's bucket derives arithmetically as
    ``(h1 + row * h2) % width``. One hash per input row instead of
    ``depth`` (the hash, not the aggregate, dominates the build scan),
    and still replayable in ANSI SQL:
    ``CAST(('0x' || substr(md5(k), 1, 15)) AS BIGINT)`` / ``substr(..., 16, 15)``."""
    h = F.md5(F.concat(F.lit(salt), key))
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(h, 16, 15), 16, 10).cast("bigint")
    return h1, h2


def _cms_bucket(h1: Column, h2: Column, row: int, width: int) -> Column:
    """Bucket for sketch row ``row``: ``(h1 + row·h2) % width``, non-
    negative in every engine (both operands are positive 60-bit values;
    the sum stays far under 2⁶³ for any practical depth)."""
    return (h1 + F.lit(row) * h2) % width


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    count_col: str | None = None,
    salt: str = "cms",
) -> DataFrame:
    """G72: build a count-min sketch over ``key_col`` — the FIXED-SIZE
    frequency summary for key domains too large to count exactly.

    :func:`skew_report` (G67) is the exact audit: its groupBy shuffles one
    row per distinct key, which at 100 TB over a billion-key domain (URLs,
    n-grams, user ids) is itself a corpus-scale shuffle. The sketch path
    caps the state at ``depth × width`` cells REGARDLESS of key
    cardinality: each input row increments one bucket per sketch row
    (md5-derived, engine-replayable), and the aggregate over
    ``(sketch_row, bucket)`` is map-side combinable down to at most
    ``depth × width`` partial rows per task — the shuffle carries
    ``O(depth × width × tasks)`` rows, never ``O(|keys|)``.

    Estimates (:func:`cms_estimate`) never undercount; the classical bound
    overestimates by at most ``e·N/width`` with probability
    ``1 − e^−depth`` (N = total weight). Sketches built with the same
    ``(depth, width, salt)`` are mergeable by summing ``n`` per cell —
    union + groupBy — which makes the summary incremental (per-day
    sketches roll up like the G7 HLL partials).

    Returns the sketch relation ``(sketch_row, bucket, n)`` with at most
    ``depth × width`` rows. ``count_col`` weights each input row (default
    1). NULL keys are skipped (they would otherwise pool into one cell per
    row and masquerade as a heavy hitter).
    """
    if not 1 <= depth <= 8:
        # bucket_d = h1 + d*h2 with h1, h2 < 2^60: at d <= 7 the sum
        # stays < 8*2^60 = 2^63 (int64-safe, ANSI-safe, SQL-replayable);
        # depth 9 would overflow row 8 in both engines
        raise ValueError(f"depth must be in [1, 8], got {depth}")
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    key = F.col(key_col).cast("string")
    w = (F.col(count_col) if count_col else F.lit(1)).cast("long")
    h1, h2 = _cms_hashes(key, salt)
    # materialize the hash pair in its own projection BEFORE the explode:
    # expressions inlined into the cell array would be recomputed per
    # sketch row (measured 3x slower at depth 4); as attributes behind a
    # Generate they evaluate once per input row
    hashed = df.filter(key.isNotNull()).select(
        w.alias("__w"), h1.alias("__h1"), h2.alias("__h2")
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("sketch_row"),
                _cms_bucket(
                    F.col("__h1"), F.col("__h2"), d, width
                ).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return (
        hashed.select(F.explode(cells).alias("__cell"), "__w")
        .groupBy(
            F.col("__cell.sketch_row").alias("sketch_row"),
            F.col("__cell.bucket").alias("bucket"),
        )
        .agg(F.sum("__w").alias("n"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    salt: str = "cms",
    out_col: str = "n_est",
) -> DataFrame:
    """G72: point-query a count-min sketch for each distinct key in
    ``keys`` — the estimate is the MIN over the ``depth`` sketch rows of
    that key's bucket count (0 when the bucket is empty: a key the sketch
    never saw estimates 0 unless every one of its buckets collided).

    ``(depth, width, salt)`` must match the :func:`cms_build` call — the
    buckets are recomputed here from the same recipe. The sketch is at
    most ``depth × width`` rows, so it is broadcast: the probe side stays
    map-side whatever its size (estimate a billion candidate keys without
    a shuffle on the sketch). Heavy-hitter workflow: candidates come from
    any cheap bounded source (a per-partition local top-k, a prior day's
    report, a dictionary); the sketch then prices them exactly one
    broadcast join away.

    Returns ``(key_col, out_col)`` — one row per distinct non-NULL input
    key, estimates never below the true count for keys the sketch
    ingested. ``key_col`` comes back STRING-typed (the sketch hashes the
    string form); cast it back before joining onto a non-string source
    relation.
    """
    key = F.col(key_col).cast("string")
    probes = keys.filter(key.isNotNull()).select(key.alias(key_col)).distinct()
    p1, p2 = _cms_hashes(F.col(key_col), salt)
    hashed = probes.select(
        key_col, p1.alias("__h1"), p2.alias("__h2")
    )  # one md5 per probe, same boundary as the build side
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("sketch_row"),
                _cms_bucket(
                    F.col("__h1"), F.col("__h2"), d, width
                ).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    probed = hashed.select(
        key_col, F.explode(cells).alias("__cell")
    ).select(
        key_col,
        F.col("__cell.sketch_row").alias("sketch_row"),
        F.col("__cell.bucket").alias("bucket"),
    )
    return (
        probed.join(F.broadcast(sketch), ["sketch_row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias(out_col))
    )


def window_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    window: str | None = None,
) -> DataFrame:
    """G75: windowed event funnel — for each user, how far through the
    ordered ``steps`` sequence they progressed (ClickHouse
    ``windowFunnel`` semantics): step 1 reaches at the user's earliest
    step-1 event; step ``i`` reaches at the earliest step-``i`` event at
    or after step ``i-1``'s reach time; with ``window`` (an interval
    string like ``"7 days"``), every reach must land within that of step
    1's — INTERVAL arithmetic, exact at any timestamp precision (a
    seconds-as-double comparison would tie differently across engines at
    sub-microsecond boundaries). Same-timestamp events
    count (``>=`` — a signup and a click in the same batch tick both
    progress the funnel).

    Returns one row per user who reached step 1: ``(user_col,
    steps_reached, t_first, t_last)`` — the completion distribution is a
    one-line groupBy away, the per-user relation joins back onto any
    cohort dimension.

    Plan shape: each step is a type-filtered projection (predicate
    pushed to the scan) aggregated to ONE row per user, then joined on
    the user key — after the first exchange every later stage reuses the
    same hash partitioning (co-partitioned joins + aggregates, no
    re-shuffle of the big side), and stages shrink monotonically (step
    ``i``'s input users ⊆ step ``i-1``'s). |steps| is a literal; the
    chain is |steps| scans of a pushdown-filtered projection — persist
    the filtered slice upstream if the source is expensive.
    """
    if len(steps) < 2:
        raise ValueError("window_funnel needs at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps}")
    user = F.col(user_col)
    ts = F.col(ts_col)
    reach = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t1"))
    )
    t_cols = ["__t1"]
    for i, step in enumerate(steps[1:], start=2):
        prev = t_cols[-1]
        cond = ts >= F.col(prev)
        if window is not None:
            cond = cond & (
                ts <= F.col("__t1") + F.expr(f"INTERVAL {window}")
            )
        prev_cols = [user_col, "__t1"] + ([prev] if prev != "__t1" else [])
        nxt = (
            events.filter(F.col(type_col) == step)
            .join(reach.select(*prev_cols), user_col)
            .filter(cond)
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"__t{i}"))
        )
        reach = reach.join(nxt, user_col, "left")
        t_cols.append(f"__t{i}")
    reached = F.lit(1)
    t_last = F.col("__t1")
    for i, c in enumerate(t_cols[1:], start=2):
        reached = F.when(F.col(c).isNotNull(), F.lit(i)).otherwise(reached)
        t_last = F.when(F.col(c).isNotNull(), F.col(c)).otherwise(t_last)
    # reached counts the LONGEST PREFIX: a NULL step i makes every later
    # step's join input empty, so t_{i+1}.. are NULL by construction and
    # the reverse-order when-chain lands on the last non-NULL prefix
    return reach.select(
        user_col,
        reached.cast("int").alias("steps_reached"),
        F.col("__t1").alias("t_first"),
        t_last.alias("t_last"),
    )


def hist_partials(
    df: DataFrame,
    part_cols: list[str],
    value_col: str,
    edges: list[float],
) -> DataFrame:
    """G76: per-partition-group histogram sketch — bucket counts over
    LITERAL ``edges`` — the mergeable-partials pattern for QUANTILES
    (the G7 ``hll_partial_sketches`` story, for percentiles instead of
    distinct counts). ``percentile_approx`` answers one aggregation;
    materialized bucket counts persist per storage partition (day,
    shard), merge by plain addition to any coarser grouping
    (:func:`hist_rollup`), and answer quantile queries forever without
    rescanning raw data — a day's re-ingest rebuilds one day's counts.

    ``edges`` (ascending, >= 2) define ``len(edges) - 1`` buckets;
    bucket ``i`` covers ``[edges[i], edges[i+1])`` with both tails
    clamped (values below the first edge land in bucket 0, above the
    last in the final bucket — the estimate is range-clipped, pick edges
    that cover the data; an ``approxQuantile`` probe does). NULL values
    are not counted.

    Plan shape: ONE map-side-combinable count aggregate over
    ``part_cols × buckets`` — the literal CASE keeps the bucketing
    inside codegen and replayable in ANSI SQL.

    Returns ``part_cols + (bucket, n)``.
    """
    _validate_edges(edges)
    v = F.col(value_col).cast("double")
    bucket = F.lit(len(edges) - 2)
    for i in range(len(edges) - 2, 0, -1):
        bucket = F.when(v < F.lit(float(edges[i])), F.lit(i - 1)).otherwise(
            bucket
        )
    return (
        df.filter(v.isNotNull())
        .groupBy(*part_cols, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _validate_edges(edges: list[float]) -> None:
    if len(edges) < 2:
        raise ValueError("edges needs at least 2 entries")
    if any(b <= a for a, b in zip(edges, edges[1:])):
        raise ValueError(f"edges must be strictly ascending, got {edges}")


def hist_rollup(hist: DataFrame, group_cols: list[str]) -> DataFrame:
    """G76: merge histogram partials to a coarser grouping — bucket
    counts add exactly, so unlike a quantile SKETCH the merge loses
    nothing: the rolled-up histogram is bit-identical to one built from
    the raw data with the same edges."""
    return hist.groupBy(*group_cols, "bucket").agg(F.sum("n").alias("n"))


def hist_quantile(
    hist: DataFrame,
    group_cols: list[str],
    edges: list[float],
    qs: list[float],
) -> DataFrame:
    """G76: linear-interpolated quantile estimates from bucket counts
    (the same ``edges`` the partials were built with). For quantile
    ``q``: find the bucket where the running count crosses ``q·N`` and
    interpolate inside it —
    ``lo + (hi − lo) · (q·N − cum_before) / n_bucket`` — deterministic
    double arithmetic, identical in every engine, error bounded by the
    bucket width. Empty buckets are skipped by construction (zero-count
    buckets never cross the rank).

    Plan shape: one window cumsum over the ``groups × buckets`` sketch
    relation (never the raw data), partitioned by group — the sketch is
    the operand, so this is dashboard-cheap at any corpus size.

    Returns one row per group: ``group_cols + p<q> ...`` rounded to 6.
    """
    _validate_edges(edges)
    for q in qs:
        if not 0 < q < 1:
            raise ValueError(f"quantiles must be in (0, 1), got {q}")
    w = Window.partitionBy(*group_cols).orderBy("bucket")
    tot = Window.partitionBy(*group_cols)
    cum = (
        hist.withColumn(
            "__cum_before",
            F.coalesce(
                F.sum("n").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("__total", F.sum("n").over(tot))
    )
    lo = F.lit(0.0)
    hi = F.lit(0.0)
    for i in range(len(edges) - 1):
        lo = F.when(F.col("bucket") == i, F.lit(float(edges[i]))).otherwise(lo)
        hi = F.when(F.col("bucket") == i, F.lit(float(edges[i + 1]))).otherwise(
            hi
        )
    aggs = []
    for q in qs:
        rank = F.lit(q) * F.col("__total")
        inside = (F.col("__cum_before") < rank) & (
            rank <= F.col("__cum_before") + F.col("n")
        )
        # the crossing bucket is unique per (group, q): at most one
        # bucket satisfies cum_before < q·N <= cum_before + n (n > 0)
        est = F.when(
            inside,
            lo + (hi - lo) * (rank - F.col("__cum_before")) / F.col("n"),
        )
        name = f"p{str(q).replace('0.', '')}"
        aggs.append(F.round(F.max(est), 6).alias(name))
    return cum.groupBy(*group_cols).agg(*aggs)


def scd2_intervals(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    attr_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """G83: slowly-changing-dimension type-2 build — turn a per-key
    change log into versioned validity intervals (Kimball's SCD2, the
    standard warehouse shape every as-of join consumes; the G9 as-of
    join is exactly "probe these intervals at time t").

    Per key, rows ordered by ``(ts_col, *order_cols)`` collapse into one
    version row per *change*: a row opens a version iff it is the key's
    first row or any ``attr_cols`` value differs from the previous row
    (null-safe — NULL→value and value→NULL are changes, NULL→NULL is
    not). Each version carries ``version`` (1-based per key),
    ``valid_from`` (its opening ts), ``valid_to`` (the next version's
    ``valid_from``, NULL for the current one) and ``is_current``.
    Consecutive duplicate states merge into the earlier version —
    re-emitting an unchanged record extends the interval rather than
    splitting it.

    ``order_cols`` breaks equal-timestamp ties; pass a unique column
    (an event id) whenever timestamps can collide, or the winner among
    same-instant changes is partition-order-dependent.

    Scale shape: ONE exchange hash-partitioned on the key — the change
    detection (per-attr null-safe lag + row_number) and the interval
    windows (lead + version row_number) share that partitioning, and the
    second window pass runs over the *filtered* change rows (|versions|
    ≤ |rows|) with only a sort, no new shuffle (filter preserves the
    child's partitioning). No aggregate, no join; dimension keys are
    naturally high-cardinality so the key-partitioned windows don't
    single-reducer.
    """
    if not key_cols:
        raise ValueError("scd2_intervals needs at least one key column")
    attrs = attr_cols
    if attrs is None:
        skip = set(key_cols) | {ts_col} | set(order_cols or [])
        attrs = [c for c in df.columns if c not in skip]
    if not attrs:
        raise ValueError("scd2_intervals needs at least one attr column")
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (order_cols or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    changed = F.row_number().over(w) == 1
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    versions = df.select(
        *key_cols, ts_col, *(order_cols or []), *attrs
    ).withColumn("__open", changed).filter(F.col("__open")).drop("__open")
    return versions.select(
        *key_cols,
        F.row_number().over(w).cast("int").alias("version"),
        *attrs,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        F.lead(ts_col).over(w).isNull().alias("is_current"),
    )


def decay_lut_micro(half_life_days: int, horizon_days: int) -> list[int]:
    """The G92 decay table: ``round(1e6 · 2^(-d / half_life))`` per age
    day d ∈ [0, horizon) — computed in plain Python so both engines
    consume the IDENTICAL integer literals (no transcendental in either
    plan)."""
    return [
        int(round(1_000_000 * 2 ** (-d / half_life_days)))
        for d in range(horizon_days)
    ]


def decayed_counts(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    ref_date: str = "2024-02-01",
    half_life_days: int = 7,
    horizon_days: int = 64,
    weight_col: str | None = None,
) -> DataFrame:
    """G92: exponentially time-decayed counts per key — the
    recency-weighted activity score (trending sources, freshness priors
    for crawl scheduling, decayed per-domain quality) computed with
    EXACT integer arithmetic: ages quantize to whole days and the decay
    factor is a literal micro-unit lookup table (:func:`decay_lut_micro`
    — the G44/G80 micro-gain pattern), so the per-key score is an
    order-free long sum, hash-reproducible cross-engine, with no
    ``pow``/``exp`` in the plan at all.

    Rows older than ``horizon_days`` (or dated after ``ref_date``)
    contribute zero. NOTE the horizon IS a semantic cliff unless sized
    generously: at the defaults (half_life=7, horizon=64) a 63-day-old
    event still contributes ~1953 micro-units and a 64-day-old one 0.
    Size ``horizon_days ≳ 20·half_life_days`` when the tail must decay
    below one micro-unit before the cut (2^(-20) ≈ 0.95 micro).
    ``weight_col`` (integral — cast to long) weights each event;
    default 1. Returns ``(key_cols..., decayed_micro, n_events,
    n_recent)`` where n_recent counts rows within one half-life.

    Scale shape: one map-side projection (date diff + a bounded
    ``element_at`` on a literal array) + ONE combinable aggregate.
    """
    if half_life_days < 1 or horizon_days < 1:
        raise ValueError("half_life_days and horizon_days must be >= 1")
    lut = decay_lut_micro(half_life_days, horizon_days)
    lut_col = F.array(*[F.lit(v).cast("long") for v in lut])
    age = F.datediff(
        F.lit(ref_date).cast("date"), F.col(ts_col).cast("date")
    )
    factor = F.when(
        (age >= 0) & (age < horizon_days),
        F.element_at(lut_col, age + 1),
    ).otherwise(F.lit(0).cast("long"))
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    return df.groupBy(*key_cols).agg(
        F.sum(w * factor).cast("long").alias("decayed_micro"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            ((age >= 0) & (age <= half_life_days)).cast("long")
        ).cast("long").alias("n_recent"),
    )


_KMV_SCALE = 16 ** 15  # 60-bit hash domain: conv(md5[:15], 16, 10)


def _kmv_hash(key: Column) -> Column:
    """60-bit integer hash: the first 15 hex digits of md5, base-16
    decoded — engine-portable (DuckDB: ``('0x' || substr(md5, 1, 15))
    ::UBIGINT`` equals Spark's ``conv`` bit for bit). Keys hash via
    their canonical string form so any engine agrees on the bytes."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, 15), 16, 10
    ).cast("long")


def kmv_sketch_table(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-stratum KMV (k-minimum-values) sketch: the ``k`` smallest
    distinct 60-bit key hashes as a sorted array (Bar-Yossef et al.
    2002). The sketch is MERGEABLE (k smallest of an array union) and
    carries exactness for small strata: a sketch shorter than ``k`` IS
    the stratum's complete distinct hash set.

    Scale shape: one distinct over (stratum, hash) — the same exchange
    an exact count-distinct pays — then a per-stratum ``row_number ≤
    k`` and a k-bounded ``collect_list``. The window sorts only within
    strata of the DISTINCT relation. For key domains where even the
    distinct relation is huge, pre-filter by a hash threshold before
    the window (keep hashes < c·k·SCALE/approx_distinct, the G13b
    probe pattern) — not applied by default because the threshold
    derives from an HLL estimate the SQL oracle cannot replay.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = (
        # filter on the RAW key, not on the hash: _kmv_hash is NULL iff
        # its input is NULL (md5/conv of a non-null string never null),
        # and filtering on the derived column made the planner evaluate
        # the md5+conv chain TWICE per row (once in the pushed filter,
        # once in the projection — the guide §4.4 duplication, in pure
        # Catalyst form)
        df.filter(F.col(key_col).isNotNull())  # NULL keys carry no identity
        .select(
            F.col(stratum_col).alias("stratum"),
            _kmv_hash(F.col(key_col)).alias("__h"),
        )
        .distinct()
    )
    w = Window.partitionBy("stratum").orderBy("__h")
    return (
        h.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy("stratum")
        .agg(F.sort_array(F.collect_list("__h")).alias("sketch"))
    )


def kmv_distinct_report(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    k: int = 64,
) -> DataFrame:
    """G108: per-stratum distinct-count estimates from KMV sketches —
    ``(stratum, n_sketch, est_distinct)``. Exact when the stratum has
    fewer than ``k`` distinct keys (the sketch is complete); otherwise
    the unbiased KMV estimator ``(k−1)·SCALE // h_k`` with relative
    error ~1/√(k−2). All arithmetic is integer (decimal(38,0) floor
    division — ``(k−1)·2⁶⁰`` leaves int64 at k ≥ 9, and Spark's
    decimal ``div`` silently wraps), clamped to 2⁶² like bt_scores, so
    a SQL oracle replays it bit for bit as HUGEINT ``//``.

    The HLL complement (G7 ``approx_distinct``): HLL is cheaper per
    row, but KMV sketches MERGE exactly and support the G108
    intersection estimator — cross-stratum distinct overlap, which HLL
    cannot give without inclusion-exclusion error stacking.
    """
    from ferc_xbrl_extractor_spark.operators.labels import _dfloor_div

    sk = kmv_sketch_table(df, key_col, stratum_col, k)
    num = F.expr(  # (k-1)*2^60 leaves int64 — literal via string
        f"CAST('{(k - 1) * _KMV_SCALE}' AS DECIMAL(38,0))"
    )
    est = F.when(
        F.size("sketch") < k, F.size("sketch").cast("long")
    ).otherwise(
        F.least(
            _dfloor_div(
                num,
                F.element_at("sketch", k).cast("decimal(38,0)"),
            ),
            F.lit(2 ** 62).cast("decimal(38,0)"),
        ).cast("long")
    )
    return sk.select(
        "stratum",
        F.size("sketch").cast("long").alias("n_sketch"),
        est.alias("est_distinct"),
    )


def kmv_intersection_report(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    k: int = 64,
) -> DataFrame:
    """G108: pairwise distinct-overlap estimates between strata —
    ``(stratum_a, stratum_b, d_a, d_b, est_union, est_inter)`` for
    every unordered stratum pair. The question G106 answers for
    SHINGLE SIMILARITY, answered for KEY OVERLAP: how many distinct
    URLs/users/ids do two crawl dumps share (dedup-budget and join-
    selectivity planning before any corpus-scale join runs).

    Estimator (Beyer et al. 2007): merge the two sketches (k smallest
    of the union — exact because each side carries its k smallest),
    ρ = |A∩B restricted to the union's k minima|, then
    ``est_inter = ρ · est_union // |U_k|``. When both sketches are
    complete (< k), every term is EXACT — small strata degrade to
    set arithmetic, not noise. Integer decimal(38,0) floor math
    throughout, same clamp and replay contract as
    :func:`kmv_distinct_report`.

    Scale shape: the sketches are |strata| rows of k longs; the pair
    matrix is a broadcast inequality self-join (|strata|² report rows
    — the G106 contract: strata are few, this is a report).
    """
    from ferc_xbrl_extractor_spark.operators.labels import _dfloor_div

    # the sketch table feeds both sides of the pair self-join below —
    # IDENTICAL subtrees, which AQE's runtime exchange/stage reuse
    # executes once already; an explicit cut was A/B'd and reverted
    # (same-sitting min-of-N: the eager materialization cost more than
    # the healed duplication). Left uncut deliberately.
    sk = kmv_sketch_table(df, key_col, stratum_col, k)
    num = F.expr(  # (k-1)*2^60 leaves int64 — literal via string
        f"CAST('{(k - 1) * _KMV_SCALE}' AS DECIMAL(38,0))"
    )
    clamp = F.lit(2 ** 62).cast("decimal(38,0)")

    def _est(sketch: Column) -> Column:
        return F.when(
            F.size(sketch) < k, F.size(sketch).cast("decimal(38,0)")
        ).otherwise(
            F.least(
                _dfloor_div(num, F.element_at(sketch, k).cast("decimal(38,0)")),
                clamp,
            )
        )

    a = sk.select(
        F.col("stratum").alias("stratum_a"), F.col("sketch").alias("__sa")
    )
    b = sk.select(
        F.col("stratum").alias("stratum_b"), F.col("sketch").alias("__sb")
    )
    merged = F.slice(
        F.array_sort(F.array_union("__sa", "__sb")), 1, k
    )
    pairs = (
        a.join(
            F.broadcast(b), F.col("stratum_a") < F.col("stratum_b")
        )
        .withColumn("__uk", merged)
        .withColumn(
            "__rho",
            F.size(
                F.array_intersect(F.array_intersect("__sa", "__sb"), "__uk")
            ),
        )
        .withColumn(
            "__eu",
            F.when(
                F.size("__uk") < k, F.size("__uk").cast("decimal(38,0)")
            ).otherwise(
                F.least(
                    _dfloor_div(
                        num, F.element_at("__uk", k).cast("decimal(38,0)")
                    ),
                    clamp,
                )
            ),
        )
    )
    ei = F.when(F.size("__uk") == 0, F.lit(0).cast("decimal(38,0)")).otherwise(
        _dfloor_div(
            F.col("__rho").cast("decimal(38,0)") * F.col("__eu"),
            F.size("__uk").cast("decimal(38,0)"),
        )
    )
    return pairs.select(
        "stratum_a",
        "stratum_b",
        _est(F.col("__sa")).cast("long").alias("d_a"),
        _est(F.col("__sb")).cast("long").alias("d_b"),
        F.col("__eu").cast("long").alias("est_union"),
        ei.cast("long").alias("est_inter"),
    )


def kmv_merge_sketches(
    sketches: DataFrame,
    group_cols: list[str],
    sketch_col: str = "sketch",
    k: int = 64,
) -> DataFrame:
    """G108b: merge stored KMV sketches up to a coarser grouping — the
    property that makes KMV the INCREMENTAL distinct stack (and what
    HLL's opaque registers cannot give relationally): the k smallest of
    a union equal the k smallest of the union of each part's k
    smallest, so per-partition sketches (a crawl dump a day, a shard an
    hour) merge to the whole-corpus sketch EXACTLY — bit-identical to
    sketching the raw union, no rescan of history (pytest-pinned
    identity; the G7 ``hll_partial_sketches`` pattern with exact
    mergeability instead of register approximation).

    One combinable aggregate: ``collect_list`` of the (group, k)-
    bounded arrays, flatten, distinct, sort, slice — driver-free,
    exchange carries |groups| rows of ≤ parts·k hashes.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    merged = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(sketch_col)))),
        1,
        k,
    )
    return sketches.groupBy(*group_cols).agg(merged.alias(sketch_col))


def kmv_estimate_col(sketch_col: str | Column, k: int) -> Column:
    """G108: the distinct estimate of a sketch COLUMN — exact
    ``size(sketch)`` below ``k``, else ``(k−1)·2⁶⁰ // h_k`` in
    decimal(38,0) floor math with the 2⁶² clamp (the
    :func:`kmv_distinct_report` estimator, reusable over merged
    sketches)."""
    from ferc_xbrl_extractor_spark.operators.labels import _dfloor_div

    sk = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    num = F.expr(f"CAST('{(k - 1) * _KMV_SCALE}' AS DECIMAL(38,0))")
    return (
        F.when(F.size(sk) < k, F.size(sk).cast("long"))
        .otherwise(
            F.least(
                _dfloor_div(num, F.element_at(sk, k).cast("decimal(38,0)")),
                F.lit(2 ** 62).cast("decimal(38,0)"),
            ).cast("long")
        )
    )
