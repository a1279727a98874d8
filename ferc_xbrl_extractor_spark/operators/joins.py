"""Join operators (SURVEY.md §2.3 J1-J3, §2.12 G9).

The reference's only join semantics are equi-inner (context enrichment) and
left-anti (referential integrity). Beyond those, the engine adds the as-of
join a time-series/training-data pipeline needs — implemented with the
union + last-observation-carried-forward pattern, which costs ONE shuffle
(on the join key) + a per-partition sort, instead of the naive
range-join + dedup that explodes quadratically on skewed keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators.sqltext import bq, raw_col


def context_join(pivoted: DataFrame, contexts: DataFrame, keys=("filing_name", "c_id")) -> DataFrame:
    """J1: enrich wide fact rows with their context's PK columns.

    Contexts-per-filing are tiny relative to facts -> broadcast hash join.
    (The main pipeline avoids this join entirely by denormalizing map-side
    in the shredder; this standalone form exists for reference parity and
    for callers holding separately-produced relations.)
    """
    return pivoted.join(F.broadcast(contexts), list(keys), "inner")


def referential_integrity_violations(
    data: DataFrame, ids: DataFrame, keys=("entity_id", "filing_name")
) -> DataFrame:
    """J2: rows of ``data`` with no matching identification row — left anti
    join; an empty result is the invariant (reference
    tests/integration/data_quality_test.py:70-89)."""
    return data.join(ids, list(keys), "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
    direction: str = "backward",
) -> DataFrame:
    """G9: for each left row, attach the most recent right row at or before
    its timestamp (direction='backward'; 'forward' mirrors it).

    Implementation: tag both sides, union on (key, time), window-sort once,
    carry the last non-null right value forward. One shuffle on ``on``;
    no range-join blowup; skewed keys are handled by AQE.
    """
    lt, rt = F.col(left_time), F.col(right_time)
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")

    left_cols = left.columns
    tagged_left = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left_cols]).alias("__l"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_values) + ">"
        ).alias("__r"),
    )
    tagged_right = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{left.schema[c].dataType.simpleString()}" for c in left_cols) + ">"
        ).alias("__l"),
        F.struct(*[F.col(c) for c in right_values]).alias("__r"),
    )
    unioned = tagged_left.unionByName(tagged_right)

    # Sort so right rows at the same timestamp come first (<= semantics).
    order = [F.col("__t"), F.col("__is_left")]
    if direction == "forward":
        order = [F.col("__t").desc(), F.col("__is_left")]
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "__match", F.last("__r", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("__is_left") == 1).select(
        *[F.col(f"__l.{c}").alias(c) for c in left_cols],
        *[F.col(f"__match.{c}").alias(c) for c in right_values],
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: float,
    keys: list[str] | None = None,
    closed: str = "both",
) -> DataFrame:
    """G19: point-in-interval join — each point row matched to every
    interval row containing it (optionally also equi-joined on ``keys``).

    Spark has no native range join, and the naive formulation
    (``ON p BETWEEN s AND e``) plans as BroadcastNestedLoop — O(|points| ×
    |intervals|) comparisons per key, which is exactly what dies first at
    scale. This bucketizes the time axis instead: intervals explode to one
    row per covered bucket of width ``bucket_width``, points map to their
    single bucket, and the containment test runs only within
    (keys, bucket) equi-join groups — a plain shuffled hash join Catalyst
    and AQE treat like any other. Work is O(|points| + |intervals| ×
    dup_factor + |true matches within buckets|), dup_factor =
    interval_length / bucket_width + 1.

    Pick ``bucket_width`` near the typical interval length: much smaller
    multiplies the interval side (dup_factor rows per interval); much
    larger degrades the join back toward per-bucket all-pairs. Both axes
    accept timestamps (bucketed on epoch seconds) or plain numerics.

    ``closed``: 'both' ([s, e]), 'left' ([s, e)), 'right' ((s, e]),
    'neither' ((s, e)).

    Column names must be disjoint between the two sides apart from
    ``keys`` (rename before joining otherwise) — the containment filter
    references both sides' columns by name post-join.
    """
    keys = list(keys or [])
    lo_ok = {"both": ">=", "left": ">=", "right": ">", "neither": ">"}[closed]
    hi_ok = {"both": "<=", "left": "<", "right": "<=", "neither": "<"}[closed]

    def nums(df: DataFrame, c: str) -> Column:
        dt = df.schema[c].dataType.simpleString()
        col = raw_col(c)
        if dt in ("timestamp", "date", "timestamp_ntz"):
            # NTZ/date have no direct double cast; both sides route through
            # the same session-zone ltz conversion, so containment filtering
            # is unaffected by where bucket boundaries land.
            return col.cast("timestamp_ltz").cast("double")
        return col

    p_b = F.floor(nums(points, point_col) / F.lit(bucket_width))
    i_lo = F.floor(nums(intervals, start_col) / F.lit(bucket_width))
    i_hi = F.floor(nums(intervals, end_col) / F.lit(bucket_width))

    # Collision-free internal names: the two sides may share columns.
    p = points.select("*", p_b.alias("__bkt"))
    i = intervals.select(
        "*", F.explode(F.sequence(i_lo, i_hi)).alias("__bkt")
    )
    on = keys + ["__bkt"]
    pt, lo, hi = bq(point_col), bq(start_col), bq(end_col)
    contained = F.expr(f"{pt} {lo_ok} {lo} AND {pt} {hi_ok} {hi}")
    return p.join(i, on, "inner").filter(contained).drop("__bkt")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salts: int = 8,
) -> DataFrame:
    """G88: explicit key-salting for an equi-join whose BIG side has hot
    keys — output identical to ``big.join(small, on)`` (the gate oracle
    is the plain join).

    Every big-side row gets a salt in ``[0, salts)`` — xxhash64 over
    its full row content AND a per-partition row ordinal as one extra
    hash operand (r8 ADVICE: content alone sent exact-duplicate rows,
    common after narrow fact-table projections, to ONE salt, silently
    re-serializing precisely the duplicate-row skew case; r9 ADVICE:
    ADDING the ordinal to the hash overflowed int64 under ANSI mode
    with probability ~mid/2⁶⁴ per row — folding it in as an operand
    keeps every intermediate inside xxhash64's own arithmetic). The
    ordinal is ``monotonically_increasing_id()``, which is NOT
    replay-stable: a task retry that re-reads a source whose row order
    within the partition is not deterministic can route the same row to
    a different salt on the second attempt. That only moves rows
    between reducers — ANY salt assignment is output-correct here
    because the small side is replicated across all salts (the gate
    oracle is the plain join) — but do not persist ``__salt`` or key
    downstream state on it. The small side explodes into ``salts``
    copies, one per salt
    value; the join runs on ``(on, salt)``. A key owning 30% of the
    corpus now spreads across ``salts`` reducers instead of serializing
    through one — whether its rows are distinct or byte-identical.

    When to use it over AQE's skew-join (which this engine leaves ON):
    AQE re-splits oversized SORT-MERGE partitions at runtime, but the
    paths it does not cover are exactly the ones a pipeline meets at
    100 TB — stream-static joins (no runtime re-plan inside a
    microbatch), bucketed/pre-partitioned layouts whose exchanges are
    elided (nothing left for AQE to re-split), and shuffled-hash joins
    where the per-key build side itself is the bottleneck. The salt is
    visible in the plan at AUTHOR time, so the operator composes with
    those paths. Cost: the small side ships ``salts`` copies — size it
    like a broadcast (if the small side already broadcasts, you don't
    need salting at all; this is for the mid-size dim that does not).

    Rows with NULL join keys are dropped (inner-join semantics in both
    forms). ``salts`` must be >= 1.
    """
    if salts < 1:
        raise ValueError("salts must be >= 1")
    salt = F.pmod(
        F.xxhash64(
            *[F.col(c) for c in big.columns],
            F.monotonically_increasing_id(),
        ),
        F.lit(salts),
    ).cast("int")
    b = big.withColumn("__salt", salt)
    s = small.select(
        "*",
        F.explode(
            F.sequence(F.lit(0).cast("int"), F.lit(salts - 1).cast("int"))
        ).alias("__salt"),
    )
    return b.join(s, [on, "__salt"]).drop("__salt")


def lpm_join(
    facts: DataFrame,
    prefixes: DataFrame,
    key_col: str,
    prefix_col: str = "prefix",
    length_col: str = "prefix_len",
    bits: int = 32,
    how: str = "left",
) -> DataFrame:
    """G111: LONGEST-PREFIX-MATCH join — each fact row enriched with
    the most specific matching prefix row, the lookup semantics of
    CIDR tables (IP → geo/ASN/datacenter tagging in crawl curation,
    the per-request enrichment CDN/firewall logs need). Spark has no
    native LPM; the naive form (``ON key >> (bits-len) = prefix ORDER
    BY len DESC LIMIT 1`` per row) is a non-equi BNLJ.

    Relational plan: the DISTINCT prefix lengths present in the table
    (≤ ``bits``+1 values — a bounded driver collect, the G37 class)
    become a generated candidate list: each fact explodes to one
    (length, key >> (bits−length)) candidate per PRESENT length, the
    match is a plain equi-join on (length, prefix-value), and the most
    specific winner per fact is one ``max_by(payload-struct, length)``
    aggregate — no windows, no inequality join. Work is
    O(|facts|·|distinct lengths| + matches); a real CIDR table uses
    ~8-24 distinct lengths, not 33.

    Args:
        facts: rows with an unsigned numeric ``key_col`` (an IPv4 as
            uint32 long; parse dotted-quad upstream).
        prefixes: (prefix value right-aligned — i.e. the network
            address SHIFTED DOWN by bits−length — length, payload...).
            Duplicate (prefix, length) rows: ties break toward the
            lexicographically smallest payload struct (deterministic).
        how: 'left' (default — unmatched facts keep NULL payloads,
            visible) or 'inner'.

    Output: every fact column + ``matched_len`` + the prefix table's
    payload columns (NULL on no match under 'left'). The winner
    aggregate keys on the full fact row, so duplicate fact rows
    collapse under 'inner' (and are restored by the final join under
    'left') — pre-attach a unique id if duplicates must survive
    'inner'.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    if not (1 <= bits <= 63):
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    payload = [c for c in prefixes.columns if c not in (prefix_col, length_col)]
    # bounded collect: a prefix table carries at most bits+1 distinct
    # lengths (real CIDR tables: ~8-24)
    lengths = sorted(
        r[0]
        for r in prefixes.select(length_col).distinct().collect()
        if r[0] is not None and 0 <= r[0] <= bits
    )
    if not lengths:
        raise ValueError("prefixes has no usable lengths in [0, bits]")
    fact_cols = facts.columns
    cand = (
        facts.select(
            "*",
            F.explode(
                F.array(*[F.lit(int(ln)).cast("int") for ln in lengths])
            ).alias("__len"),
        )
        .withColumn(
            "__key", F.col(key_col).cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        )
        .withColumn("__pfx", F.expr(f"shiftrightunsigned(__key, {bits} - __len)"))
        .drop("__key")
    )
    pfx = prefixes.select(
        F.col(prefix_col).cast("long").alias("__pfx"),
        F.col(length_col).cast("int").alias("__len"),
        *[F.col(c) for c in payload],
    )
    hit = cand.join(pfx, ["__pfx", "__len"], "inner")
    # most specific length wins; among duplicate (prefix, length) rows
    # the lexicographically smallest payload struct — min_by over
    # (-len, payload) keeps it ONE combinable aggregate, no windows.
    # NB: the aggregate is keyed on the full fact row, so duplicate
    # fact rows collapse to one here; 'left' restores multiplicity via
    # the final join, 'inner' returns distinct fact rows (documented —
    # pre-attach a unique id if duplicate facts must survive 'inner').
    best = hit.groupBy(*fact_cols).agg(
        F.min_by(
            F.struct(
                F.col("__len").alias("l"),
                *[F.col(c).alias(c) for c in payload],
            ),
            F.struct(
                (-F.col("__len")).alias("nl"),
                *[F.col(c).alias(c) for c in payload],
            ),
        ).alias("__win")
    )
    out = best.select(
        *fact_cols,
        F.col("__win.l").cast("int").alias("matched_len"),
        *[F.col(f"__win.{c}").alias(c) for c in payload],
    )
    if how == "inner":
        return out
    return facts.join(out, fact_cols, "left")
