"""Deterministic sampling operators for training-data pipelines (G14).

A pretraining mixture is built by sampling each source/language/quality
stratum at its own rate (or to a fixed per-stratum budget). At 100 TB the
two requirements are (a) no shuffle unless the semantics force one, and
(b) reproducibility — re-running the pipeline must select the same rows,
on any engine, with no RNG state shipped to executors.

Both operators here derive their randomness from md5 of the row's stable
id (plus a caller salt for independent redraws), the same cross-engine
primitive the rest of the repo uses (md5 hex is identical in every
engine; first 15 hex chars = 60-bit uniform — see operators/neardup.py).

- ``sample_by_rate``: a pure map-side filter — zero shuffles at any
  scale. Per-stratum rates compile to a literal CASE over the stratum
  column; the rate threshold is an *integer* comparison (floor(rate *
  2^60) computed driver-side), so there is no float-boundary drift
  between engines.
- ``stratified_sample_n``: exact per-stratum row budgets. Hash-ordered
  row_number per stratum, which Spark plans with a partition-local
  partial ``WindowGroupLimit`` before the single keyed shuffle (the same
  shape as similarity.topk_per_key), so the exchange carries
  ≤ n × partitions rows per stratum, not the stratum's full population.

No reference counterpart (the reference is an XBRL ETL); this is the
SURVEY.md §2.12 gap surface, G-series.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 2^60: the span of a 15-hex-char md5 prefix.
_U60_SPAN = 1 << 60


def hash_u60(col: Column, salt: str = "") -> Column:
    """Deterministic 60-bit uniform from md5 of a string column. Identical
    in DuckDB as ``CAST(('0x' || substr(md5(salt || x), 1, 15)) AS
    BIGINT)``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")


def sample_by_rate(
    df: DataFrame,
    key_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic stratified Bernoulli sample: keep a row iff
    ``hash_u60(salt || id) < floor(rate * 2^60)``, where ``rate`` is
    ``rates[key_col]`` (``default_rate`` for other strata). Pure
    projection+filter — no shuffle, no RNG broadcast; a different ``salt``
    gives an independent redraw.
    """
    u = hash_u60(F.col(id_col), salt)
    thresh = F.lit(int(default_rate * _U60_SPAN))
    for value, r in sorted(rates.items()):
        thresh = F.when(
            F.col(key_col) == value, F.lit(int(r * _U60_SPAN))
        ).otherwise(thresh)
    return df.filter(u < thresh)


def repeat_by_rate(
    df: DataFrame,
    key_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    salt: str = "",
    copy_col: str = "epoch_copy",
) -> DataFrame:
    """Deterministic fractional-epoch repetition: emit each row
    ``floor(r)`` times, plus one more iff ``hash_u60(salt || id) <
    floor(frac(r) * 2^60)`` — the upsampling half of mixture
    construction ("4.3 epochs of the small trusted stratum"), where
    ``sample_by_rate``/``temperature_rates`` are the downsampling half.
    With ``r < 1`` this degenerates to exactly ``sample_by_rate``'s
    Bernoulli keep-set (same hash, same salt, same threshold), so one
    rate dict spanning both sides of 1.0 composes a full mixture.

    Output rows carry ``copy_col`` (0-based copy index, long) so
    downstream per-row identity stays unique — feed ``(id, copy)`` to
    ``shuffle_order`` to interleave the copies through the epoch rather
    than train them back-to-back.

    Scale shape: a pure map-side projection + ``explode(sequence(...))``
    generate — zero shuffles at any scale; output volume is the
    intended Σ rateₛ·|stratumₛ|. Per-stratum rates compile to a literal
    CASE over ``key_col`` (integer base copies + integer 60-bit
    fractional threshold, both computed driver-side), so expected
    composition is exact and every engine replays the same copy counts
    row-for-row.
    """
    def _parts(r: float) -> tuple[int, int]:
        if r < 0:
            raise ValueError(f"negative rate {r}")
        base = int(r)
        return base, int((r - base) * _U60_SPAN)

    u = hash_u60(F.col(id_col), salt)
    b, t = _parts(default_rate)
    base_c, thresh = F.lit(b), F.lit(t)
    for value, r in sorted(rates.items()):
        rb, rt = _parts(r)
        cond = F.col(key_col) == value
        base_c = F.when(cond, F.lit(rb)).otherwise(base_c)
        thresh = F.when(cond, F.lit(rt)).otherwise(thresh)
    n = base_c + F.when(u < thresh, F.lit(1)).otherwise(F.lit(0))
    copies = F.when(
        n > 0, F.sequence(F.lit(0), (n - 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return df.select("*", F.explode(copies).alias("__copy")).select(
        *df.columns, F.col("__copy").cast("long").alias(copy_col)
    )


def split_by_hash(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    out_col: str = "split",
    salt: str = "",
) -> DataFrame:
    """Deterministic, disjoint, exhaustive dataset split (train/val/test):
    each row's 60-bit hash falls into exactly one cumulative-fraction
    band, so every row gets exactly one label, membership is stable under
    reprocessing (same id+salt -> same split, independent of partitioning
    or row order), and changing ``salt`` redraws the whole split. A pure
    map-side projection -- no shuffle, no RNG state.

    ``fractions`` must sum to 1 (+-1e-9); bands are assigned in dict
    order and the LAST band absorbs the hash ceiling, so rounding never
    drops a row.
    """
    if not fractions:
        raise ValueError("fractions is empty")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = hash_u60(F.col(id_col), salt)
    names = list(fractions)
    # Cumulative integer bounds in dict order; the CASE chain tests them
    # front-to-back so the first matching band wins and the last band
    # (no bound) absorbs the hash ceiling.
    cum = 0.0
    chain = []
    for name in names[:-1]:
        cum += fractions[name]
        chain.append((name, int(cum * _U60_SPAN)))
    expr = F.lit(names[-1])
    for name, bound in reversed(chain):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    out_col: str = "split",
    salt: str = "",
    cluster_col: str | None = None,
) -> DataFrame:
    """Near-dup-aware train/val/test split: :func:`split_by_hash` keyed by
    the document's near-duplicate CLUSTER id instead of its own id, so
    every member of a duplicate cluster lands in the SAME split. This is
    the assignment-time fix for the leakage that
    :func:`~ferc_xbrl_extractor_spark.operators.neardup.split_leakage_report`
    audits after the fact: with per-document hashing, a train/test pair of
    near-identical documents is expected for ~2·p_train·p_test of every
    duplicate cluster; keying the band on the component min-id makes that
    probability exactly zero by construction while keeping every
    :func:`split_by_hash` guarantee (disjoint, exhaustive, salt-redrawable,
    stable under reprocessing — adding a NEW doc to an existing cluster
    cannot move the cluster's split, because the label is the component
    min-id and ids only grow).

    ``pairs`` is any near-dup pair relation (``jaccard_pairs``,
    ``minhash_lsh_pairs``, ``simhash_pairs``, embedding near-dup) with
    ``id_a``/``id_b`` columns. Scale shape: the pair graph collapses to
    per-node labels via distributed min-label propagation (|graph nodes|
    rows — near-dup docs only, tiny next to the corpus), the corpus-side
    join AQE-broadcasts those labels, and the band assignment itself stays
    a pure map-side projection; the corpus is never shuffled. Pass
    ``cluster_col`` to also keep the cluster id for auditing.
    """
    from ferc_xbrl_extractor_spark.operators.neardup import attach_clusters

    cc = cluster_col if cluster_col is not None else "__lss_cluster"
    clustered = attach_clusters(df, pairs, id_col=id_col, cluster_col=cc)
    out = split_by_hash(
        clustered, fractions, id_col=cc, out_col=out_col, salt=salt
    )
    return out if cluster_col is not None else out.drop(cc)


def select_to_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    num_buckets: int = 64,
) -> DataFrame:
    """Fill a token budget with the best-scoring documents: rank the
    corpus by (``score_col`` desc, ``id_col`` asc) and keep every document
    whose running token total BEFORE it is still under ``budget`` (the
    document that straddles the boundary is kept, so the budget is always
    reached when the corpus can reach it). This is the "select the top-N
    tokens, not the top-N documents" primitive behind quality-pruned
    pretraining mixes.

    Scale shape — the naive form is a global-ORDER-BY running sum, i.e.
    one task sorting the whole corpus. Instead: score-range buckets from
    an ``approxQuantile`` probe split the order into ``num_buckets``
    literal CASE bands; ONE map-side-combinable aggregate gives per-bucket
    token totals (``num_buckets`` rows to the driver), whose prefix sums
    locate the single boundary bucket. Buckets strictly above it are kept
    wholesale, below dropped wholesale — both pure map-side filters — and
    only the ~|corpus|/num_buckets boundary-bucket rows pay the exact
    running-sum window. Quantile accuracy only balances work between
    buckets; the selected SET is exact for any boundaries (ties can't
    straddle a band: banding is a CASE on the score value itself).

    The boundary bucket's exact running sum is itself decomposed with the
    two-phase block prefix sum (same shape as :func:`~ferc_xbrl_extractor_spark.operators.packing.pack_sequences`):
    ``repartitionByRange`` on the selection order gives every task a
    contiguous, bounded slice of the order; a window partitioned by the
    range-block id computes block-local offsets, and the single
    unpartitioned window runs over the *block totals* relation (one row
    per block — never the corpus). No task ever sorts more than
    ``max_block_rows`` rows, closing the one single-task shape the r5
    review flagged.

    NULL scores sort last (both the CASE and the window use
    nulls-last order), so they are selected only after every scored
    document fits. ``df`` is traversed twice (totals + selection) — for
    an expensive upstream, persist before calling.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    s = F.col(score_col)
    n_tok = F.col(token_col).cast("long")

    probes = [i / num_buckets for i in range(1, num_buckets)]
    bounds = df.approxQuantile(score_col, probes, 0.01)
    # Descending bands: bucket 0 = best scores. Duplicate boundaries
    # (skewed score mass) just leave some bands empty.
    edges = sorted({float(b) for b in bounds}, reverse=True)
    bucket = F.lit(len(edges))  # score <= every edge (or NULL, below)
    for i, e in enumerate(edges):
        bucket = F.when(s > F.lit(e), F.lit(i)).otherwise(bucket)
    bucket = F.when(s.isNull(), F.lit(len(edges) + 1)).otherwise(bucket)

    bdf = df.withColumn("__bkt", bucket)
    totals: dict[int, int] = {}
    counts: dict[int, int] = {}
    for r in (
        bdf.groupBy("__bkt")
        .agg(F.sum(n_tok).alias("t"), F.count(F.lit(1)).alias("c"))
        .collect()
    ):
        totals[int(r["__bkt"])] = int(r["t"])
        counts[int(r["__bkt"])] = int(r["c"])
    cum = 0
    cut = None  # first bucket whose cumulative total reaches the budget
    for b in sorted(totals):
        if cum + totals[b] >= budget:
            cut, base = b, cum
            break
        cum += totals[b]
    if cut is None:  # budget exceeds the corpus — everything fits
        return df

    keep_whole = bdf.filter(F.col("__bkt") < cut)
    boundary = _bounded_running_select(
        bdf.filter(F.col("__bkt") == cut),
        order=[s.desc_nulls_last(), F.col(id_col).asc()],
        n_tok=n_tok,
        remainder=budget - base,
        n_blocks=max(1, -(-counts[cut] // _BUDGET_BLOCK_ROWS)),
    )
    return keep_whole.unionByName(boundary).drop("__bkt")


# Per-task row bound for the boundary bucket's exact prefix sum: each
# range block sorts at most this many rows. At 100 TB a 1/64 boundary
# bucket is still ~1.5 TB — the r5 single-partition window put all of it
# through one task; blocks cap it regardless of corpus size.
_BUDGET_BLOCK_ROWS = 1_000_000


def _bounded_running_select(
    rows: DataFrame,
    order: list,
    n_tok,
    remainder: int,
    n_blocks: int,
) -> DataFrame:
    """Keep every row whose exact running token total (in ``order``)
    BEFORE it is under ``remainder`` — without any task ever sorting more
    than its range block.

    Two-phase block prefix sum over an arbitrary total order:
    ``repartitionByRange(order)`` makes each partition a contiguous slice
    of the order (block i's rows all precede block i+1's), so
    ``spark_partition_id()`` is a valid block id. The block-local window
    is partitioned (bounded sort per task); the cross-block offset is a
    prefix sum over the ONE-ROW-PER-BLOCK totals relation, broadcast back.
    The selected set is independent of where the block boundaries fall —
    any contiguous blocking of a total order yields the same offsets.
    """
    blocks = rows.repartitionByRange(n_blocks, *order).withColumn(
        "__blk", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("__blk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = blocks.withColumn(
        "__local", F.coalesce(F.sum(n_tok).over(w_local), F.lit(0))
    )
    btot = blocks.groupBy("__blk").agg(F.sum(n_tok).alias("__t"))
    w_base = (
        Window.partitionBy()
        .orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # over <= n_blocks rows, never the corpus
    # bases descends from the same parent as local — rename its key so
    # the self-join is unambiguous by construction (no analyzer WARN, no
    # silent mis-bind after a refactor)
    bases = btot.select(
        F.col("__blk").alias("__bblk"),
        F.coalesce(F.sum("__t").over(w_base), F.lit(0)).alias("__base"),
    )
    return (
        local.join(F.broadcast(bases), local["__blk"] == bases["__bblk"])
        .filter(F.col("__base") + F.col("__local") < F.lit(remainder))
        .drop("__blk", "__bblk", "__local", "__base")
    )


def _hashed_features(
    d: DataFrame, text_col: str, id_col: str, n_buckets: int, salt: str
) -> DataFrame:
    """(id, bucket) rows of md5-hashed unigram+bigram features — the
    shared feature space of :func:`dsir_weights` and
    :func:`feature_drift_report`."""
    from ferc_xbrl_extractor_spark.operators.text import (
        ngrams_from_tokens,
        tokens,
    )

    toked = d.select(
        F.col(id_col).alias("__id"), tokens(text_col).alias("__toks")
    )
    both = toked.select(
        "__id",
        F.explode(
            F.concat(F.col("__toks"), ngrams_from_tokens("__toks", 2))
        ).alias("__feat"),
    )
    return both.select(
        "__id",
        (hash_u60(F.col("__feat"), salt) % n_buckets).alias("__b"),
    )


def feature_drift_report(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    salt: str = "dsir:",
) -> DataFrame:
    """One-row corpus drift report between two snapshots: Jensen-Shannon
    divergence of their hashed unigram+bigram bucket distributions (the
    :func:`dsir_weights` feature space) with add-``alpha`` smoothing,
    plus bucket-support churn counts. The monitoring primitive for "did
    this crawl/refresh change what the corpus is made of?" — JS is
    symmetric and bounded (≤ ln 2 ≈ 0.6931), so one threshold works for
    every pair of snapshots.

    Output columns: ``js_divergence`` (nats, 4dp), ``n_buckets_old`` /
    ``n_buckets_new`` (distinct support), ``n_gained`` / ``n_lost``
    (buckets present only in new / only in old), ``n_feats_old`` /
    ``n_feats_new`` (total feature occurrences).

    Determinism: each bucket's JS contribution is fixed to integer
    micro-nats before the final sum (the surprisal trick), so the
    aggregate is exact in any order/partitioning and the report is
    hash-exact cross-engine. Scale shape: two map-side-combinable
    bucket-count aggregates (``n_buckets``-bounded output), one
    full-outer bucket join of two tiny relations, totals as 1-row
    broadcasts; the corpora are never joined row-to-row.
    """
    oc = (
        _hashed_features(old, text_col, id_col, n_buckets, salt)
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__co"))
    )
    nc = (
        _hashed_features(new, text_col, id_col, n_buckets, salt)
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__cn"))
    )
    to = oc.agg(F.coalesce(F.sum("__co"), F.lit(0)).alias("__to"))
    tn = nc.agg(F.coalesce(F.sum("__cn"), F.lit(0)).alias("__tn"))
    denom = float(alpha) * n_buckets
    # Full bucket spine: with add-alpha smoothing an UNOBSERVED bucket
    # still carries probability alpha/(T+alpha*B) on each side, and those
    # differ when the totals differ — so the JS sum must run over all
    # n_buckets, not just observed support. The spine is tiny by
    # construction.
    spine = old.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("__b")
    )
    joined = (
        spine.join(oc, "__b", "left")
        .join(nc, "__b", "left")
        .crossJoin(F.broadcast(to))
        .crossJoin(F.broadcast(tn))
    )
    p = (F.coalesce(F.col("__co"), F.lit(0)) + F.lit(float(alpha))) / (
        F.col("__to") + F.lit(denom)
    )
    q = (F.coalesce(F.col("__cn"), F.lit(0)) + F.lit(float(alpha))) / (
        F.col("__tn") + F.lit(denom)
    )
    m = (p + q) / 2
    term = F.round(
        (p * F.log(p / m) + q * F.log(q / m)) / 2 * 1e6
    ).cast("long")
    per_bucket = joined.select(
        term.alias("__js_micro"),
        F.col("__co").isNotNull().cast("int").alias("__has_o"),
        F.col("__cn").isNotNull().cast("int").alias("__has_n"),
        F.coalesce(F.col("__co"), F.lit(0)).alias("__co0"),
        F.coalesce(F.col("__cn"), F.lit(0)).alias("__cn0"),
    )
    return per_bucket.agg(
        F.round(F.sum("__js_micro") / 1e6, 4).alias("js_divergence"),
        F.sum("__has_o").cast("long").alias("n_buckets_old"),
        F.sum("__has_n").cast("long").alias("n_buckets_new"),
        F.sum(
            ((F.col("__has_n") == 1) & (F.col("__has_o") == 0)).cast("long")
        ).alias("n_gained"),
        F.sum(
            ((F.col("__has_o") == 1) & (F.col("__has_n") == 0)).cast("long")
        ).alias("n_lost"),
        F.sum("__co0").cast("long").alias("n_feats_old"),
        F.sum("__cn0").cast("long").alias("n_feats_new"),
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    salt: str = "dsir:",
    out_col: str = "dsir_logw_micro",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed n-gram features are under
    a small TARGET distribution (the domain you want more of) than under
    the raw corpus itself — ``log w(x) = Σ_feat log p_target(bucket) −
    log p_raw(bucket)`` with add-one smoothing over ``n_buckets``
    hash buckets of unigram+bigram features. Select with
    :func:`weighted_sample_k` (or a threshold) over the returned weight.

    Cross-engine determinism: a per-doc SUM of float log-ratios is
    order-dependent, so each BUCKET's log-ratio is fixed to integer
    micro-nats once (``round(·1e6)`` over ``n_buckets`` rows — the
    `unigram_surprisal` trick), and per-doc totals are exact long sums in
    ``out_col`` (divide by 1e6 for nats). Bucket ids are md5-derived
    (``hash_u60 % n_buckets``), replayable in any engine.

    Scale shape: features explode into (id, bucket) rows — the raw side
    twice (count pass + probe pass), both pure map-side expansions,
    cheaper at 100 TB than materializing the exploded features; raw
    bucket counts are ONE map-side-combinable aggregate with
    ``n_buckets``-bounded output, totals ride as 1-row broadcasts, the
    ratio relation is ``n_buckets`` rows (AQE-broadcast onto the corpus
    probe), and the per-doc total is one keyed long-sum aggregate. The
    corpus is never joined against the target directly — only against
    the tiny bucket-ratio relation.
    """
    def feats(d: DataFrame) -> DataFrame:
        return _hashed_features(d, text_col, id_col, n_buckets, salt)

    raw = feats(df)
    raw_counts = raw.groupBy("__b").agg(F.count(F.lit(1)).alias("__cr"))
    tgt_counts = (
        feats(target).groupBy("__b").agg(F.count(F.lit(1)).alias("__ct"))
    )
    raw_total = raw_counts.agg(F.sum("__cr").alias("__tr"))
    tgt_total = tgt_counts.agg(F.sum("__ct").alias("__tt"))

    denom = float(n_buckets)
    # Raw counts cover every bucket the corpus probe can hit (raw IS the
    # corpus), so a left join is total; absent target buckets smooth to
    # a count of one.
    ratio = (
        raw_counts.join(tgt_counts, "__b", "left")
        .crossJoin(F.broadcast(tgt_total))
        .crossJoin(F.broadcast(raw_total))
        .select(
            "__b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(1.0))
                        / (F.col("__tt") + F.lit(denom))
                    )
                    - F.log(
                        (F.col("__cr") + F.lit(1.0))
                        / (F.col("__tr") + F.lit(denom))
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("__micro"),
        )
    )
    per_doc = (
        raw.join(ratio, "__b")
        .groupBy("__id")
        .agg(
            F.sum("__micro").alias("__logw"),
            F.count(F.lit(1)).alias("__nf"),
        )
    )
    return (
        df.join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .drop("__id")
        .withColumn(out_col, F.coalesce(F.col("__logw"), F.lit(0)).cast("long"))
        .withColumn("n_feats", F.coalesce(F.col("__nf"), F.lit(0)).cast("long"))
        .drop("__logw", "__nf")
    )


def score_buckets(
    df: DataFrame,
    score_col: str,
    by: str | None = None,
    id_col: str = "doc_id",
    out_col: str = "bucket",
) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020): rank
    every document within its ``by`` stratum (per-language in CCNet) by
    ``score_col``, higher first, and label equal-POPULATION thirds
    "head", "middle" and "tail" — the head is the best-scoring third, the
    one CCNet keeps outright.

    NTILE over a per-stratum window (ties broken by ``id_col`` —
    deterministic, replayable in any engine). One keyed exchange; the
    window sorts each stratum on one task chain, so a single dominant
    stratum is a straggler at extreme scale.
    """
    order = [F.col(score_col).desc_nulls_last(), F.col(id_col)]
    w = Window.partitionBy(*( [by] if by else [] )).orderBy(*order)
    idx = F.ntile(3).over(w)
    labels = F.array(*[F.lit(x) for x in ("head", "middle", "tail")])
    return df.withColumn(out_col, F.element_at(labels, idx))


def stratified_sample_n(
    df: DataFrame,
    key_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Exact-size per-stratum sample: the ``n`` rows of each ``key_col``
    group with the smallest ``md5(salt || id)`` (ties by id — fully
    deterministic and engine-portable: md5 hex compares identically
    everywhere).

    Spark ≥3.5 prunes each map partition to its local top-n before the
    shuffle via the partial ``WindowGroupLimit`` it plans for
    ``row_number() ≤ n`` (SPARK-37099), so the exchange carries at most
    n × partitions rows per stratum. Output = input columns (no rank
    artifacts).
    """
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(key_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str | Column,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (A-ES /
    Efraimidis-Spirakis): each row draws a deterministic uniform
    ``u = (hash_u60(id)+1) / 2^60`` and is ranked by ``ln(u) / w`` — the
    top-``k`` ranks are exactly a weighted sample without replacement
    with inclusion odds proportional to ``w`` at each draw. The standard
    ``u^(1/w)`` key is replaced by its monotone log transform so the
    comparison is a single division (no pow), and ties (impossible for
    distinct ids, but belt-and-braces) break by id.

    Plan shape: a map-side key projection + ``orderBy(...).limit(k)``,
    which Spark executes as TakeOrderedAndProject — per-partition top-k
    heaps reduced on the driver, NO full sort, no shuffle of the
    population. Rows with null/non-positive weight are excluded (they
    have zero inclusion probability).

    Engine portability: md5-derived u is bit-identical everywhere; ln and
    the division are IEEE doubles whose cross-engine agreement is within
    1 ulp — rank flips would need two keys within ~1e-16 relative, which
    distinct-id uniforms make vanishingly unlikely (the same float-parity
    class as the repo's ROUND(x, n) oracle convention).
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (hash_u60(F.col(id_col), salt) + 1).cast("double") / F.lit(
        float(_U60_SPAN)
    )
    key = F.log(u) / w.cast("double")
    return (
        df.filter(w.isNotNull() & (w.cast("double") > 0))
        .withColumn("__wkey", key)
        .orderBy(F.col("__wkey").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__wkey")
    )


def shuffle_order(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "",
    out_col: str = "shuffle_pos",
    prefix_len: int = 2,
) -> DataFrame:
    """Deterministic global training-order shuffle: assign each row its
    exact 0-based position in the ``md5(salt:id)`` ordering — the
    reproducible corpus shuffle a training pipeline runs before sequence
    packing (``packing.pack_sequences`` consumes this as ``order_col``),
    so data order is an artifact of (corpus, salt), not of cluster
    nondeterminism, and epoch N is replayable bit-for-bit.

    A global ``row_number()`` window would sort the corpus on ONE
    partition. Instead, the md5 key's first ``prefix_len`` hex chars
    split the keyspace into 16^prefix_len ORDERED, uniformly-loaded
    blocks (lowercase-hex lexicographic order == numeric order, so every
    key in block b precedes block b+1): position = block base offset +
    rank within block. Ranks need one keyed exchange over balanced
    blocks; base offsets are a 16^prefix_len-row count aggregate,
    prefix-summed driver-side and broadcast-joined back — the packing
    module's two-phase block prefix sum applied to an order the engine
    derives rather than receives. Scale knob: each block is one window
    partition (one task), so size prefix_len such that corpus/16^p rows
    fit a task — p=4 (65k blocks) covers 100 TB; the driver state is one
    count per block either way.

    Requires unique non-null ``id_col`` (document PK) — duplicate ids
    would tie in the total order.
    """
    key = F.md5(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    out = df.withColumn("__key", key).withColumn(
        "__blk", F.substring("__key", 1, prefix_len)
    )
    w = Window.partitionBy("__blk").orderBy("__key", id_col)
    ranked = out.withColumn("__rn", F.row_number().over(w))
    counts = (
        out.groupBy("__blk").count().orderBy("__blk").collect()
    )
    base, offsets = 0, []
    for r in counts:
        offsets.append((r["__blk"], base))
        base += r["count"]
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(offsets, "__blk string, __base long")
    )
    return (
        ranked.join(off_df, "__blk")
        .withColumn(out_col, (F.col("__base") + F.col("__rn") - 1).cast("long"))
        .drop("__key", "__blk", "__rn", "__base")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    order_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """G59: per-group document cap — keep at most ``cap`` rows per
    ``group_col`` value, preferring high ``order_col`` (ties and the
    no-score case break on ascending ``id_col``, so the kept set is
    deterministic). The domain-balancing stage of a web-corpus pipeline:
    no single source may contribute more than N documents to the mix,
    however large its crawl is (C4 and RefinedWeb both apply per-domain
    caps before any token-level work).

    Plan shape — the window only touches rows that NEED ranking: one
    map-side-combinable count per group (|groups| rows, AQE-broadcast),
    a semi-join splits the corpus into under-cap groups (kept whole —
    pure map-side filter, NO window, typically the long tail that is
    most of the corpus) and over-cap groups, and only the latter pay the
    per-group row_number sort. At 100 TB with a zipfy domain
    distribution the over-cap slice is a few percent of rows; a single
    monster group still serializes its own rank (inherent to an exact
    per-group top-N) — cap the damage upstream with coarser groups or
    pre-aggregate per (group, shard) if one domain exceeds a task.

    Output: input rows (columns unchanged) — at most ``cap`` per group;
    NULL groups count as one group (capped like any other).
    """
    if cap < 1:
        raise ValueError("cap_per_group: cap must be >= 1")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    over = counts.filter(F.col("__n") > cap).select(
        F.col(group_col).alias("__g")
    )
    # null-SAFE equality: a NULL group is a group like any other and must
    # not slip past the cap through null-unsafe join semantics
    cond = F.col(group_col).eqNullSafe(F.col("__g"))
    under_rows = df.join(over, cond, "left_anti")
    order = (
        [F.col(order_col).desc_nulls_last(), F.col(id_col).asc()]
        if order_col is not None
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy(group_col).orderBy(*order)
    over_rows = (
        df.join(over, cond, "left_semi")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )
    return under_rows.unionByName(over_rows)


def mixture_allocation(
    df: DataFrame,
    budget: int,
    domain_col: str = "domain",
    avail_col: str = "avail_tokens",
    weight_col: str = "weight",
    num_blocks: int = 64,
) -> DataFrame:
    """G73: exact water-filling token allocation — split a token
    ``budget`` across domains in proportion to target ``weight_col``,
    capping every domain at its ``avail_col`` and re-flowing the
    undrawable remainder to the domains that still have supply.

    This is the planning step between the G66 domain report (how many
    tokens each domain HAS) and the G48 budget selector / G30 temperature
    mix (which documents to TAKE): a target mixture says "40% web, 40%
    code, 20% books", but a domain short of its share can't donate tokens
    it doesn't have — naive proportional rates either under-fill the
    budget or silently over-sample the short domain. Water-filling is the
    unique allocation ``a_d = min(avail_d, r·w_d)`` with the single rate
    ``r`` chosen so ``Σ a_d`` reaches the budget (all-avail when the
    corpus can't reach it).

    Exact and engine-replayable in ONE pass over the sorted ratios, no
    iteration: sort domains by ``avail/weight`` ascending (the order in
    which they saturate as ``r`` grows); with exclusive running sums
    ``(cumA, cumW)`` in that order, domain ``d`` saturates iff
    ``avail_d · (W − cumW_d) ≤ w_d · (B − cumA_d)`` — every comparison in
    64-bit INTEGER arithmetic, so the saturated set is bit-identical in
    every engine. Unsaturated domains get ``w_d · RB div RW`` (integer
    floor; ``RB, RW`` = budget and weight remaining after the saturated
    set), leaving a documented shortfall < #unsaturated tokens.

    Scale shape: the running sums use the same two-phase block prefix as
    :func:`select_to_token_budget` — ``repartitionByRange`` on the
    saturation order, block-local windows, and an unpartitioned window
    over the ONE-ROW-PER-BLOCK totals only — so no task ever sorts more
    than ``|domains| / num_blocks`` rows and the |domains|-row relation
    (~10⁷ registrable domains at crawl scale) never funnels through one
    task. Totals and the saturated-set remainder are 1-row broadcasts.

    Caveats: ``avail·W`` and ``w·B`` must stay under 2⁶³ — at ppm-style
    integer weights (Σw ≤ 10⁶·|domains|) this holds through ~10¹² tokens
    per domain; rescale weights down if Σw is astronomical. Rows with
    NULL or non-positive weight take no part in the fill and allocate 0
    (a zero-weight domain is "don't sample", not "sample freely"); NULL
    avail counts as 0.

    Returns one row per input domain: ``(domain_col, avail_tokens,
    weight, saturated, allocated, rate)`` with ``rate`` =
    ``allocated/avail`` rounded to 6 (NULL when ``avail`` is 0).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    dom = F.col(domain_col)
    avail = F.coalesce(F.col(avail_col).cast("long"), F.lit(0))
    w = F.col(weight_col).cast("long")

    base = df.select(
        dom.alias(domain_col),
        avail.alias("__avail"),
        w.alias("__w"),
    )
    live = base.filter(F.col("__w") > 0)
    # NULL weight must land here too: `~(NULL > 0)` is NULL (dropped by
    # filter), so spell the complement null-safely
    dead = base.filter(F.col("__w").isNull() | (F.col("__w") <= 0))

    ratio = (F.col("__avail") / F.col("__w")).alias("__ratio")
    order = [F.col("__ratio").asc(), F.col(domain_col).asc()]
    blocks = live.select("*", ratio).repartitionByRange(
        num_blocks, *order
    ).withColumn("__blk", F.spark_partition_id())
    w_local = (
        Window.partitionBy("__blk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = blocks.select(
        "*",
        F.coalesce(F.sum("__avail").over(w_local), F.lit(0)).alias("__la"),
        F.coalesce(F.sum("__w").over(w_local), F.lit(0)).alias("__lw"),
    )
    btot = blocks.groupBy("__blk").agg(
        F.sum("__avail").alias("__ta"), F.sum("__w").alias("__tw")
    )
    w_base = (
        Window.partitionBy()
        .orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # over <= num_blocks rows, never the domain relation
    bases = btot.select(
        F.col("__blk").alias("__bblk"),
        F.coalesce(F.sum("__ta").over(w_base), F.lit(0)).alias("__ba"),
        F.coalesce(F.sum("__tw").over(w_base), F.lit(0)).alias("__bw"),
    )
    totals = btot.agg(
        F.sum("__ta").alias("__tota"), F.sum("__tw").alias("__totw")
    )
    cums = (
        local.join(F.broadcast(bases), local["__blk"] == bases["__bblk"])
        .crossJoin(F.broadcast(totals))
        .select(
            domain_col,
            "__avail",
            "__w",
            (F.col("__ba") + F.col("__la")).alias("__cuma"),
            (F.col("__bw") + F.col("__lw")).alias("__cumw"),
            "__tota",
            "__totw",
        )
    )
    sat = cums.withColumn(
        "__sat",
        F.col("__avail") * (F.col("__totw") - F.col("__cumw"))
        <= F.col("__w") * (F.lit(budget) - F.col("__cuma")),
    )
    rem = sat.agg(
        (
            F.lit(budget)
            - F.coalesce(
                F.sum(F.when(F.col("__sat"), F.col("__avail"))), F.lit(0)
            )
        ).alias("__rb"),
        (
            F.coalesce(F.first("__totw"), F.lit(0))
            - F.coalesce(
                F.sum(F.when(F.col("__sat"), F.col("__w"))), F.lit(0)
            )
        ).alias("__rw"),
    )
    filled = (
        sat.crossJoin(F.broadcast(rem))
        .select(
            domain_col,
            F.col("__avail").alias(avail_col),
            F.col("__w").alias(weight_col),
            F.col("__sat").alias("saturated"),
            F.when(F.col("__sat"), F.col("__avail"))
            .otherwise(F.expr("(__w * __rb) div __rw").cast("long"))
            .alias("allocated"),
        )
    )
    empty = dead.select(
        domain_col,
        F.col("__avail").alias(avail_col),
        F.col("__w").alias(weight_col),
        F.lit(False).alias("saturated"),
        F.lit(0).cast("long").alias("allocated"),
    )
    return filled.unionByName(empty).withColumn(
        "rate",
        F.when(
            F.col(avail_col) > 0,
            F.round(F.col("allocated") / F.col(avail_col), 6),
        ),
    )
