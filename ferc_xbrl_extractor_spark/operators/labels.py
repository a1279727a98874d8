"""Crowd-label aggregation (G81): consolidate many noisy annotations per
item into one training label.

Every large supervised/RLHF data pipeline ends in this reduction: N
annotators (human raters or LLM judges) each emit a label per item, and
the corpus needs ONE label per item plus an agreement signal for
quality filtering. Two estimators:

- **majority vote** — per-item plurality with a deterministic tie-break
  (highest vote count, then label ascending), plus the agreement ratio
  the downstream quality screen thresholds on.
- **reliability-weighted vote** (one Dawid & Skene (1979) EM half-step):
  score each annotator's accuracy against the round-1 majority, then
  re-vote with annotators weighted by that accuracy. One refinement step
  captures most of the EM fixpoint's gain at a fraction of the cost, and
  — unlike the full iterate-to-convergence EM — stays exactly
  SQL-replayable for the oracle.

Weights ride as exact integers (``acc_micro = (n_agree * 1e6) div
n_total + 1``, the G44 micro-gain trick): the weighted vote is an
order-free long sum, bitwise-reproducible across engines and
partitionings. The ``+ 1`` keeps every annotator's vote positive, so an
item annotated only by raters with zero round-1 accuracy still gets a
deterministic label instead of a degenerate all-zero vote.

Scale shape at 100 TB of annotations:
- the (item, label) vote count is ONE map-side-combinable aggregate;
- per-item totals/winners ride windows over that counts relation
  (|items| × |labels| rows — a small multiple of |items|, never the
  annotation volume);
- annotator accuracies are an (annotator)-keyed aggregate reduced to
  |annotators| rows and re-attached by broadcast — annotator pools are
  thousands of raters or a handful of judge models, never corpus-sized;
- the majority relation joins back to annotations on the item key — the
  one annotation-sized exchange the refinement step costs.

No reference counterpart (gap operator; the reference has no labeling
surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ACC_MICRO = 10**6


def _vote_counts(
    ann: DataFrame, item_col: str, label_col: str, weight_expr
) -> DataFrame:
    return ann.groupBy(item_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_votes"),
        F.sum(weight_expr).cast("long").alias("w_micro"),
    )


def _winner(counts: DataFrame, item_col: str, label_col: str, by: str):
    w = Window.partitionBy(item_col).orderBy(
        F.col(by).desc(), F.col(label_col).asc()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def aggregate_labels(
    annotations: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
    reweight: bool = False,
) -> DataFrame:
    """Reduce ``(item, annotator, label)`` annotations to one row per
    item:

    ``(item_col, label, n_votes, n_annotations, n_labels, agreement)``
    — majority label (ties → label ascending), its vote count, the
    item's total annotations and distinct labels, and ``agreement =
    n_votes / n_annotations`` rounded to 4dp.

    With ``reweight=True``, two more columns: ``label_weighted`` (the
    reliability-weighted winner — see module docstring) and
    ``w_micro`` (its exact integer micro-unit weighted vote).

    NULL labels are dropped up front (an annotator abstention, not a
    vote); items whose every annotation is NULL disappear from the
    output.
    """
    ann = annotations.select(item_col, annotator_col, label_col).filter(
        F.col(label_col).isNotNull()
    )
    if reweight:
        # ONE raw shuffle total (guide §2.4): the per-row form shuffled
        # the annotation volume three times (counts partial-agg, raw
        # ann ⋈ maj for the accuracy score, weighted-counts partial-agg
        # — 4 source scans / 8 Exchanges in the executed sf0.1 plan).
        # Everything the refinement reads is derivable from one
        # (item, annotator, label) → n base aggregate: n_votes = Σn,
        # accuracy = Σ n·[label=maj] div Σn, weighted vote = Σ n·w.
        # The explicit repartition(item) makes the base aggregate's
        # clustering the plan's only annotation-sized exchange — every
        # downstream groupBy/window/join keys on item or an
        # item-superset, so HashPartitioning(item) satisfies them all
        # (the fact_table single-shuffle pattern); only the
        # |annotators|-row accuracy aggregate pays its own tiny one.
        # `base` feeds three subtrees (counts, scored, wcounts) with no
        # lineage cut, so sharing its shuffle relies on runtime exchange
        # reuse. Measured on 200k synthetic annotations (8 shuffle
        # partitions): the executed plan holds TWO real repartition(item)
        # exchanges plus two ReusedExchange, so reuse heals only part of
        # it. No A/B against the lazy localCheckpoint its siblings
        # (annotator_agreement, bt_scores) use has been run.
        base = (
            ann.repartition(F.col(item_col))
            .groupBy(item_col, annotator_col, label_col)
            .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        )
        counts = base.groupBy(item_col, label_col).agg(
            F.sum("__n").cast("long").alias("n_votes")
        )
    else:
        counts = _vote_counts(ann, item_col, label_col, F.lit(0).cast("long"))
    w_item = Window.partitionBy(item_col)
    counts = counts.select(
        item_col,
        label_col,
        "n_votes",
        F.sum("n_votes").over(w_item).cast("long").alias("n_annotations"),
        F.count(F.lit(1)).over(w_item).cast("long").alias("n_labels"),
    )
    maj = _winner(counts, item_col, label_col, "n_votes").select(
        item_col,
        F.col(label_col).alias("label"),
        "n_votes",
        "n_annotations",
        "n_labels",
        F.round(
            F.col("n_votes") / F.col("n_annotations").cast("double"), 4
        ).alias("agreement"),
    )
    if not reweight:
        return maj

    # Round-1 accuracy per annotator, scored against the majority —
    # |annotators| rows, broadcast back onto the base aggregate. Exact
    # integers identical to the per-annotation-row form: each base row
    # contributes its multiplicity __n to both sum and count.
    scored = base.join(
        maj.select(item_col, F.col("label").alias("__maj")), item_col
    )
    # integer floor division, not float: exact on both engines
    acc = scored.groupBy(annotator_col).agg(
        F.expr(
            f"(sum(cast({label_col} = __maj as long) * __n) * {ACC_MICRO}L) "
            f"div sum(__n) + 1L"
        ).alias("__w")
    )
    wcounts = (
        base.join(F.broadcast(acc), annotator_col)
        .groupBy(item_col, label_col)
        .agg(
            F.sum("__n").cast("long").alias("n_votes"),
            F.sum(F.expr("__n * __w")).cast("long").alias("w_micro"),
        )
    )
    wwin = _winner(wcounts, item_col, label_col, "w_micro").select(
        item_col,
        F.col(label_col).alias("label_weighted"),
        "w_micro",
    )
    return maj.join(wwin, item_col)


def annotator_agreement(
    annotations: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
    min_items: int = 1,
) -> DataFrame:
    """G95: pairwise inter-annotator agreement — Cohen's kappa (1960)
    for every annotator pair, exact-integer.

    The quality gate BEFORE :func:`aggregate_labels` consumes a crowd:
    a pair of raters with kappa near 0 agree no better than chance
    (their "agreement" is marginal-label imbalance, not shared
    understanding), and a rater whose kappa against everyone is low is
    noise the weighted vote should not see. Output per pair sharing
    ≥ ``min_items`` co-labeled items:

      (annotator_a, annotator_b, n_items, n_agree, kappa_micro)

    kappa = (p_o − p_e) / (1 − p_e) over the pair's CO-labeled items,
    p_e from each side's label marginals on that same item subset. In
    integers: with N co-labeled items, A agreements, and marginal
    counts n_a(k), n_b(k),

      kappa_micro = 1e6 · (A·N − Σ_k n_a(k)·n_b(k))
                        div (N² − Σ_k n_a(k)·n_b(k))

    — one exact floor division at the end, bit-replayable by the SQL
    oracle. NULL when the denominator is 0 (p_e = 1: both raters used
    one identical label throughout — chance explains everything, kappa
    is undefined by definition). The numerator and denominator ride
    decimal(38,0), not long (r9 ADVICE: the long form's 1e6·N² term
    overflowed int64 — a hard ANSI error — once a pair co-labeled
    ~3·10⁶ items, which real dual-annotation batches reach): exact to
    ~10¹⁶ co-labeled items per pair, and both engines truncate the
    decimal ``div`` toward zero so negative kappas still replay.

    NULL labels drop as abstentions (the :func:`aggregate_labels`
    contract); duplicate (item, annotator) votes collapse to the
    MINIMUM label first — one vote per rater per item, deterministic.

    Scale shape: one (item, annotator) aggregate over the annotation
    volume, ONE item-keyed self-join producing |items|·d² rows for
    per-item annotator-degree d (bounded: d = raters per item, 3-5 in
    practice, never the pool size), then aggregates on the
    (annotator_a, annotator_b [, label]) keys — |pairs|·|labels| rows.
    The annotation relation is never shuffled twice.
    """
    one_vote = (
        annotations.filter(F.col(label_col).isNotNull())
        .groupBy(item_col, annotator_col)
        .agg(F.min(label_col).alias("__l"))
    )
    a = one_vote.select(
        F.col(item_col).alias("__i"),
        F.col(annotator_col).alias("annotator_a"),
        F.col("__l").alias("__la"),
    )
    b = one_vote.select(
        F.col(item_col).alias("__i"),
        F.col(annotator_col).alias("annotator_b"),
        F.col("__l").alias("__lb"),
    )
    joint = (
        a.join(b, "__i")
        .filter(F.col("annotator_a") < F.col("annotator_b"))
        .groupBy("annotator_a", "annotator_b", "__la", "__lb")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        # three consumers below (totals, both marginals) — one lazy cut
        # keeps the |items|·d² self-join from re-running per consumer
        # (measured: 44 Exchanges / 6 source scans in the uncut plan);
        # the checkpointed relation is |pairs|·|labels|² bounded
        .localCheckpoint(eager=False)
    )
    # pair totals + agreements, and the Σ_k n_a(k)·n_b(k) chance term
    # from the two marginals of the SAME joint relation
    keys = ["annotator_a", "annotator_b"]
    totals = joint.groupBy(*keys).agg(
        F.sum("__c").cast("long").alias("n_items"),
        F.sum(F.when(F.col("__la") == F.col("__lb"), F.col("__c")).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    ma = joint.groupBy(*keys, "__la").agg(
        F.sum("__c").cast("long").alias("__na")
    )
    mb = joint.groupBy(*keys, "__lb").agg(
        F.sum("__c").cast("long").alias("__nb")
    ).withColumnRenamed("__lb", "__la")
    chance = (
        ma.join(mb, keys + ["__la"])
        .groupBy(*keys)
        .agg(F.sum(F.col("__na") * F.col("__nb")).cast("long").alias("__pe"))
    )
    d38 = "decimal(38,0)"
    pe0 = F.coalesce(F.col("__pe"), F.lit(0)).cast(d38)
    n_d = F.col("n_items").cast(d38)
    den = n_d * n_d - pe0
    num = F.lit(1_000_000).cast(d38) * (
        F.col("n_agree").cast(d38) * n_d - pe0
    )
    # integer division truncating toward zero on BOTH engines (DuckDB
    # //, Spark div — incl. decimal operands: -7 div 2 = -3 on each),
    # so negative kappas (worse-than-chance raters) replay exactly too
    kappa = F.when(den > 0, num).otherwise(F.lit(None).cast(d38))
    return (
        totals.join(chance, keys, "left")
        .filter(F.col("n_items") >= min_items)
        .withColumn("__num", kappa)
        .withColumn("__den", den)
        .select(
            *keys,
            "n_items",
            "n_agree",
            F.expr("__num div __den").cast("long").alias("kappa_micro"),
        )
    )


def fleiss_kappa(
    annotations: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
) -> DataFrame:
    """G95b: Fleiss' kappa (1971) — chance-corrected agreement for the
    WHOLE rater pool at once (Cohen's kappa is pairwise;
    :func:`annotator_agreement` yields a pair matrix, this one number
    summarizes the crowd). ONE output row:

      (n_items, n_raters, n_dropped_items, po_micro, pe_micro,
       kappa_micro)

    Fleiss requires a constant number of ratings per item; the rating
    count is DERIVED as the modal per-item count among items with ≥ 2
    ratings (ties break toward more raters), and items with any other
    count are dropped AND counted in ``n_dropped_items`` — a visible
    signal, never a silent narrowing (the r8 hygiene rule). Raises if
    no item has ≥ 2 ratings.

    Exact integers end to end, one division per reported metric:
      P̄o  = (Σ_i Σ_c n_ic² − N·n) / (N·n·(n−1))
      P̄e  = Σ_c T_c² / (N·n)²           with T_c = Σ_i n_ic
      κ    = (P̄o − P̄e) / (1 − P̄e)
           = (ΣΣn_ic²·Nn − N²n² − T²·(n−1)/… )  — computed with the Nn
      common factor cancelled: κ_num = (S2 − N·n)·N·n − T2·(n−1),
      κ_den = (n−1)·((N·n)² − T2), where S2 = Σ_i Σ_c n_ic²,
      T2 = Σ_c T_c². Exactness: the corpus-sized work reduces to a
      1-row aggregate (S2, N, T2); the final products — which overflow
      int64 already at ~270k items × 5 raters if computed in-plan —
      are evaluated in PYTHON BIGINTS on the driver (bounded by
      construction: one row), matching the oracle's HUGEINT (int128)
      arithmetic exactly at any corpus size. κ_micro is None when
      κ_den = 0 (P̄e = 1: a single label everywhere, agreement is
      indistinguishable from chance).

    NULL labels drop as abstentions and duplicate (item, annotator)
    votes collapse to the MINIMUM label, exactly as in
    :func:`annotator_agreement`. Scale shape: one (item, annotator)
    aggregate over the annotation volume, one (item, label) aggregate,
    then everything is |items|- or |labels|-sized; the modal-count
    probe is a bounded collect over distinct rating counts.
    """
    one_vote = (
        annotations.filter(F.col(label_col).isNotNull())
        .groupBy(item_col, annotator_col)
        .agg(F.min(label_col).alias("__l"))
        # consumed by the modal-count probe (a separate driver action)
        # AND the n_ic aggregate — the lazy cut materializes the vote
        # relation during the probe job instead of re-aggregating the
        # annotation volume once per consumer
        .localCheckpoint(eager=False)
    )
    n_of_item = one_vote.groupBy(item_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    # ONE bounded probe (<= |distinct rating counts| rows) serves the
    # modal pick AND the dropped-item accounting — the first cut ran
    # two extra count() jobs for n_dropped, ~1s of pure job floor
    hist = {
        int(r["__n"]): int(r["__c"])
        for r in n_of_item.groupBy("__n")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    }
    eligible = {k: v for k, v in hist.items() if k >= 2}
    if not eligible:
        raise ValueError(
            "fleiss_kappa needs at least one item with >= 2 ratings"
        )
    n = max(eligible, key=lambda k: (eligible[k], k))
    kept = n_of_item.filter(F.col("__n") == n).select(item_col)
    n_dropped = sum(v for k, v in hist.items() if k != n)
    nic = (
        one_vote.join(kept, item_col)
        .groupBy(item_col, "__l")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        # two consumers (S2/N aggregate and the T_c² aggregate) under
        # one crossJoin-collect — cut so the join runs once
        .localCheckpoint(eager=False)
    )
    s2_n = nic.agg(
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("s2"),
        F.count_distinct(F.col(item_col)).cast("long").alias("n_items"),
    )
    t2 = (
        nic.groupBy("__l")
        .agg(F.sum("__c").cast("long").alias("__t"))
        .agg(F.sum(F.col("__t") * F.col("__t")).cast("long").alias("t2"))
    )
    row = s2_n.crossJoin(t2).collect()[0]  # bounded: ONE row
    s2, n_items, t2v = int(row["s2"]), int(row["n_items"]), int(row["t2"])
    # Python bigints from here — the in-plan form overflowed int64 at
    # ~270k items x 5 raters (1e6 * S2 * N * n); bigint == the oracle's
    # HUGEINT at any size, and // on nonneg/neg operands is matched by
    # explicit truncation toward zero below
    def _tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    nn = n_items * n
    po_num, po_den = s2 - nn, nn * (n - 1)
    pe_den = nn * nn
    k_num = po_num * nn - t2v * (n - 1)
    k_den = (n - 1) * (pe_den - t2v)
    out_row = {
        "n_items": n_items,
        "n_raters": n,
        "n_dropped_items": int(n_dropped),
        "po_micro": _tdiv(1_000_000 * po_num, po_den),
        "pe_micro": _tdiv(1_000_000 * t2v, pe_den),
        "kappa_micro": (
            _tdiv(1_000_000 * k_num, k_den) if k_den != 0 else None
        ),
    }
    spark = annotations.sparkSession
    return spark.createDataFrame(
        [tuple(out_row.values())],
        "n_items long, n_raters long, n_dropped_items long, "
        "po_micro long, pe_micro long, kappa_micro long",
    )


def _dfloor_div(a: Column, b: Column | int) -> Column:
    """EXACT floor division on non-negative decimal(38,0) operands —
    never Spark's ``div``: IntegralDivide always returns BIGINT and
    SILENTLY wraps when the true quotient exceeds int64 (verified:
    ``cast(5e20 as decimal(38,0)) div 7`` returns garbage, no ANSI
    error). ``(a - a % b) / b`` stays decimal: remainder and subtract
    are exact, and the division's true quotient is then integral, so
    the scale-6 decimal result is exact whenever the quotient fits 32
    digits — the oracle replays it as HUGEINT ``//``."""
    if not isinstance(b, Column):
        b = F.lit(b).cast("decimal(38,0)")
    return ((a - a % b) / b).cast("decimal(38,0)")


def bt_scores(
    comparisons: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    tie_col: str | None = None,
    iters: int = 3,
    unit: int = 1_000_000,
    prior: int = 1,
) -> DataFrame:
    """G98: Bradley-Terry preference scores from pairwise comparisons —
    the reduction RLHF/DPO data prep runs over (chosen, rejected) pairs
    to rank responses, models, or prompts by human preference
    (Bradley & Terry 1952; minorization-maximization form Hunter 2004,
    Ann. Stat. 32(1)). The labels family's G81 aggregates categorical
    votes and G95/G95b measure agreement; this consumes the third crowd
    relation — "A beats B" — which has no item-level ground truth to
    vote on, only a global strength ordering to infer.

    MM recurrence, ``iters`` fixed rounds (fixed so the oracle can
    unroll it — the G65/G37 pattern):

      s_i ← (W_i + p) / ( Σ_j n_ij / (s_i + s_j)  +  2p / (s_i + 1) )

    in DOUBLED win-units so ties stay integral: a decisive comparison
    pays its winner 2 units, a tie pays each side 1, and every
    comparison adds 2 units to the pair total n2_ij. ``prior`` adds, in
    those units, ``prior`` virtual wins AND ``prior`` virtual losses
    against a frozen anchor opponent at score ``unit`` — the standard
    regularizer that (a) keeps an undefeated player's score finite
    (pure BT sends it to +∞), (b) anchors the scale (raw BT is
    scale-invariant; here "average" ≈ ``unit``), and (c) keeps every
    denominator positive. Scores are additionally clamped to
    [1, unit²] micro — a ±10⁶× dynamic range around the anchor; a
    score at either wall means "the data only bounds this player's
    strength, it does not estimate it".

    Semantics: NULL winner or loser = abstention, dropped;
    winner == loser rows are degenerate and dropped; ``tie_col`` NULL
    reads as "not a tie" (absent column = no ties). Output
    (player, n_comparisons, bt_micro), bt_micro = s·1e6/unit rounded
    down — higher is stronger.

    Integer exactness: scores ride decimal(38,0) end-to-end with
    :func:`_dfloor_div` (see its docstring for why ``div`` is unsafe
    here), so every round is bit-replayable by :func:`bt_oracle_sql`'s
    HUGEINT unroll — exact while quotients fit 32 digits, i.e. to
    ~10¹⁹ comparisons per pair even with both scores collapsed to the
    clamp floor.

    Scale shape: one groupBy over the comparison relation builds the
    directed pair stats (|pairs| rows — players × avg-degree, not
    players²); per round, two keyed joins of pairs onto the O(|players|)
    score relation and one map-side-combinable groupBy(i). Round 1 is
    join-free (all scores start at ``unit``: T₁ = (N2_i div 2 + 2p)·unit
    in closed form). The comparison relation itself is touched once:
    the pair relation is lazily checkpointed (every round and the player
    marginals consume it), and the score relation is cut every round —
    each round reads it twice, so uncut lineage doubles per round.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if prior < 1:
        raise ValueError(f"prior must be >= 1 (it anchors the scale), got {prior}")
    d38 = "decimal(38,0)"
    u2 = unit * unit
    cap = unit * unit  # [1, unit^2] micro dynamic range
    tie = (
        F.coalesce(F.col(tie_col).cast("boolean"), F.lit(False))
        if tie_col is not None
        else F.lit(False)
    )
    c = comparisons.filter(
        F.col(winner_col).isNotNull()
        & F.col(loser_col).isNotNull()
        & (F.col(winner_col) != F.col(loser_col))
    )
    d = c.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(winner_col).alias("__i"),
                    F.col(loser_col).alias("__j"),
                    F.when(tie, F.lit(1)).otherwise(F.lit(2)).alias("__w2"),
                ),
                F.struct(
                    F.col(loser_col).alias("__i"),
                    F.col(winner_col).alias("__j"),
                    F.when(tie, F.lit(1)).otherwise(F.lit(0)).alias("__w2"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    # The pair relation is consumed by every MM round AND by the player
    # marginals — without a lineage cut each consumer re-derives the
    # explode + groupBy over the full comparison relation, and the score
    # recurrence then COMPOUNDS those subtrees exponentially (measured:
    # the 3-round plan carried 86 Exchanges / 11 scans of the source; one
    # lazy cut makes every round linear over |pairs| rows). Results are
    # unchanged — checkpoint only truncates lineage.
    pairs = d.groupBy("__i", "__j").agg(
        F.sum("__w2").cast(d38).alias("__w2"),
        (F.count(F.lit(1)) * 2).cast(d38).alias("__n2"),
    ).localCheckpoint(eager=False)
    players = pairs.groupBy("__i").agg(
        F.sum("__w2").cast(d38).alias("__W2"),
        F.sum("__n2").cast(d38).alias("__N2"),
    )
    # round 1, closed form (every score is the anchor `unit`):
    #   T1 = (N2 div 2 + 2p)·unit  →  s1 = (W2+2p)·unit div (N2 div 2 + 2p)
    w2p = F.col("__W2") + F.lit(2 * prior)
    t1 = _dfloor_div(F.col("__N2"), 2) + F.lit(2 * prior)
    s1 = F.greatest(
        F.least(
            _dfloor_div(w2p * F.lit(unit), t1),
            F.lit(cap).cast(d38),
        ),
        F.lit(1).cast(d38),
    )
    scores = players.select("__i", s1.alias("__s"))
    for t in range(2, iters + 1):
        si = scores.select(F.col("__i"), F.col("__s").alias("__si"))
        sj = scores.select(
            F.col("__i").alias("__j"), F.col("__s").alias("__sj")
        )
        terms = (
            pairs.join(si, "__i")
            .join(sj, "__j")
            .select(
                "__i",
                "__si",
                _dfloor_div(
                    F.col("__n2") * F.lit(u2).cast(d38),
                    F.col("__si") + F.col("__sj"),
                ).alias("__t"),
            )
        )
        # __si is constant within the group — min() reads it back
        # without a second join onto the score relation
        tt = terms.groupBy("__i").agg(
            F.sum("__t").alias("__T"), F.min("__si").alias("__si")
        )
        virt = _dfloor_div(
            F.lit(4 * prior * u2).cast(d38),
            F.col("__si") + F.lit(unit),
        )
        s_next = F.greatest(
            F.least(
                _dfloor_div(
                    (F.col("__W2") + F.lit(2 * prior))
                    * F.lit(u2).cast(d38),
                    F.col("__T") + virt,
                ),
                F.lit(cap).cast(d38),
            ),
            F.lit(1).cast(d38),
        )
        scores = players.join(tt, "__i").select("__i", s_next.alias("__s"))
        if t < iters:
            # cut EVERY round, not every 8: the next round consumes this
            # relation twice (si and sj), so an uncut lineage doubles per
            # round — the O(|players|) checkpoint is far cheaper than the
            # 2^rounds subtree blowup it prevents
            scores = scores.localCheckpoint(eager=False)
    return players.join(scores, "__i").select(
        F.col("__i").alias("player"),
        _dfloor_div(F.col("__N2"), 2).cast("long").alias("n_comparisons"),
        F.col("__s").cast("long").alias("bt_micro"),
    )


def bt_oracle_sql(
    comparisons_sql: str,
    iters: int = 3,
    unit: int = 1_000_000,
    prior: int = 1,
) -> str:
    """ANSI-SQL replay of :func:`bt_scores` with the MM rounds UNROLLED
    (the :func:`~..graph.pagerank_oracle_sql` pattern). HUGEINT
    arithmetic and ``//`` mirror the decimal(38,0) + exact-floor-div
    plan bit for bit; all operands are non-negative so truncation ==
    floor on both engines. ``comparisons_sql`` must yield columns
    (winner, loser, tie)."""
    u2 = unit * unit
    cap = unit * unit
    p2, p4u2 = 2 * prior, 4 * prior * u2
    h = "CAST({} AS HUGEINT)"
    sql = [
        f"c AS (SELECT winner, loser, COALESCE(tie, FALSE) AS tie "
        f"FROM ({comparisons_sql}) WHERE winner IS NOT NULL AND "
        f"loser IS NOT NULL AND winner <> loser)",
        "d AS (SELECT winner AS i, loser AS j, "
        "CASE WHEN tie THEN 1 ELSE 2 END AS w2 FROM c "
        "UNION ALL SELECT loser, winner, "
        "CASE WHEN tie THEN 1 ELSE 0 END FROM c)",
        f"pairs AS (SELECT i, j, {h.format('SUM(w2)')} AS w2, "
        f"{h.format('2 * COUNT(*)')} AS n2 FROM d GROUP BY i, j)",
        "players AS (SELECT i, SUM(w2) AS W2, SUM(n2) AS N2 "
        "FROM pairs GROUP BY i)",
        f"s1 AS (SELECT i, GREATEST(LEAST("
        f"((W2 + {p2}) * {unit}) // ((N2 // 2) + {p2}), "
        f"{h.format(cap)}), {h.format(1)}) AS s FROM players)",
    ]
    prev = "s1"
    for t in range(2, iters + 1):
        sql.append(
            f"s{t} AS (SELECT p.i, GREATEST(LEAST("
            f"((pl.W2 + {p2}) * {h.format(u2)}) // ("
            f"SUM((p.n2 * {h.format(u2)}) // (si.s + sj.s)) + "
            f"(({h.format(p4u2)}) // (si.s + {unit}))), "
            f"{h.format(cap)}), {h.format(1)}) AS s "
            f"FROM pairs p JOIN {prev} si ON p.i = si.i "
            f"JOIN {prev} sj ON p.j = sj.i "
            f"JOIN players pl ON p.i = pl.i "
            f"GROUP BY p.i, pl.W2, si.s)"
        )
        prev = f"s{t}"
    return (
        "WITH " + ",\n".join(sql)
        + f"\nSELECT pl.i AS player, CAST(pl.N2 // 2 AS BIGINT) AS "
        f"n_comparisons, CAST({prev}.s AS BIGINT) AS bt_micro "
        f"FROM players pl JOIN {prev} ON pl.i = {prev}.i"
    )
