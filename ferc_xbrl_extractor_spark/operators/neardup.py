"""Near-duplicate detection at corpus scale (G2): n-gram Jaccard,
MinHash + LSH, and SimHash.

Design for 100 TB:

- **Never all-pairs.** Candidate generation is always an equi-join on a
  bucket key (a shared shingle, an LSH band hash, or a SimHash prefix), so
  the shuffle is keyed and AQE can split skewed buckets. The only O(n²)
  work is *within* a bucket, and hot buckets are capped
  (``max_shingle_df``).
- **Portable hashing.** MinHash permutations are
  ``min(md5(i || ':' || shingle))`` — md5 hex strings compare
  lexicographically the same in every engine, so the DuckDB oracle can
  reproduce signatures *exactly*, making this one of the few LSH
  implementations with an exact cross-engine correctness check.
- **No Python in the loop.** Shingling, signatures, and band hashing are
  Catalyst expressions (``transform``/``aggregate``/``md5``); candidate
  verification is a join + aggregate.
- **One clustering entry point.** ``connected_components`` turns a pair
  relation into duplicate groups for every consumer (``attach_clusters``,
  ``dedup_by_pairs*``); the graph, not the caller, decides between
  min-label propagation and star contraction.

A pyspark.ml variant (``HashingTF + MinHashLSH.approxSimilarityJoin``) is
provided for parity with the stock MLlib pattern; it is seed-deterministic
but not oracle-reproducible, so tests pin it structurally (no cartesian in
the plan) rather than by value.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators.sqltext import bq, raw_col
from ferc_xbrl_extractor_spark.operators.text import tokens


def shingles_from_tokens(toks_col: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *materialized* token-array
    column. The column MUST be a real attribute (``.alias`` it in a prior
    projection), never an inline ``tokens(text)`` expression: Catalyst
    substitutes inline aliases into the higher-order-function lambdas, so
    the text would be re-split once per shingle position — O(tokens²) per
    document (measured 32 CPU-seconds for 5k docs vs under one)."""
    toks = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text_col: str | Column = "text", n: int = 3) -> Column:
    """Inline-expression form of ``shingles_from_tokens`` — convenient for
    one-off use, but quadratic when evaluated (see that docstring); plans
    should go through ``doc_shingle_arrays``/``shingle_table``."""
    return shingles_from_tokens(tokens(text_col), n)


def doc_shingle_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle-array) relation — the map-side form of the inverted
    index. Sizes are ``F.size`` and pair verification is
    ``array_intersect``, so neither needs an aggregate over the exploded
    table.

    Built as TWO stacked projections — tokens materialized first, shingles
    from the token attribute — so the split runs once per document.
    CollapseProject leaves this alone (the token alias is referenced more
    than once), preserving the linear cost."""
    toked = df.select(raw_col(id_col), tokens(text_col).alias("__toks"))
    return toked.select(
        raw_col(id_col), shingles_from_tokens("__toks", n).alias("__sh")
    )


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Long (id, shingle) relation — the inverted-index input.

    ``explode_outer`` + post-filter, NOT plain ``explode``: the inner
    explode makes Catalyst synthesize a ``size(arr) > 0`` prune filter
    that predicate-pushdown then substitutes all the way into the parquet
    scan — evaluating the whole shingle expression per document below the
    parallelizing exchange, on however few tasks the file layout allows.
    The outer variant generates no such filter; empty docs surface one
    null-shingle row dropped right here, above the Generate."""
    return (
        doc_shingle_arrays(df, id_col, text_col, n)
        .select(raw_col(id_col), F.explode_outer("__sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def _verify_candidates(
    cands: DataFrame,
    docs_arr: DataFrame,
    id_col: str,
    threshold: float,
    docs_arr_b: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair set against per-doc
    shingle arrays: n_common = |array_intersect|, sizes = |array| — one
    expression per pair, no groupBy, no sizes aggregate.

    The candidate set is broadcast, so the first join streams the corpus
    with a map-side hash probe — right when |candidates| ≪ |corpus| (the
    normal near-dup regime). The second join (attaching the b-side arrays)
    is left to the planner: its left input is |candidates| rows, so AQE
    turns it into a broadcast join from the runtime stats without a
    separate materialization job (an explicit ``broadcast(j1)`` would
    re-execute the whole candidate subplan just to build the broadcast —
    measured 4× slower). Past the scale where the candidate set fits a
    broadcast, both joins have to run keyed on id_a/id_b instead."""
    a = docs_arr.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b_src = docs_arr_b if docs_arr_b is not None else docs_arr
    b = b_src.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    j1 = a.join(F.broadcast(cands), "id_a")
    j2 = j1.join(b, "id_b")
    n_common = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    n_union = (
        F.size(F.col("__sh_a")) + F.size(F.col("__sh_b")) - n_common
    ).cast("double")
    jac = n_common / n_union
    return (
        j2.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via inverted index.

    shingle explode → self-join on shingle (candidates share ≥1 shingle,
    which any pair above a positive threshold must) → count common →
    jaccard = |∩| / (|A|+|B|-|∩|). Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    ``max_shingle_df`` drops shingles shared by more than that many docs
    before pairing — the standard stop-shingle cap that bounds the worst
    bucket at scale (dropped shingles can only *lower* measured Jaccard,
    so set it well above the corpus's stopword plateau or leave None for
    exact results).

    Plan shape: the self-join is expressed over ONE plan (``alias`` on the
    same DataFrame), so both join inputs resolve to the identical
    shingle-keyed exchange and Spark's exchange reuse shuffles the
    inverted index once, not twice. Each exploded row carries its doc's
    shingle count (one long riding the shuffle), so the Jaccard
    denominator falls out of the pair aggregate itself — no sizes
    aggregate, no extra scans, no broadcast joins. No persist: every
    consumer is the reused exchange.
    """
    st = (
        doc_shingle_arrays(df, id_col, text_col, n)
        .select(
            F.col(id_col),
            F.size("__sh").alias("n_sh"),
            F.explode_outer("__sh").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    if max_shingle_df is not None:
        freq = st.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
        st = st.join(
            F.broadcast(freq.filter(F.col("df_") > max_shingle_df)),
            "shingle",
            "left_anti",
        )

    # Pin the inverted-index self-join to the keyed-shuffle shape: both
    # aliased sides resolve to this one hashpartitioning(shingle) exchange
    # (written once, read twice via exchange reuse). Without it the
    # optimizer's size estimate for the shingle explode can pick a
    # broadcast hash join and build the whole inverted index into a hash
    # relation single-threaded — the opposite of the operator's at-scale
    # contract.
    st = st.repartition("shingle")
    # SHUFFLE_HASH on the build side: the inverted-index join has highly
    # duplicated keys (every shingle's posting list joins against itself),
    # and sort-merge pays two big sorts plus run-tracking per equal-key
    # run; a per-partition hash build skips both (measured 1.9s → 1.1s at
    # sf0.1 — same keyed exchange, AQE still splits skewed buckets).
    j = st.alias("a").join(
        st.alias("b").hint("shuffle_hash"),
        F.col("a.shingle") == F.col("b.shingle"),
    )
    pairs = (
        j.filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    jac = F.col("n_common") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return (
        pairs.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """G84: prefix-filtered exact Jaccard join (the SSJoin/PPJoin family
    — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08). Same OUTPUT as
    :func:`jaccard_pairs` — exact ``(id_a, id_b, jaccard)`` at the
    threshold — but candidate generation touches only each document's
    *prefix*: its ``floor((1-t)·|S|) + 1`` globally-rarest shingles.

    Why this is the scale path: the full inverted-index join pays
    Σ df(s)² over every shingle s — stopword-heavy shingles with
    million-document posting lists dominate the shuffle even though
    pairs sharing ONLY those shingles can never reach the threshold.
    The prefix-filtering theorem (under any global total order, two
    sets with J ≥ t must share a prefix element) lets the pair join run
    over posting lists of the RAREST shingles only; frequent shingles
    drop out of candidate generation entirely, and correctness is
    restored by exact verification of the surviving candidate set.
    The size filter (t·|B| ≤ |A| ≤ |B|/t, another J ≥ t necessity)
    prunes candidates before the aggregate.

    Global order = (document frequency ASC, shingle ASC) — the standard
    rarest-first order that minimizes posting-list overlap, computed
    with one shingle-keyed aggregate joined back onto the same
    shingle-partitioned exchange (no extra corpus shuffle); the
    per-document prefix is a rank window over the doc's own shingles.
    Verification is :func:`_verify_candidates` — ``array_intersect``
    per candidate pair, no aggregate.

    Use :func:`jaccard_pairs` when the corpus has no frequent-shingle
    skew (its single self-join is one stage shorter); use this form
    when posting lists are Zipf-distributed — i.e. real text at scale.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    docs_arr = doc_shingle_arrays(df, id_col, text_col, n)
    st = (
        docs_arr.select(
            F.col(id_col),
            F.size("__sh").alias("n_sh"),
            F.explode_outer("__sh").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    st = st.repartition("shingle")
    dfreq = st.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    # df_ join rides the same hashpartitioning(shingle) exchange as the
    # aggregate that produced it — exchange reuse, no new corpus shuffle
    ranked = st.join(dfreq.hint("shuffle_hash"), "shingle")
    w = Window.partitionBy(id_col).orderBy("df_", "shingle")
    # Prefix length = n - o_min + 1 where o_min = ceil(t·n) is the
    # smallest overlap a qualifying pair can have (J ≥ t ⇒ |∩| ≥ t·|A|).
    # ceil is computed as floor((t − ε)·n) + 1: the bare float forms —
    # floor((1−t)·n)+1 or ceil(t·n) — both undershoot the prefix by 1
    # when t·n lands on an integer and t is not exactly representable
    # (t=0.8, n=10: (1−0.8)·10 = 1.9999999999999996), producing FALSE
    # NEGATIVES against jaccard_pairs. ε=1e-9 only relaxes o_min within
    # 1e-9·n of an integer boundary — conservative (a longer prefix is
    # always correct, merely less pruned).
    o_min = (
        F.floor(F.lit(threshold - 1e-9) * F.col("n_sh")).cast("int") + 1
    )
    pref = (
        ranked.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= F.col("n_sh") - o_min + 1)
        .select(id_col, "n_sh", "shingle")
    )
    pref = pref.repartition("shingle")
    j = pref.alias("a").join(
        pref.alias("b").hint("shuffle_hash"),
        F.col("a.shingle") == F.col("b.shingle"),
    )
    cands = (
        j.filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        # size filter: J >= t forces t·max(|A|,|B|) <= min(|A|,|B|);
        # the same ε guards the float boundary (0.8·10 evaluates to
        # 8.0000000000000004 in IEEE, which would wrongly reject an
        # exactly-qualifying 8-vs-10 pair)
        .filter(
            F.least(F.col("a.n_sh"), F.col("b.n_sh"))
            >= (threshold - 1e-9)
            * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_candidates(cands, docs_arr, id_col, threshold)


def _containment_unordered(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
) -> DataFrame:
    """The shared containment core: one shingle-keyed self-join + one
    pair aggregate, yielding UNORDERED ``(id_a < id_b, n_common, n_a,
    n_b)`` rows. :func:`containment_pairs` derives the directed view by
    explode; :func:`dedup_by_containment` applies its drop rule here
    directly (no directed explode, no pair self-join)."""
    st = (
        doc_shingle_arrays(df, id_col, text_col, n)
        .select(
            F.col(id_col),
            F.size("__sh").alias("n_sh"),
            F.explode_outer("__sh").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .repartition("shingle")
    )
    j = st.alias("a").join(
        st.alias("b").hint("shuffle_hash"),
        F.col("a.shingle") == F.col("b.shingle"),
    )
    return (
        j.filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """G82: asymmetric shingle containment join — ``C(a ⊆ b) =
    |S(a) ∩ S(b)| / |S(a)|`` (Broder 1997's containment, the companion
    to resemblance/Jaccard). Catches what a symmetric Jaccard join
    structurally cannot: a short document quoted or embedded inside a
    much longer one scores near-1 containment while its Jaccard stays
    near |a|/|b| — the quote-extraction / subset-document case every
    crawl dedup hits (article + article-with-comments, excerpt pages,
    readers reposting a paragraph).

    Returns directed ``(id_a, id_b, containment)`` rows — "id_a's
    shingle set is contained in id_b's at this ratio" — for every
    ordered pair with containment ≥ threshold (both directions of a
    mutual near-dup appear; a strict subset appears once).

    Plan shape: identical to :func:`jaccard_pairs` — ONE
    shingle-keyed self-join over the reused inverted-index exchange,
    one (pair) aggregate carrying both docs' set sizes — then the two
    directed candidates are generated from each unordered pair by an
    in-plan ``explode`` (no second aggregate, no extra shuffle: the
    directed relation is derived from the half-sized pair aggregate).
    """
    pairs = _containment_unordered(df, id_col, text_col, n)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src"),
                    F.col("id_b").alias("dst"),
                    (F.col("n_common") / F.col("n_a").cast("double")).alias(
                        "c"
                    ),
                ),
                F.struct(
                    F.col("id_b").alias("src"),
                    F.col("id_a").alias("dst"),
                    (F.col("n_common") / F.col("n_b").cast("double")).alias(
                        "c"
                    ),
                ),
            )
        ).alias("__d")
    )
    return (
        directed.filter(F.col("__d.c") >= threshold)
        .select(
            F.col("__d.src").alias("id_a"),
            F.col("__d.dst").alias("id_b"),
            F.round("__d.c", 4).alias("containment"),
        )
    )


def dedup_by_containment(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """G90: drop documents whose shingle set is ≥``threshold``-contained
    in another document's — the quote/excerpt/subset cleanup the
    symmetric near-dup stage structurally misses (an excerpt's Jaccard
    against its parent is |a|/|b|, far below any dedup threshold, while
    its containment is ~1).

    Survivor rule, deterministic: a document drops iff some directed
    containment pair (src=it, dst=other) meets the threshold AND either
    the containment is one-way (a strict subset always drops — the
    container carries all its content) or it is mutual and the doc has
    the larger id (mutual ≈ near-identical; lowest id survives, the G1
    convention). Chains (A ⊆ B ⊆ C) drop every proper subset: set
    containment gives c(A→C) ≥ c over exact subsets, and the
    greedy rule needs only SOME container to survive the threshold, not
    a specific one.

    Non-transitive-chain caveat (r8 ADVICE): the subset argument above
    is exact only at ``threshold == 1``. With ``threshold < 1``,
    containment does not compose — in a chain A→B (c ≥ t), B→C (c ≥ t)
    where B drops, A is also dropped even though its only surviving
    "container" C may hold as little as ~t² of A's content (whatever
    lived in B∖C is lost). At the default t=0.9 the floor is ~81% of
    A's shingles surviving in C; tighten ``threshold`` toward 1 (or
    iterate drops against the survivor set) when chained partial
    excerpts matter more than the one-pass cost.

    Scale shape: rides the :func:`containment_pairs` core (ONE
    shingle-keyed self-join); the drop rule is evaluated directly on
    the UNORDERED pair aggregate — with ``id_a < id_b`` fixed by the
    aggregate, "drop src iff directed(src→dst) ∧ (¬directed(dst→src) ∨
    src>dst)" reduces algebraically to *drop id_a iff c(a→b) ≥ t ∧
    ¬(c(b→a) ≥ t)* and *drop id_b iff c(b→a) ≥ t* — so neither the
    directed explode nor the directed-relation self-join (which forced
    the whole pair lineage to execute twice, 18 corpus scans in the
    executed sf0.1 plan) exists in the plan. One left-anti against the
    corpus scan closes it.
    """
    unordered = _containment_unordered(df, id_col, text_col, n)
    # same float comparisons as containment_pairs' directed filter:
    # c = n_common / cast(n as double) >= threshold
    da = (F.col("n_common") / F.col("n_a").cast("double")) >= threshold
    db = (F.col("n_common") / F.col("n_b").cast("double")) >= threshold
    drops = (
        unordered.select(
            F.explode(
                F.array(
                    F.when(da & ~db, F.col("id_a")),
                    F.when(db, F.col("id_b")),
                )
            ).alias(id_col)
        )
        .filter(F.col(id_col).isNotNull())
        .distinct()
    )
    return df.join(drops, id_col, "left_anti")


def minhash_signature(
    text_col: str | Column = "text", n: int = 3, num_hashes: int = 12
) -> Column:
    """MinHash signature as an array of ``num_hashes`` md5-hex minima.

    Permutation i is the lexicographic min of ``md5(i || ':' || shingle)``
    over the document's shingles — a valid MinHash family (md5 is a
    uniform enough permutation of the shingle space) that any engine with
    md5 reproduces bit-for-bit. Computed entirely map-side: no shuffle.
    """
    sh = shingles(text_col, n)

    def perm(i: int):
        # One-arg lambda factory: a default-arg lambda here would make
        # pyspark's higher-order-function binder pass the element *index*
        # as the second argument, silently clobbering the permutation id.
        prefix = f"{i}:"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    return F.array(
        *[F.array_min(F.transform(sh, perm(i))) for i in range(num_hashes)]
    )


def minhash_signature_table(
    st: DataFrame, id_col: str = "doc_id", num_hashes: int = 12
) -> DataFrame:
    """MinHash signatures computed from a long (id, shingle) relation:
    ``groupBy(id).agg(min(md5(i:shingle)) ...)``.

    Identical output to ``minhash_signature`` but the execution shape is
    map-side md5 + partial-aggregated min over ONE keyed shuffle — this is
    the path to use in plans (the per-row array-expression variant defeats
    whole-stage codegen on wide signatures and re-evaluates the shingle
    array per permutation; measured ~50× slower at 5k docs)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return st.groupBy(id_col).agg(*aggs)


def band_table(
    sig: DataFrame, id_col: str = "doc_id", num_hashes: int = 12, bands: int = 6
) -> DataFrame:
    """(id, band_idx, band_hash) from a signature table — the LSH bucket
    relation. rows-per-band = num_hashes/bands sets the s-curve threshold
    ≈ (1/bands)^(1/rows_per_band)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per = num_hashes // bands
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[F.col(f"mh{b * rows_per + r}") for r in range(rows_per)],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: pairs colliding in ≥1 band. The join key is
    (band_index, band_hash) so the shuffle is fully keyed — never
    all-pairs — and the self-join is one aliased plan, so exchange reuse
    shuffles the band relation once. Pass ``shingle_df`` to reuse a
    shared shingle table."""
    st = shingle_df if shingle_df is not None else shingle_table(df, id_col, text_col, n)
    banded = band_table(
        minhash_signature_table(st, id_col, num_hashes), id_col, num_hashes, bands
    )
    j = banded.alias("a").join(
        banded.alias("b"),
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash")),
    )
    return (
        j.filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup join: banded candidates, then exact Jaccard
    verification of only the candidate pairs. Output (id_a, id_b, jaccard)
    with jaccard ≥ threshold; a near-dup pair is found iff LSH surfaced it
    (approximate by design — recall set by the band shape).

    Plan shape: ONE keyed shuffle of the exploded shingle table (the
    signature aggregate, map-side partial-combined to one row per doc),
    one small banded self-join on the reused band exchange, one distinct
    over candidate pairs — and a shuffle-free verification
    (``_verify_candidates``: broadcast candidates against map-side
    per-doc shingle arrays, n_common via ``array_intersect``). The
    previous form persisted the shingle table for four consumers and
    re-aggregated it for sizes and common counts; this one has no
    persist, no sizes aggregate, and no post-verification groupBy."""
    docs_arr = doc_shingle_arrays(df, id_col, text_col, n)
    st = (
        docs_arr.select(F.col(id_col), F.explode_outer("__sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    cands = lsh_candidate_pairs(
        df, id_col, text_col, n, num_hashes, bands, shingle_df=st
    )
    return _verify_candidates(cands, docs_arr, id_col, threshold)


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    threshold: float = 0.5,
) -> DataFrame:
    """G94: CROSS-CORPUS MinHash-LSH near-dup join — every
    ``(id_a ∈ left, id_b ∈ right)`` pair with exact Jaccard ≥
    ``threshold`` among LSH band candidates. THE operator for merging a
    new crawl snapshot into an existing corpus (which new documents
    near-duplicate something already kept?), corpus-vs-corpus overlap
    audits, and train-vs-eval fuzzy contamination where the symmetric
    self-join (:func:`minhash_lsh_pairs`) would waste its time on
    within-corpus pairs nobody asked about.

    Same band geometry and md5 MinHash family as the self-join form
    (bit-replayable by the SQL oracle); ids are NOT compared across
    sides (no ``id_a < id_b`` — the corpora own separate id spaces, and
    a value collision between sides is two different documents).

    Scale shape: one keyed shuffle per side for the signature
    aggregates (each map-side partial-combined to one row per doc), a
    banded EQUI-join between the two band tables — |left bands| ×
    |right bands| never materializes; only per-(band_idx, band_hash)
    matches do — one distinct over candidates, then the shuffle-free
    broadcast verification of :func:`_verify_candidates` with per-side
    shingle arrays. At 100 TB the increment side is typically ≪ the
    corpus side; the band join broadcasts the small side under AQE and
    the big side is never shuffled more than its one signature
    exchange."""
    la = doc_shingle_arrays(left, id_col, text_col, n)
    ra = doc_shingle_arrays(right, id_col, text_col, n)

    def _bands(arr: DataFrame) -> DataFrame:
        st = arr.select(
            F.col(id_col), F.explode_outer("__sh").alias("shingle")
        ).filter(F.col("shingle").isNotNull())
        return band_table(
            minhash_signature_table(st, id_col, num_hashes),
            id_col,
            num_hashes,
            bands,
        )

    cands = (
        _bands(la)
        .alias("a")
        .join(
            _bands(ra).alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return _verify_candidates(cands, la, id_col, threshold, docs_arr_b=ra)


def token_hashes(toks_col: str | Column) -> Column:
    """60-bit md5 token hashes (first 15 hex chars via ``conv``) from a
    materialized token-array column."""
    toks = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    return F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
    )


def simhash_from_hashes(h_col: str | Column, bits: int = 32) -> Column:
    """SimHash fingerprint from a *materialized* token-hash array column:
    bit b of the fingerprint is the sign of Σ_tokens (±1 by token bit b).

    The hash array MUST be a real attribute: each of the ``bits``
    per-bit folds references it, and an inline expression would be
    substituted into every fold — re-hashing every token ``bits`` times
    (the same lambda-substitution trap as ``shingles_from_tokens``).
    Cost on an attribute: O(tokens) md5 upstream + O(tokens × bits) adds.
    """
    h = F.col(h_col) if isinstance(h_col, str) else h_col

    def bit_merge(b: int):
        # Two-arg lambda factory (see perm() in minhash_signature for why
        # a default-arg lambda is wrong here).
        return lambda acc, v: acc + F.when(
            F.shiftright(v, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    out = F.lit(0).cast("bigint")
    for b in range(bits):
        contrib = F.aggregate(h, F.lit(0).cast("bigint"), bit_merge(b))
        out = out + F.when(contrib > 0, F.lit(2**b).cast("bigint")).otherwise(0)
    return out


def simhash(text_col: str | Column = "text", bits: int = 32) -> Column:
    """Inline-expression SimHash — convenient, but the token-hash array is
    re-evaluated per bit when inlined (see ``simhash_from_hashes``); plans
    should materialize ``tokens`` → ``token_hashes`` first, as
    ``simhash_pairs`` does."""
    return simhash_from_hashes(token_hashes(tokens(text_col)), bits)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    prefix_bits: int = 8,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup candidates: bucket by the fingerprint's top
    ``prefix_bits`` (keyed join — the LSH trick again), verify Hamming
    distance ≤ max_hamming within buckets via bit_count(xor).

    Fingerprints are computed with the explode + groupBy formulation, not
    the per-bit array folds of ``simhash_from_hashes``: higher-order
    ``aggregate`` lambdas evaluate interpreted per element, so ``bits``
    folds cost bits × tokens interpreted steps per document, while the
    exploded form is ``bits`` conditional-sum buffers in one codegen'd
    HashAggregate with map-side partial combine — the scale shape
    (measured ~3× at 5k docs). Tokens and hashes are materialized in
    stacked projections so the text is split and md5'd once."""
    hashed = (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(F.col(id_col), token_hashes("__toks").alias("__h"))
        .select(F.col(id_col), F.explode_outer("__h").alias("h"))
    )
    h = F.col("h")
    contribs = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1)
            .when(h.isNotNull(), -1)
            .otherwise(0)  # empty doc (null from explode_outer): fp = 0
        ).alias(f"__c{b}")
        for b in range(bits)
    ]
    fp_expr = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"__c{b}") > 0, F.lit(2**b).cast("bigint")).otherwise(0),
        range(bits),
        F.lit(0).cast("bigint"),
    )
    fp = (
        hashed.groupBy(id_col)
        .agg(*contribs)
        .select(F.col(id_col), fp_expr.alias("fp"))
    )
    # the bucketed join is hamming_pairs — the generic form THIS shape
    # was factored into; riding it (instead of a duplicated tail) also
    # buys its lazy fingerprint checkpoint, so the bits-buffer aggregate
    # above executes once per action, not once per join side
    return hamming_pairs(
        fp,
        id_col,
        "fp",
        total_bits=bits,
        prefix_bits=prefix_bits,
        max_hamming=max_hamming,
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    total_bits: int = 64,
    prefix_bits: int = 8,
    max_hamming: int = 10,
) -> DataFrame:
    """Generic Hamming-radius pair join over a precomputed fingerprint
    column (the :func:`simhash_pairs` bucket shape, factored out so
    non-text fingerprints — G69's perceptual image dHash — reuse it):
    bucket on the top ``prefix_bits`` bits, self-join per bucket, filter
    ``bit_count(xor) <= max_hamming``. The shuffle is keyed on the
    bucket — never all-pairs. The prefix is masked after the arithmetic
    shift (``(fp >> k) & (2^p - 1)``) so SIGNED fingerprints (a 64-bit
    hash with bit 63 set is negative in both engines' BIGINT) bucket by
    their true top bits, engine-independently. Radius caveat is the
    standard single-table LSH one: a true pair differing inside the
    prefix lands in different buckets — choose ``prefix_bits`` against
    the expected radius (or band multiple prefixes upstream).

    Returns (id_a, id_b, hamming), id_a < id_b."""
    mask = (1 << prefix_bits) - 1
    fp = df.select(
        F.col(id_col), F.col(fp_col).cast("bigint").alias("__fp")
    ).withColumn(
        "bucket",
        F.shiftright(F.col("__fp"), total_bits - prefix_bits)
        .bitwiseAND(F.lit(mask)),
    )
    # LAZY localCheckpoint: the two self-join sides differ by the
    # shuffle_hash hint, which breaks canonical plan equality, so
    # ReusedExchange never fires and the upstream fingerprint subplan —
    # typically a DECODE UDF over every blob (G69) — would execute
    # twice. The lazy cut materializes the (id, fp, bucket) relation
    # once inside the action (3 narrow columns per row, cheap at any
    # scale) and both sides read it; lazy, not eager, so it runs under
    # AQE and adds no extra job. On the 97-image sf0.1 fixture both
    # forms are job-floor-bound (~2.4s measured either way); the cut is
    # for scale, where the per-blob decode dominates and halving it is
    # the whole game.
    fp = fp.localCheckpoint(eager=False)
    a = fp.select(
        F.col(id_col).alias("id_a"), F.col("__fp").alias("fp_a"), "bucket"
    )
    b = fp.select(
        F.col(id_col).alias("id_b"), F.col("__fp").alias("fp_b"), "bucket"
    )
    # shuffle_hash for the same reason as simhash_pairs: few distinct
    # bucket keys with long runs are sort-merge's worst case
    return (
        a.join(b.hint("shuffle_hash"), "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark-contamination report: corpus documents sharing
    ``min_overlap``+ distinct word n-gram shingles with the benchmark
    set. Returns (id, n_hits) — n_hits = how many of the document's
    distinct shingles appear anywhere in the benchmark.

    Scale shape: the benchmark's shingle set is the small side by
    construction (eval suites are MBs against a 100-TB corpus), so the
    probe is a **broadcast LEFT SEMI join**: corpus shingles stream
    map-side against the broadcast benchmark relation, then one keyed
    aggregate counts hits per document. Semi-join semantics make the
    benchmark-side ``distinct()`` unnecessary (membership, never
    multiplication) — r5 paid a full exchange + AQE stage barrier just to
    dedup a relation the broadcast hashmap dedups for free (measured
    ~0.55s of g15's 2.1s at sf0.1). The corpus is never shuffled by
    shingle and never self-joined — cost is one scan + one
    |contaminated-ids| aggregate.
    """
    bid = bench_id_col or id_col
    btx = bench_text_col or text_col
    c_sh = shingle_table(corpus, id_col, text_col, n)
    b_sh = shingle_table(benchmark, bid, btx, n).select("shingle")
    return (
        c_sh.join(F.broadcast(b_sh), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_overlap)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
    **kwargs,
) -> DataFrame:
    """Remove benchmark-contaminated documents from a training corpus:
    left-anti join of the corpus against ``contamination_report``. The
    standard pre-training decontamination pass (n-gram overlap against
    eval suites), expressed as scan → broadcast probe → anti join."""
    hits = contamination_report(
        corpus,
        benchmark,
        id_col=id_col,
        text_col=text_col,
        n=n,
        min_overlap=min_overlap,
        **kwargs,
    )
    return corpus.join(hits.select(id_col), id_col, "left_anti")


# Propagation rounds tried before switching to star contraction: near-dup
# components are clique-ish (diameter ≤ ~3) and converge inside this.
_PROPAGATION_ROUNDS = 4


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of an undirected pair graph. Returns
    (id, label) for every node that appears in ``pairs``; label = the
    component's minimum id (deterministic).

    This is the step that turns a near-dup *pair* relation (Jaccard /
    MinHash-LSH / SimHash output) into actual corpus deduplication: pairs
    are transitive in intent (A≈B, B≈C ⇒ keep one of {A,B,C}), so the
    duplicate groups are the components of the pair graph.

    The graph picks the algorithm (the G13b measured-probe pattern): run
    min-label propagation for at most ``_PROPAGATION_ROUNDS`` rounds;
    near-dup components are clique-ish and converge there. A graph that
    does not — a chain-shaped dup graph, whose diameter multiplies
    propagation rounds — restarts on the large-star/small-star
    contraction (:func:`connected_components_twophase`), whose O(log n)
    rounds are bounded by ``max_iter``. The probe's sunk cost is bounded:
    a few keyed join+aggregate passes over O(|edges|). Neither form
    dominates: on clique-ish graphs propagation finishes in fewer jobs
    than contraction, which always runs two keyed shuffles and a
    signature action per round plus a confirming round. Raises
    ``RuntimeError`` when contraction hits ``max_iter``.
    """
    labels = _propagate_labels(pairs, id_a, id_b, _PROPAGATION_ROUNDS)
    if labels is not None:
        return labels
    return connected_components_twophase(pairs, id_a, id_b, max_iter=max_iter)


def _propagate_labels(
    pairs: DataFrame, id_a: str, id_b: str, max_rounds: int
) -> DataFrame | None:
    """Min-label propagation: the (id, label) relation of
    :func:`connected_components` if it converges within ``max_rounds``
    rounds, else None.

    Scale shape: the bidirectional edge relation is persisted hash-
    partitioned on ``src`` once; each iteration is edges⋈labels (both
    sides arrive partitioned on the key — no extra exchange beyond the
    label shuffle) → union with the previous labels → one min aggregate,
    materialized via ``localCheckpoint`` so the iterative lineage never
    compounds. Convergence is detected from a column carried through the
    same aggregate (labels only decrease, so ``sum(label < old)`` hits 0
    at the fixpoint) — one tiny follow-up action per round, no extra
    join. Rounds needed = graph diameter.

    Checkpoint storage: each round's ``localCheckpoint`` pins one copy of
    the labels relation (O(|pair-graph nodes|) — the near-dup docs, tiny
    next to the corpus) until the dropped reference is collected and
    Spark's ContextCleaner unpersists the blocks; worst-case in-flight
    copies are bounded by ``max_rounds``, not corpus size.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("src")
        .persist()
    )
    # Initialization folds propagation round 1 in for free: the node set
    # comes from an aggregate over the (already src-partitioned) edge
    # relation anyway, so aggregating min(neighbor) there and starting at
    # min(id, min neighbor) costs nothing extra and saves one full
    # join+aggregate round.
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("__nbr"))
        .select("id", F.least(F.col("id"), F.col("__nbr")).alias("label"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_rounds):
        lbl_type = dict(labels.dtypes)["label"]
        prop = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"),
            F.col("label"),
            F.lit(None).cast(lbl_type).alias("old"),
        )
        self_rows = labels.select("id", "label", F.col("label").alias("old"))
        new = (
            prop.unionByName(self_rows)
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .localCheckpoint()
        )
        changed = new.agg(
            F.sum((F.col("label") < F.col("old")).cast("long")).alias("c")
        ).first()[0]
        labels = new.select("id", "label")
        if not changed:
            converged = True
            break
    edges.unpersist()
    return labels if converged else None


def connected_components_twophase(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log n)-round form for HIGH-DIAMETER pair
    graphs. Same contract as :func:`connected_components`: (id, label)
    for every node appearing in ``pairs``, label = component minimum.

    Min-label propagation needs diameter-many rounds; near-dup
    components are clique-ish so that is 3-4 — but CHAIN-shaped dup
    graphs (quote chains, boilerplate that mutates a little per page)
    have diameters in the thousands, multiplying rounds. Star
    contraction halves path lengths every alternation:

    - large-star(u): every neighbor v > u re-points to
      m = min(N(u) ∪ {u}); emitted edges stay big→small oriented.
    - small-star(u), edges oriented u > v: every neighbor v ≤ u and u
      itself re-point to m = min(N(u)); self-loops drop.

    At the fixpoint the edge set is a star forest rooted at component
    minimums, read off as the label map. Convergence = the oriented
    distinct edge set stops changing, detected from ONE tiny aggregate
    per round (count + xxhash64 xor-fold — an order-insensitive set
    signature), so each round is two keyed
    aggregate+join shuffles over O(|edges|) and one bounded action.
    Each round's edge set is ``localCheckpoint``ed so iterative lineage
    never compounds (same policy as propagation).

    Signature-collision bound: the convergence test is probabilistic —
    two DIFFERENT consecutive edge sets of equal cardinality whose
    64-bit xor-folds collide would terminate a round early with wrong
    labels, silently. The collision probability is ~2⁻⁶⁴ per round
    (xxhash64 is well-mixed and the sets differ in ≥1 element), i.e.
    ~10⁻¹⁸ for a 50-round run — below any realistic hardware-fault
    floor. The exact alternative (a per-round anti-join set diff) costs
    one more O(|edges|) shuffle per round; accepted trade, made visible
    here per the r7 review.
    """
    raw = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    nodes = (
        raw.select(F.col("a").alias("id"))
        .unionByName(raw.select(F.col("b").alias("id")))
        .distinct()
    )
    edges = (
        raw.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    # count + xor-fold of row hashes: an order-insensitive DISTINCT-set
    # signature that cannot overflow under ANSI arithmetic
    sig_cols = [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h"),
    ]
    prev_sig = tuple(edges.agg(*sig_cols).first())
    rounds = 0
    converged = prev_sig[0] == 0
    while not converged and rounds < max_iter:
        rounds += 1
        # large-star over the bidirectional neighbor relation
        nbr = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            nbr.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("u", "__mn").alias("__m"))
        )
        large = (
            nbr.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .distinct()
        )  # v > u >= m, so output stays strictly big->small
        # small-star on the oriented set: min neighbor is already < u
        mins2 = large.groupBy("u").agg(F.min("v").alias("__m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("n"), F.col("__m").alias("m"))
            .unionByName(
                mins2.select(F.col("u").alias("n"), F.col("__m").alias("m"))
            )
            .where(F.col("n") != F.col("m"))
            .select(
                F.greatest("n", "m").alias("u"), F.least("n", "m").alias("v")
            )
            .distinct()
            .localCheckpoint()
        )
        sig = tuple(small.agg(*sig_cols).first())
        edges = small
        if sig == prev_sig:
            converged = True
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_twophase did not converge in {max_iter} "
            "rounds — raise max_iter"
        )
    labels = nodes.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("label")),
        "id",
        "left",
    ).select("id", F.coalesce("label", F.col("id")).alias("label"))
    return labels


def _recall_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sample_n: int,
    salt: str,
) -> DataFrame:
    """The recall report's bounded deterministic sample: the
    ``sample_n`` lowest ``hash_u60(salt || id)`` documents. A limit over
    an order-by plans as TakeOrderedAndProject — per-partition heaps,
    never a global sort (pinned in tests/test_dedup.py). Split out of
    :func:`neardup_recall_report` so the plan is inspectable before the
    operator's eager checkpoint erases it behind a Scan ExistingRDD."""
    from ferc_xbrl_extractor_spark.operators.sampling import hash_u60

    return (
        df.select(F.col(id_col), F.col(text_col))
        .orderBy(hash_u60(F.col(id_col), salt), F.col(id_col))
        .limit(int(sample_n))
    )


def neardup_recall_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    thresholds: tuple[float, ...] = (0.5, 0.7),
    sample_n: int = 400,
    salt: str = "g2recall",
    num_hashes: int = 12,
    bands: int = 6,
    simhash_bits: int = 32,
    simhash_prefix_bits: int = 4,
    simhash_max_hamming: int = 10,
) -> DataFrame:
    """G2 recall measurement loop (the G3 ``recall_report`` pattern
    applied to near-dup candidates): on a BOUNDED deterministic sample,
    compare each approximate pair generator's candidate set against the
    brute-force Jaccard truth and report per-threshold recall/precision
    — the tuning diagnostic (bands × rows for MinHash-LSH, prefix bits ×
    hamming radius for SimHash) every production dedup wants measured
    before committing a 100-TB run to one band shape.

    Sample: the ``sample_n`` lowest ``hash_u60(salt || id)`` documents —
    deterministic, engine-portable (md5), and plan-bounded (a
    TakeOrderedAndProject, never a full sort; pinned in
    tests/test_plans.py). Truth = inverted-index Jaccard pairs over the
    sample at ``min(thresholds)``; candidates = LSH band collisions
    (pre-verification — the band shape's raw output is what's being
    graded) and SimHash pairs within ``simhash_max_hamming``.

    Returns one row per (method, threshold):
    ``(method, threshold, n_true, n_cand, n_hit, recall, precision)``
    with ``recall = n_hit/n_true`` and ``precision = n_hit/n_cand``
    (NULL on zero denominators), rounded to 4 for cross-engine
    comparison. All post-sample relations are O(sample pairs) — the
    cross joins below are |thresholds|-row and 1-row broadcasts."""
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    tmin = min(thresholds)
    # bounded (sample_n rows) and consumed by three pipelines (truth,
    # LSH, SimHash): eager-checkpoint once, same policy as
    # graph.pagerank's node list
    sample = _recall_sample(df, id_col, text_col, sample_n, salt)
    sample = sample.localCheckpoint(eager=True)
    truth = jaccard_pairs(sample, id_col, text_col, n=n, threshold=tmin)
    spine = df.sparkSession.createDataFrame(
        [(float(t),) for t in sorted(thresholds)], "threshold double"
    )
    methods = [
        (
            "minhash_lsh",
            lsh_candidate_pairs(
                sample, id_col, text_col, n, num_hashes, bands
            ),
        ),
        (
            "simhash",
            simhash_pairs(
                sample,
                id_col,
                text_col,
                bits=simhash_bits,
                prefix_bits=simhash_prefix_bits,
                max_hamming=simhash_max_hamming,
            ).select("id_a", "id_b"),
        ),
    ]
    outs = []
    for name, cand in methods:
        cand = cand.select("id_a", "id_b")
        n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
        tr = truth.join(
            cand.withColumn("__hit", F.lit(True)), ["id_a", "id_b"], "left"
        )
        agg = (
            tr.select("jaccard", "__hit")
            .crossJoin(F.broadcast(spine))
            .filter(F.col("jaccard") >= F.col("threshold"))
            .groupBy("threshold")
            .agg(
                F.count(F.lit(1)).alias("n_true"),
                F.sum(
                    F.coalesce(F.col("__hit").cast("long"), F.lit(0))
                ).alias("n_hit"),
            )
        )
        outs.append(
            spine.join(agg, "threshold", "left")
            .crossJoin(F.broadcast(n_cand))
            .select(
                F.lit(name).alias("method"),
                "threshold",
                F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
                F.col("n_cand").cast("long").alias("n_cand"),
                F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
                F.when(
                    F.coalesce("n_true", F.lit(0)) > 0,
                    F.round(F.col("n_hit") / F.col("n_true"), 4),
                ).alias("recall"),
                F.when(
                    F.col("n_cand") > 0,
                    F.round(
                        F.coalesce("n_hit", F.lit(0)) / F.col("n_cand"), 4
                    ),
                ).alias("precision"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def attach_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Annotate every document with its near-dup cluster id: the component
    min-id for documents in the pair graph, the document's own id for
    singletons. The labels relation is |graph nodes| rows — tiny next to
    the corpus — so the left join broadcasts (AQE, from runtime stats)."""
    # Internal names are __-prefixed: the corpus may legitimately carry a
    # column called "label" (the embeddings table does).
    labels = connected_components(pairs).withColumnsRenamed(
        {"id": id_col, "label": "__cc_label"}
    )
    return (
        df.join(labels, id_col, "left")
        .withColumn(cluster_col, F.coalesce("__cc_label", F.col(id_col)))
        .drop("__cc_label")
    )


def dedup_by_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse a corpus by a near-dup pair relation: keep exactly one
    survivor (the minimum id) per connected component, pass singletons
    through. ``df`` is never shuffled — the loser set (|non-survivors|
    rows) anti-joins against the scan, broadcast by AQE when small."""
    labels = connected_components(pairs)
    losers = labels.filter(F.col("label") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_by_pairs_best(
    df: DataFrame,
    pairs: DataFrame,
    keep_by: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`dedup_by_pairs` with a QUALITY keep policy: per near-dup
    component the survivor is the member with the highest ``keep_by``
    (a NUMERIC quality/score/length column; ties and all-NULL components
    fall back to the minimum id — a component can never delete itself).
    "Keep the longest / highest-quality duplicate" is what production
    dedup passes actually want; min-id keep is only right when members
    are interchangeable.

    Scale shape matches the min-id form: labels are |graph nodes| rows
    (AQE-broadcast onto the corpus for the score fetch), the winner per
    component is ONE ``max_by`` aggregate (no window sort), and ``df``
    itself is never shuffled — the loser set anti-joins against the scan.
    """
    labels = connected_components(pairs)
    members = labels.withColumnsRenamed({"id": id_col, "label": "__cc"})
    # `scored` feeds two consumers (winners + losers) over IDENTICAL
    # subtrees — AQE's runtime exchange/stage reuse dedupes that
    # execution already (measured: an explicit lazy cut here ran 3.57s
    # → 6.77s, min-of-2 same-sitting — the materialization overhead
    # exceeds the healed duplication). Left uncut deliberately.
    scored = df.select(
        id_col, F.col(keep_by).cast("double").alias("__score")
    ).join(members, id_col)
    # Order inside max_by: scored beats unscored, higher score beats
    # lower, then MIN id — encoded as max of (has_score, score0, -id).
    ordkey = F.struct(
        F.col("__score").isNotNull().alias("s"),
        F.coalesce(F.col("__score"), F.lit(0.0)).alias("v"),
        (-F.col(id_col)).alias("negid"),
    )
    winners = scored.groupBy("__cc").agg(
        F.max_by(F.col(id_col), ordkey).alias("__win")
    )
    losers = (
        scored.join(winners, "__cc")
        .filter(F.col(id_col) != F.col("__win"))
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def split_leakage_report(
    df: DataFrame,
    split_col: str = "split",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Cross-split n-gram leakage matrix — the dataset-QA audit that
    answers "does my train split contain my test set?" for EVERY ordered
    split pair at once. For each (split_a, split_b), counts the split_a
    documents sharing ``min_overlap``+ distinct ``n``-gram shingles with
    ANY split_b document (the :func:`contamination_report` predicate,
    applied pairwise), plus split sizes and the leak ratio. Zero-leak
    pairs are reported explicitly.

    Scale shape: shingles are materialized ONCE (split rides through the
    shingle explode inside the doc key, no corpus-sized join-back); the
    probe is a single shingle-keyed equi join of doc shingles against
    the per-split distinct shingle relation (the G2 inverted-index
    shape — bounded by shingle collisions, never doc all-pairs), then
    two keyed aggregates. The pair scaffold is built from a BOUNDED
    |splits|-row driver collect (a constant-key self-join gets
    constant-folded back into a cartesian node; split counts are tiny
    by definition, so the collect is the clean form). For
    the asymmetric "100-TB corpus vs MB-sized eval suite" direction,
    :func:`contamination_report`'s broadcast probe is the cheaper tool;
    this matrix is the symmetric audit across comparably-sized splits.
    """
    keyed = df.select(
        F.struct(
            F.col(id_col).alias("id"), F.col(split_col).alias("split")
        ).alias("__ids"),
        F.col(text_col),
    )
    sh = shingle_table(keyed, "__ids", text_col, n).select(
        F.col("__ids")["id"].alias("__id"),
        F.col("__ids")["split"].alias("__split"),
        "shingle",
    )
    split_shingles = sh.select(
        F.col("__split").alias("__split_b"), "shingle"
    ).distinct()
    per_doc = (
        sh.join(split_shingles, "shingle")
        .filter(F.col("__split") != F.col("__split_b"))
        .groupBy("__id", "__split", "__split_b")
        .agg(F.count(F.lit(1)).alias("__n_hits"))
        .filter(F.col("__n_hits") >= min_overlap)
    )
    leaky = per_doc.groupBy(
        F.col("__split").alias("split_a"), F.col("__split_b").alias("split_b")
    ).agg(F.count(F.lit(1)).alias("n_leaky_docs"))
    # NULL-split rows cannot belong to any pair (NULL != x is NULL in
    # the probe filter too) — excluded loudly rather than silently.
    # ONE grouped collect carries both the per-split sizes and the
    # NULL-row presence probe: the former separate `limit(1).count()`
    # null probe scanned the whole corpus when no NULL exists
    # (guide §2.4 — don't pay a full pass for a boolean).
    size_rows = (
        df.groupBy(F.col(split_col).alias("split_a"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    sizes = {
        r["split_a"]: int(r["n"]) for r in size_rows if r["split_a"] is not None
    }
    n_null = sum(int(r["n"]) for r in size_rows if r["split_a"] is None)
    if n_null:
        import warnings

        warnings.warn(
            f"split_leakage_report: rows with NULL {split_col!r} are "
            "excluded from the matrix",
            stacklevel=2,
        )
    pairs = df.sparkSession.createDataFrame(
        [
            (a, b, na)
            for a, na in sorted(sizes.items())
            for b in sorted(sizes)
            if a != b
        ],
        "split_a string, split_b string, n_docs_a long",
    )
    return pairs.join(leaky, ["split_a", "split_b"], "left").select(
        "split_a",
        "split_b",
        F.coalesce(F.col("n_leaky_docs"), F.lit(0))
        .cast("long")
        .alias("n_leaky_docs"),
        F.col("n_docs_a").cast("long"),
        F.round(
            F.coalesce(F.col("n_leaky_docs"), F.lit(0))
            / F.col("n_docs_a").cast("double"),
            4,
        ).alias("leak_ratio"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """G101: winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS scheme): hash every ``k``-gram, then keep the
    MINIMUM hash of every ``window`` consecutive hashes. The selection
    is LOCAL — like G97's CDC boundaries, an edit far away cannot
    change which fingerprints a region contributes — and it carries
    winnowing's guarantee: any shared substring of length
    ``window + k − 1`` or more produces at least one shared
    fingerprint. That positions it between G2 (MinHash estimates
    WHOLE-document similarity; localized overlap dilutes away) and G26
    (exact span dedup, heavier): a cheap detector for documents
    sharing substantial passages — quote chains, licence blocks,
    template families, MOSS-style near-copies.

    Hash = first 15 md5 hex chars of the gram as a 60-bit int (the G2
    token-hash trick — content-defined AND replayable by the DuckDB
    oracle, unlike a seeded rolling polynomial). Documents shorter
    than ``k`` contribute nothing; documents with fewer than
    ``window`` gram hashes contribute their single minimum, so short
    docs still fingerprint.

    Returns DISTINCT ``(id_col, fingerprint)`` rows — expected density
    ~2/(window+1) fingerprints per character before dedup, the paper's
    bound.

    Scale shape: TWO projections and one explode — no shuffle until
    the caller aggregates. The gram-hash array is materialized as an
    attribute before the window pass references it (the
    lambda-substitution trap: an inline array would re-run the O(len)
    md5 sweep per window — the G97 lesson, documented in
    SURVEY §2.13's r9 notes). Per-doc work is O(len·k) md5 bytes +
    O(len·window) comparisons; row count stays O(fingerprints).
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    text = F.col(text_col)
    n = F.length(text)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.conv(
                F.substring(F.md5(text.substr(i, F.lit(k))), 1, 15), 16, 10
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    staged = df.select(F.col(id_col), grams.alias("__h"))
    h = F.col("__h")
    m = F.size(h)
    mins = F.when(
        m >= window,
        F.transform(
            F.sequence(F.lit(1), m - window + 1),
            lambda i: F.array_min(F.slice(h, i, window)),
        ),
    ).otherwise(
        F.when(m > 0, F.array(F.array_min(h))).otherwise(
            F.array().cast("array<long>")
        )
    )
    return staged.select(
        id_col, F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """G101: document pairs sharing ≥ ``min_shared`` winnowing
    fingerprints — the passage-overlap candidate generator. Inverted-
    index join on the fingerprint (the G2/G35 shape — NEVER all-pairs):
    fingerprints whose document frequency exceeds ``max_doc_freq``
    are dropped first (boilerplate/licence text that would otherwise
    quadratically explode the join — the same reason G35 strips common
    lines; at web scale a shared footer's fingerprint joins every
    page to every page). The pair blowup is bounded by
    Σ_fp min(df, max_doc_freq)², and AQE's skew split handles the
    residual heavy fingerprints under the cap.

    Returns ``(id_a, id_b, n_shared)``, ``id_a < id_b``, ordered by
    nothing (callers aggregate or verify downstream, e.g. via
    G2's exact Jaccard or G26 span extraction on the candidates).
    """
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    if max_doc_freq < 2:
        raise ValueError("max_doc_freq must be >= 2 (pairs need 2 docs)")
    fps = winnow_fingerprints(df, id_col, text_col, k=k, window=window)
    keep = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_doc_freq)
        .select("fingerprint")
    )
    kept = fps.join(keep, "fingerprint")
    a = kept.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = kept.select(F.col(id_col).alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def corpus_similarity(
    df: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """G106: corpus-level MinHash similarity matrix — for every pair of
    strata (sources, crawl dumps, train/eval splits, dataset versions),
    the estimated Jaccard similarity of their UNION shingle sets, from
    one pass over the corpus. The monitoring op upstream of the
    pair-level machinery: "how much does dump N overlap dump N−1"
    (dedup-budget planning), "is this new source actually new",
    "are my mixture strata distinct" — answered before committing to a
    full G94 cross-corpus pair join, which this report prices.

    Math: a stratum's signature position i is
    ``min over its shingles of md5(i:shingle)`` — the min over a UNION
    is the min of the per-member minima, so the signature of millions of
    documents collapses to ONE map-side-combinable aggregate over the
    long (stratum, shingle) relation; no per-doc signatures, no pair
    explosion. E[matching positions / k] = J(A, B) by the MinHash
    property, with the standard ±1/√k estimator error (k=64 → ±0.125 at
    95%; raise ``num_hashes`` for tighter bands). Same md5 permutation
    family as :func:`minhash_signature`, so any engine reproduces it
    bit-for-bit.

    Output: ``(stratum_a, stratum_b, matches, est_jaccard)`` for every
    unordered stratum pair (a < b lexicographically), ALL pairs present
    — a stratum with no shingles (all-empty texts) compares as NULL
    matches/similarity, visible rather than dropped.

    Scale shape: one shingle explode + ONE combinable k-min aggregate
    (the exchange carries |strata| rows — trivially small); the pair
    matrix is a broadcast self-join over the |strata|-row signature
    relation (|strata|² output — this is a REPORT over a handful of
    strata, not a pair-mining op; the |strata|² shape is the point, use
    G94 for document pairs).
    """
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    st = shingle_table(df, id_col=stratum_col, text_col=text_col, n=n)
    # the signature relation feeds both sides of the pair self-join
    # below over IDENTICAL subtrees — AQE's runtime exchange/stage
    # reuse dedupes that execution already (measured: an explicit lazy
    # cut here ran 2.7-4.8s → 4.5-31s construct, min-of-3 same-sitting
    # A/B — the eager stage materialization costs more than the healed
    # duplication). Left uncut deliberately.
    # Expression trees built as SQL TEXT, one parse each (the
    # fact_table/r11 py4j-batching fix): the Column-API form of the
    # 64-hash signature aggregate + per-side aliases + the 64-term match
    # sum cost ~10,600 py4j round-trips (~2.7s of driver-side
    # construction per invocation, cProfiled at sf0.1). Identical parsed
    # expressions, identical plan.
    sig = st.groupBy(raw_col(stratum_col)).agg(
        *[
            F.expr(
                f"min(md5(concat('{i}:', shingle))) AS `__mh{i}`"
            )
            for i in range(num_hashes)
        ]
    )
    # also consumed twice (both pair-matrix sides) — identical
    # subtrees, healed by runtime exchange reuse like `sig`.
    # NOT derivable from sig: an all-empty-text stratum has no shingles,
    # hence no sig row, but must still appear in the report as NULLs.
    strata = df.select(raw_col(stratum_col).alias("__st")).distinct()
    pairs = (
        strata.select(F.col("__st").alias("stratum_a"))
        .join(
            F.broadcast(strata.select(F.col("__st").alias("stratum_b"))),
            F.col("stratum_a") < F.col("stratum_b"),
        )
    )
    a = sig.selectExpr(
        f"{bq(stratum_col)} AS stratum_a",
        *[f"`__mh{i}` AS `__a{i}`" for i in range(num_hashes)],
    )
    b = sig.selectExpr(
        f"{bq(stratum_col)} AS stratum_b",
        *[f"`__mh{i}` AS `__b{i}`" for i in range(num_hashes)],
    )
    matches_sql = " + ".join(
        f"(CASE WHEN `__a{i}` = `__b{i}` THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    both_sql = "`__a0` IS NOT NULL AND `__b0` IS NOT NULL"
    return (
        pairs.join(F.broadcast(a), "stratum_a", "left")
        .join(F.broadcast(b), "stratum_b", "left")
        .selectExpr(
            "stratum_a",
            "stratum_b",
            f"CAST(CASE WHEN {both_sql} THEN ({matches_sql}) END AS BIGINT)"
            " AS matches",
            f"CASE WHEN {both_sql} THEN "
            f"round(({matches_sql}) / CAST({float(num_hashes)} AS DOUBLE), 4)"
            " END AS est_jaccard",
        )
    )


def contamination_multi_report(
    corpus: DataFrame,
    benchmarks: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """G107: ONE-PASS contamination report against MANY benchmarks —
    ``(id, bench, n_hits)`` for every (document, benchmark) pair
    sharing ``min_overlap``+ distinct word n-gram shingles. Production
    decontamination screens against dozens of eval suites (MMLU, GSM8K,
    HumanEval, ...); running :func:`contamination_report` per suite
    re-scans the 100-TB corpus once per benchmark. Here the benchmark
    shingle relations are tagged with their name, per-benchmark
    deduplicated, unioned, and broadcast ONCE — the corpus is scanned
    once, probed map-side once, and one keyed aggregate yields every
    per-benchmark hit count simultaneously. |benchmarks| scans → 1.

    Join semantics: the tagged benchmark relation is distinct per
    (bench, shingle), so the inner join fans a corpus shingle out at
    most |benchmarks that contain it| times — bounded by the benchmark
    count, never by benchmark multiplicity (the per-bench ``distinct``
    is load-bearing here, unlike the single-benchmark semi-join where
    the broadcast hashmap dedups for free).

    Scale shape: eval suites are MBs against a 100-TB corpus, so the
    tagged union stays broadcast-sized; the corpus is never shuffled by
    shingle; the one exchange carries (contaminated-doc, bench) rows.
    Same shingle family as G15, so thresholds transfer.
    """
    if not benchmarks:
        raise ValueError("benchmarks must be a non-empty dict of name -> DataFrame")
    bid = bench_id_col or id_col
    btx = bench_text_col or text_col
    c_sh = shingle_table(corpus, id_col, text_col, n)
    tagged = None
    for name, b in benchmarks.items():
        t = (
            shingle_table(b, bid, btx, n)
            .select("shingle")
            .distinct()
            .select(F.lit(name).alias("bench"), "shingle")
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    return (
        c_sh.join(F.broadcast(tagged), "shingle")
        .groupBy(id_col, "bench")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_overlap)
    )
