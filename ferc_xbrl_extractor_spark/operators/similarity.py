"""Similarity search over embedding columns (G3).

The corpus is the big side (billions of vectors at 100 TB); queries are the
small side. So the brute-force baseline broadcasts the *queries*, computes
dot products map-side over the corpus scan (``zip_with`` + ``aggregate`` —
JVM codegen, no Python), and reduces with one ``row_number() ≤ k`` window
per query, which Spark plans as a two-phase top-k:

    partial WindowGroupLimit (per map partition)
    → one hashpartitioning(query) exchange
    → final WindowGroupLimit

The partial phase cuts the shuffle from |corpus|×|queries| rows to
k × partitions × |queries|, and the final phase's per-query partitions are
tiny — no single-reducer skew even with one query.

The scale path is sign-LSH bucketing (``hyperplane_lsh_topk``): deterministic
pseudo-random hyperplanes (seeded from md5, no RNG state to ship), bucket
equi-join, top-k within bucket. Approximate (recall set by the number of
planes/probes), but the shuffle is keyed by bucket.
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float|double> columns in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_per_key(
    df: DataFrame,
    keys: list[str],
    order_cols: list,
    k: int,
) -> DataFrame:
    """Generic distributed top-k per key.

    Spark ≥3.5 plans ``row_number() ≤ k`` as a map-side partial
    ``WindowGroupLimit`` BEFORE the exchange plus a final one after it
    (SPARK-37099) — the two-phase scalable top-k, natively, with ONE
    ``hashpartitioning(keys)`` shuffle. Output is deterministic for any
    total ``order_cols`` (every caller breaks ties on a unique id).
    """
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for each query vector,
    reduced by :func:`topk_per_key` (the order is total: sim desc,
    neighbor_id).

    Output: (query_id, neighbor_id, sim, rank) with sim rounded to 4
    decimals and rank ties broken by neighbor id (deterministic across
    engines and runs).
    """
    # Norms hoisted below the join: one O(d) fold per document / per query
    # instead of two per scored pair (same float expression — dot/(nq*nc)).
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("__qvec"),
            norm(F.col(vec_col)).alias("__nq"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__nc"),
    )
    crossed = c.crossJoin(q)
    if exclude_self:
        crossed = crossed.filter(F.col("neighbor_id") != F.col(query_id_col))
    scored = crossed.select(
        query_id_col,
        "neighbor_id",
        F.round(
            dot(F.col("__qvec"), F.col("__cvec")) / (F.col("__nq") * F.col("__nc")),
            4,
        ).alias("sim"),
    )
    return topk_per_key(
        scored,
        [query_id_col],
        [F.col("sim").desc(), F.col("neighbor_id")],
        k,
    ).select(query_id_col, "neighbor_id", "sim", "rank")


def _plane_coeff(plane: int, dim: int) -> float:
    """Deterministic pseudo-random ±1 hyperplane coefficient derived from
    md5 — identical on every executor with zero broadcast state."""
    h = hashlib.md5(f"{plane}:{dim}".encode()).digest()
    return 1.0 if h[0] & 1 else -1.0


def hyperplane_signature(vec_col: Column, dim: int, planes: int) -> Column:
    """Sign-LSH bucket id: bit p = sign(v · r_p) for ``planes`` fixed
    ±1-valued hyperplanes.

    Expression shape: the plane matrix rides the plan as a constant-folded
    ``planes × dim`` literal array and each projection is the same
    sequential ``zip_with``/``aggregate`` fold the oracle's
    ``list_inner_product`` uses (bitwise-identical doubles). The earlier
    unrolled form (``v[0]*c0 + v[1]*c1 + …`` per plane — planes × dim
    leaf nodes) cost seconds of analyzer/codegen time per query at
    64 × 6 and grows linearly with both; the HOF tree is O(1) in size."""
    # One F.expr per matrix, not planes × dim F.lit calls: each Column op
    # is a py4j round-trip, and the literal-by-literal build costs ~0.8s
    # of driver time per query at 64 × 6.
    pmat = F.expr(
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                f"{_plane_coeff(p, d)!r}D" for d in range(dim)
            )
            + ")"
            for p in range(planes)
        )
        + ")"
    )
    weights = F.expr(
        "array(" + ", ".join(f"{2**p}L" for p in range(planes)) + ")"
    )
    projs = F.transform(
        pmat,
        lambda r: F.aggregate(
            F.zip_with(vec_col, r, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    bits = F.zip_with(
        projs,
        weights,
        lambda pr, w: F.when(pr > 0, w).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate join: (id_a, id_b, sim) for pairs
    with cosine ≥ threshold, id_a < id_b. Scores all pairs via a cross
    join, so it is for oracle-checkable small inputs.
    """
    # Norms are per-row constants: compute them BELOW the join so each is
    # evaluated once per document, not once per candidate pair (cosine()
    # inline would re-run both O(d) norm folds for every pair). The sim
    # expression is the same dot/(na*nb) float arithmetic, just hoisted.
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col)).alias("__na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    joined = a.crossJoin(b)
    sim = dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__sim", sim)
        .filter(F.col("__sim") >= threshold)
        .select("id_a", "id_b", F.round("__sim", 4).alias("sim"))
    )


def _unit(vec_col: Column) -> Column:
    """L2-normalize an array column (zero vectors pass through unscaled).

    The norm is let-bound via a transform over a single-element array so it
    is evaluated ONCE per row. The naive form — ``transform(vec, v -> v /
    norm(vec))`` — re-evaluates the norm aggregate per *element* (O(d²) per
    row), and CollapseProject then substitutes that whole expression into
    every downstream HOF lambda that references the normalized column
    (measured ~10ms/row in ivf_topk's scoring stage: 8 probe clusters ×
    64 elements × a 64-step norm, interpreted). The let-bound form is
    O(d) and stays O(d) under substitution."""
    return F.element_at(
        F.transform(
            F.array(norm(vec_col)),
            lambda n: F.when(
                n > 0, F.transform(vec_col, lambda v: v.cast("double") / n)
            ).otherwise(F.transform(vec_col, lambda v: v.cast("double"))),
        ),
        1,
    )


def ivf_index(
    corpus: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    seed: int = 7,
) -> tuple[DataFrame, DataFrame]:
    """Fit an IVF coarse quantizer and assign every corpus vector to its
    inverted list.

    Spherical k-means: vectors are L2-normalized first, so Euclidean
    k-means centroids order clusters by cosine. Fitting uses MLlib KMeans
    (distributed Lloyd iterations, model broadcast for map-side assignment
    — no driver-side loop over the corpus).

    Returns ``(assigned, centroids)``:
      assigned  — corpus columns + ``__nvec`` (unit vector) + ``__cluster``;
                  at scale, write this bucketed/partitioned by ``__cluster``
                  so probes prune file groups.
      centroids — (``__cluster``, ``__cvec``) with unit centroid vectors;
                  nlist rows, always broadcast-side.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    prepped = corpus.withColumn("__nvec", _unit(F.col(vec_col)))
    feats = prepped.withColumn("__feat", array_to_vector("__nvec"))
    model = KMeans(
        k=nlist,
        seed=seed,
        maxIter=max_iter,
        featuresCol="__feat",
        predictionCol="__cluster",
    ).fit(feats)
    assigned = model.transform(feats).drop("__feat")
    spark = corpus.sparkSession
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    centroids = spark.createDataFrame(
        centers, "__cluster int, __cvec array<double>"
    ).withColumn("__cvec", _unit(F.col("__cvec")))
    return assigned, centroids


def ivf_assign(nvec_col: Column, unit_centroids: list[list[float]]) -> Column:
    """Coarse-quantizer assignment against a *supplied* centroid set,
    compiled into the projection: argmax_i dot(v, c_i), ties to the lowest
    cluster id. No shuffle, no broadcast variable — the quantizer rides
    the plan as a literal nlist×dim matrix, so assignment is a map-side
    expression at any corpus size.

    Expression-shape notes (both alternatives measured and rejected):
    a running-best when-chain duplicates the running-best subtree per step
    (exponential in nlist — 144s at 2k vecs); unrolled literal dot sums
    with ``greatest`` probes blow past janino's 64KB method limit at
    nlist×dim ≈ 512 and drop the whole stage to interpreted execution
    (67s at 20k vecs). The higher-order form below keeps the tree tiny:
    ``transform`` over the constant-folded centroid matrix computes each
    dot as the same sequential fold the oracle's ``list_inner_product``
    uses, and ``array_position(dots, array_max(dots))`` is the
    first-match (lowest-cluster-tie) argmax."""
    cmat = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in cent])
            for cent in unit_centroids
        ]
    )
    dots = F.transform(
        cmat,
        lambda c: F.aggregate(
            F.zip_with(nvec_col, c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def unit_centroids_from_rows(vectors: list[list[float]]) -> list[list[float]]:
    """L2-normalize centroid vectors driver-side (IEEE doubles, sequential
    sum — matches ``_unit``/``list_inner_product`` bit-for-bit)."""
    out = []
    for vec in vectors:
        acc = 0.0
        for x in vec:
            acc += float(x) * float(x)
        n = acc ** 0.5
        out.append([float(x) / n for x in vec] if n > 0 else [float(x) for x in vec])
    return out


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids_vectors: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k cosine search: probe the ``nprobe`` inverted
    lists whose centroids are nearest each query, brute-force only inside
    them.

    The search is a join keyed on ``__cluster`` — each query row fans out
    to nprobe rows against a cluster-partitioned corpus, touching
    ~nprobe/nlist of the data. Centroids (nlist rows) are broadcast on both
    the probe and search sides; nothing is ever cross-joined against the
    full corpus. Output schema matches ``cosine_topk``:
    (query_id, neighbor_id, sim, rank).

    ``centroids_vectors`` supplies a pre-fitted coarse quantizer (ordered;
    index = cluster id) instead of fitting k-means here — the
    fit-once/search-many production shape, and with a deterministic
    centroid choice it makes the pruned search path reproducible by a SQL
    oracle (the k-means path is seed-deterministic only within Spark).
    Assignment then happens in the projection via ``ivf_assign`` — no
    fit job at all.
    """
    if centroids_vectors is not None:
        spark = corpus.sparkSession
        ucents = unit_centroids_from_rows(centroids_vectors)
        assigned = corpus.withColumn("__nvec", _unit(F.col(vec_col))).withColumn(
            "__cluster", ivf_assign(F.col("__nvec"), ucents)
        )
        centroids = spark.createDataFrame(
            list(enumerate(ucents)), "__cluster int, __cvec array<double>"
        )
    else:
        assigned, centroids = ivf_index(corpus, id_col=id_col, vec_col=vec_col)
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"), "__nvec", "__cluster"
    )
    # Probe assignment: nearest-nprobe centroids per query (queries are the
    # small side; centroids are tiny — broadcast).
    q = queries.select(
        F.col(id_col).alias(query_id_col), _unit(F.col(vec_col)).alias("__qvec")
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cdist").desc(), F.col("__cluster")
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("__cdist", dot(F.col("__qvec"), F.col("__cvec")))
        .withColumn("__pr", F.row_number().over(probe_w))
        .filter(F.col("__pr") <= nprobe)
        .select(query_id_col, "__qvec", "__cluster")
    )
    scored = (
        c.join(F.broadcast(probes), "__cluster")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            # unit vectors: dot == cosine
            F.round(dot(F.col("__qvec"), F.col("__nvec")), 4).alias("sim"),
        )
    )
    return topk_per_key(
        scored, [query_id_col], [F.col("sim").desc(), F.col("neighbor_id")], k
    ).select(query_id_col, "neighbor_id", "sim", "rank")


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: bucket both sides by sign-LSH signature, join on
    the bucket (keyed shuffle — never a cross join), rank within bucket.
    Vectors in other buckets are unseen (that's the approximation)."""
    sig = lambda col: hyperplane_signature(col, dim, planes)  # noqa: E731
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__nc"),
        sig(F.col(vec_col)).alias("__bucket"),
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__nq"),
        sig(F.col(vec_col)).alias("__bucket"),
    )
    scored = (
        c.join(q, "__bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            # same float math as cosine(): dot / (norm(q) * norm(c)),
            # with the norms hoisted below the join (one fold per row).
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__nq") * F.col("__nc")),
                4,
            ).alias("sim"),
        )
    )
    return topk_per_key(
        scored, [query_id_col], [F.col("sim").desc(), F.col("neighbor_id")], k
    ).select(query_id_col, "neighbor_id", "sim", "rank")


def semantic_pairs(
    df: DataFrame,
    unit_centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style candidate generation (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): embeddings are clustered by a coarse quantizer and
    near-duplicate pairs are scored ONLY within a cluster — the k-means
    partition is the blocking structure that replaces the corpus-wide
    all-pairs join.

    Assignment is ``ivf_assign`` against supplied unit centroids — a
    map-side literal-matrix expression, no shuffle, no fit here (fit once
    with ``ivf_index``; search many). The self-join is keyed on the
    cluster id, so the cost is Σ|cluster|² — bound it by raising nlist
    (SemDeDup uses ~100k clusters at web scale) or sub-bucketing hot
    clusters with ``hyperplane_signature``. Unit vectors make the pair
    score a plain dot product; norms are normalized away below the join,
    never recomputed per pair.

    Returns ``(id_a, id_b, sim)`` with ``id_a < id_b`` and
    cosine ≥ ``threshold``.
    """
    prepped = df.select(
        F.col(id_col), _unit(F.col(vec_col)).alias("__nvec")
    ).withColumn("__cluster", ivf_assign(F.col("__nvec"), unit_centroids))
    a = prepped.select(
        F.col(id_col).alias("id_a"), F.col("__nvec").alias("__va"), "__cluster"
    )
    b = prepped.select(
        F.col(id_col).alias("id_b"), F.col("__nvec").alias("__vb"), "__cluster"
    )
    sim = dot(F.col("__va"), F.col("__vb"))
    return (
        a.join(b, "__cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__sim", sim)
        .filter(F.col("__sim") >= threshold)
        .select("id_a", "id_b", F.round("__sim", 4).alias("sim"))
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v| / 127``,
    ``q_i = round(v_i / scale)`` ∈ [−127, 127] — the standard 4× storage /
    bandwidth cut for ANN candidate scoring, with dequantization
    ``v_i ≈ q_i · scale``.

    Pure Catalyst expressions, one projection over the scan. The scale is
    let-bound through a single-element-array transform (same O(d²)
    substitution trap as ``_unit`` — a naive ``transform(v, x ->
    round(x/scale))`` re-evaluates the array_max fold per element).
    Engine-portable: elements are cast to double before the fold, and
    round() ties cannot occur in practice (a tie needs v_i/scale exactly
    half-integral; the only guaranteed-exact quotient is ±127.0 at the
    max element, which rounds identically everywhere).
    """
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    zeros = F.transform(v, lambda x: F.lit(0))
    q = F.element_at(
        F.transform(
            F.array((amax / F.lit(127.0)).alias("s")),
            lambda s: F.when(
                s > 0,
                F.transform(v, lambda x: F.round(x.cast("double") / s).cast("int")),
            ).otherwise(zeros),
        ),
        1,
    )
    return df.withColumn(scale_col, amax / F.lit(127.0)).withColumn(out_col, q)


def dequantize(q_col: str | Column = "q", scale_col: str | Column = "q_scale") -> Column:
    """Reconstruct approximate double vectors from ``quantize_int8`` output
    (let-bound scale; O(d) under substitution)."""
    q = F.col(q_col) if isinstance(q_col, str) else q_col
    s = F.col(scale_col) if isinstance(scale_col, str) else scale_col
    return F.element_at(
        F.transform(
            F.array(s), lambda sc: F.transform(q, lambda x: x.cast("double") * sc)
        ),
        1,
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k neighbors scored on int8-quantized vectors — the
    memory-bound ANN pattern (4× less candidate bandwidth than float32;
    rerank survivors with exact floats downstream if needed).

    The symmetric per-vector scales CANCEL in cosine:
    ``cos(q·s_q, c·s_c) = Σ(q_i c_i) / (√Σq_i² · √Σc_i²)`` — so the
    quantized similarity is a pure function of the integer vectors:
    integer dot and integer norms are exact, and the final divide/sqrt
    of exact integers is the same double in every engine. That makes
    this approximate operator *exactly* oracle-checkable (same bar as
    the md5-seeded LSH family).

    Same plan shape as ``cosine_topk``: quantize map-side, broadcast the
    quantized queries, integer fold per pair, single-window top-k (the
    planner's own WindowGroupLimit two-phases it — see topk_per_key).
    """
    qc = quantize_int8(corpus, vec_col, out_col="__q", scale_col="__s")
    qq = quantize_int8(queries, vec_col, out_col="__q", scale_col="__s")

    def int_norm(col: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                col, F.lit(0).cast("long"), lambda acc, x: acc + x * x
            ).cast("double")
        )

    q = F.broadcast(
        qq.select(
            F.col(id_col).alias(query_id_col),
            F.col("__q").alias("__qvec"),
            int_norm(F.col("__q")).alias("__nq"),
        )
    )
    c = qc.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__q").alias("__cvec"),
        int_norm(F.col("__q")).alias("__nc"),
    )
    crossed = c.crossJoin(q)
    if exclude_self:
        crossed = crossed.filter(F.col("neighbor_id") != F.col(query_id_col))
    int_dot = F.aggregate(
        F.zip_with(F.col("__qvec"), F.col("__cvec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = crossed.select(
        query_id_col,
        "neighbor_id",
        F.round(
            int_dot.cast("double") / (F.col("__nq") * F.col("__nc")), 4
        ).alias("qsim"),
    )
    return topk_per_key(
        scored,
        [query_id_col],
        [F.col("qsim").desc(), F.col("neighbor_id")],
        k,
    ).select(query_id_col, "neighbor_id", "qsim", "rank")


def recall_report(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against the exact
    one: ``|approx ∩ exact| / |exact|`` — the measurement loop that tunes
    LSH plane counts / IVF nprobe before committing a 100-TB ANN sweep.

    Returns ``(query_col, n_exact, n_hit, recall)``, one row per query
    present in ``exact``; queries the approximate index missed entirely
    get ``recall = 0.0`` (a left join, so silent full misses are visible
    rather than dropped).

    Scale shape: one semi join on (query, neighbor) + two query-keyed
    count aggregates (map-side combinable). Both inputs are top-k
    relations — |queries| x k rows, tiny next to the corpora that
    produced them — so every join here AQE-broadcasts; nothing touches
    the original vectors.
    """
    e = exact.select(F.col(query_col), F.col(neighbor_col))
    a = approx.select(F.col(query_col), F.col(neighbor_col))
    n_exact = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = (
        e.join(a, [query_col, neighbor_col], "left_semi")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        n_exact.join(n_hit, query_col, "left")
        .select(
            query_col,
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0))
                / F.col("n_exact").cast("double"),
                4,
            ).alias("recall"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
    max_benchmark: int = 10_000,
) -> DataFrame:
    """Embedding-space decontamination: flag corpus documents
    whose embedding is too close to any benchmark/eval-set embedding —
    the semantic companion to the n-gram shingle probe in
    ``neardup.decontaminate`` (G15), catching paraphrased or re-worded
    eval leakage that exact shingles miss.

    Returns, per corpus row: ``max_bench_sim`` (highest cosine against
    the benchmark, rounded 4dp), ``nearest_bench_id`` (ties to the lowest
    benchmark id), and ``contaminated`` (sim >= threshold; False when the
    corpus vector has zero norm).

    Scale shape — the corpus is the 100-TB side, the benchmark is an
    eval suite (10^3-10^5 vectors): the benchmark is collected once
    (bounded by ``max_benchmark``; raises beyond) and compiled into the
    projection as a literal (vector, norm, id) struct matrix — the
    ``ivf_assign`` pattern — so scoring is ONE codegen'd map-side
    expression over the corpus scan: zero shuffle, zero join, zero
    broadcast variable at any corpus size. Dots fold sequentially and
    benchmark norms are driver-computed with the same IEEE-double
    sequential sum, so results are bitwise-reproducible in any engine
    (the DuckDB oracle replays them exactly).

    The corpus vector's norm is let-bound once per row (see ``_unit`` —
    the naive form re-evaluates the O(d) norm fold per benchmark entry).

    The scoring is a stateless projection, so it works unchanged on a
    STREAMING corpus (readStream in, writeStream out — see
    tests/test_streaming.py).
    """
    bid_col = bench_id_col or id_col
    bvec_col = bench_vec_col or vec_col
    rows = benchmark.select(bid_col, bvec_col).limit(
        max_benchmark + 1
    ).collect()
    if len(rows) > max_benchmark:
        raise ValueError(
            f"benchmark exceeds max_benchmark={max_benchmark} — raise "
            "the bound (plan-literal cost grows with |benchmark|×dim)"
        )
    # ONE F.expr for the whole matrix, not |benchmark|×dim F.lit
    # calls: each Column op is a py4j round-trip (the
    # hyperplane_signature lesson — literal-by-literal costs ~2ms
    # per literal of driver time, ~35s at 256×64).
    entries = []
    for r in rows:
        vec = [float(x) for x in r[bvec_col]]
        acc = 0.0
        for x in vec:
            acc += x * x
        nb = acc ** 0.5
        if nb == 0.0:
            raise ValueError(
                f"benchmark vector {r[bid_col]!r} has zero norm"
            )
        arr = ", ".join(f"{x!r}D" for x in vec)
        entries.append(
            f"named_struct('v', array({arr}), "
            f"'nb', {nb!r}D, 'bid', {int(r[bid_col])}L)"
        )
    bmat = F.expr("array(" + ", ".join(entries) + ")")
    vcol = F.col(vec_col)

    def scored(nv: Column) -> Column:
        sims = F.transform(
            bmat,
            lambda e: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            vcol, e["v"], lambda x, y: x.cast("double") * y
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    / (nv * e["nb"]),
                    4,
                ).alias("sim"),
                (-e["bid"]).alias("negid"),
            ),
        )
        return F.when(nv > 0, F.array_max(sims))

    best = F.element_at(
        F.transform(F.array(norm(vcol)), scored), 1
    )
    # Three field accesses on __best below stay one evaluation:
    # top-level Project subexpression elimination (codegen CSE)
    # covers the collapsed projection.
    return corpus.withColumn("__best", best).select(
        *corpus.columns,
        F.col("__best")["sim"].alias("max_bench_sim"),
        (-F.col("__best")["negid"]).cast("long").alias(
            "nearest_bench_id"
        ),
        F.coalesce(
            F.col("__best")["sim"] >= F.lit(float(threshold)),
            F.lit(False),
        ).alias("contaminated"),
    )


def hard_negative_pairs(
    corpus: DataFrame,
    anchors: DataFrame,
    k_neg: int = 5,
    n_pos: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
) -> DataFrame:
    """Contrastive training-pair mining (the DPR/SimCSE data-prep step):
    for each anchor vector, the ``n_pos`` most-similar SAME-label vectors
    (positives) and the ``k_neg`` most-similar DIFFERENT-label vectors —
    the *hard* negatives that actually move an embedding model, versus
    easy random ones. Output rows: (anchor_id, neighbor_id, role
    'pos'|'neg', sim, rank), rank per (anchor, role), ties by neighbor id.

    Label semantics: roles compare with null-safe equality, so two NULL
    labels pair as 'pos'; a NULL vs non-NULL label is 'neg'. Self-pairs
    are always excluded.

    Scale shape: anchors are the query side of the G3 brute-force scorer
    — explicitly broadcast, corpus scanned once, then ONE top-k per
    (anchor, role) via the planner's own map-side WindowGroupLimit (the
    exchange carries ≤ (k·partitions) rows per anchor-role, never the
    scored cross product).
    """
    a = anchors.select(
        F.col(id_col).alias(anchor_id_col),
        F.col(vec_col).alias("__avec"),
        norm(F.col(vec_col)).alias("__na"),
        F.col(label_col).alias("__albl"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__nc"),
        F.col(label_col).alias("__clbl"),
    )
    scored = c.crossJoin(F.broadcast(a)).filter(
        F.col("neighbor_id") != F.col(anchor_id_col)
    ).select(
        anchor_id_col,
        "neighbor_id",
        F.when(F.col("__clbl").eqNullSafe(F.col("__albl")), F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("role"),
        F.round(
            dot(F.col("__avec"), F.col("__cvec"))
            / (F.col("__na") * F.col("__nc")),
            4,
        ).alias("sim"),
    )
    ranked = topk_per_key(
        scored,
        [anchor_id_col, "role"],
        [F.col("sim").desc(), F.col("neighbor_id")],
        max(k_neg, n_pos),
    )
    return ranked.filter(
        F.col("rank")
        <= F.when(F.col("role") == "pos", F.lit(n_pos)).otherwise(
            F.lit(k_neg)
        )
    ).select(anchor_id_col, "neighbor_id", "role", "sim", "rank")


def ranking_report(
    results: DataFrame,
    relevant: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query ranking-quality metrics for a retrieval result against a
    binary relevance set: ``mrr`` (1/rank of the first relevant hit) and
    ``ndcg`` (DCG@k with 1/log2(rank+1) gains over the ideal DCG for the
    query's relevant count), plus ``n_relevant`` and ``n_hit`` — the
    companion to :func:`recall_report` when result ORDER matters (ANN
    serving, rerankers), not just set overlap.

    ``results`` carries (query, neighbor, rank) with rank 1-based and
    unique per query (the shape every top-k operator here emits);
    ``relevant`` carries (query, neighbor) judged pairs. Queries present
    in ``relevant`` but absent from ``results`` report zero metrics (a
    left join from the relevance side — silent full misses are visible).

    DCG gains ride as integer micro-gains — ``round(1e6/log2(r+1))`` per
    rank, a k-entry literal lookup table (the G38 micro-nat trick): the
    per-query gain sum is an exact long aggregate (order-free, no float
    summation), the ideal DCG is a literal prefix-sum lookup, and the
    final ``ndcg = round(dcg_micro/idcg_micro, 4)`` is one deterministic
    double division — bitwise-reproducible in any engine with no ln
    primitive in the plan at all. Scale shape: one inner join on (query,
    neighbor) + two query-keyed aggregates — inputs are top-k and
    judgment relations (|queries|·k rows), tiny next to the corpus, so
    joins AQE-broadcast and nothing touches vectors.
    """
    import math

    if k < 1:
        raise ValueError("k must be >= 1")
    micro_gains = [
        int(round(1e6 / math.log2(r + 1))) for r in range(1, k + 1)
    ]
    prefix = []
    acc = 0
    for g in micro_gains:
        acc += g
        prefix.append(acc)
    gain_lut = F.array(*[F.lit(g).cast("long") for g in micro_gains])
    idcg_lut = F.array(*[F.lit(p).cast("long") for p in prefix])
    rel = relevant.select(
        F.col(query_col), F.col(neighbor_col)
    ).dropDuplicates([query_col, neighbor_col])
    res = results.filter(F.col(rank_col) <= k).select(
        F.col(query_col), F.col(neighbor_col), F.col(rank_col)
    )
    hits = res.join(rel, [query_col, neighbor_col]).select(
        F.col(query_col),
        F.col(rank_col),
        F.element_at(gain_lut, F.col(rank_col).cast("int")).alias("__g"),
    )
    per_q_hits = hits.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.min(rank_col).alias("__first_rank"),
        F.sum("__g").alias("__dcg"),
    )
    n_rel = rel.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_relevant")
    )
    m = F.least(F.col("n_relevant"), F.lit(k)).cast("int")
    return (
        n_rel.join(per_q_hits, query_col, "left")
        .select(
            query_col,
            "n_relevant",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("__first_rank"), F.lit(0.0)
                ),
                4,
            ).alias("mrr"),
            F.round(
                F.coalesce(
                    F.col("__dcg").cast("double")
                    / F.element_at(idcg_lut, m).cast("double"),
                    F.lit(0.0),
                ),
                4,
            ).alias("ndcg"),
        )
    )


RRF_MICRO = 10**9


def rrf_fuse(
    rankings: list[DataFrame],
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
    k0: int = 60,
    k: int | None = None,
) -> DataFrame:
    """G80: reciprocal-rank fusion of N retriever rankings (Cormack,
    Clarke & Büttcher, SIGIR'09): each list contributes ``1/(k0 + rank)``
    per (query, item); items are re-ranked by the summed score. The
    standard zero-training way to combine lexical (BM25) and dense (ANN)
    retrieval into one hybrid result — k0=60 per the paper.

    Contributions ride as exact integer micro-units
    ``RRF_MICRO div (k0 + rank)`` (the G44 micro-gain trick): the fused
    score is an order-free long sum, bitwise-reproducible across engines
    and partitionings — no float summation in the aggregate. Returns
    ``(query, item, n_lists, rrf_micro, fused_rank)`` with ``fused_rank``
    dense over (rrf_micro DESC, item ASC); ``k`` keeps the top fused k
    per query.

    Scale shape: the inputs are top-k relations (|queries| × k rows each,
    tiny next to the corpora that produced them), so the union is
    map-side, the (query, item) aggregate is map-side combinable, and the
    per-query re-rank window partitions on the query key with ≤ N·k rows
    per partition — nothing here touches vectors or documents, and no
    relation grows with the corpus.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k0 < 1:
        raise ValueError("k0 must be >= 1")
    contribs = [
        r.select(
            F.col(query_col),
            F.col(item_col),
            F.expr(
                f"{RRF_MICRO}L div ({k0}L + cast({rank_col} as long))"
            ).alias("__c"),
        )
        for r in rankings
    ]
    unioned = reduce(DataFrame.union, contribs)
    fused = unioned.groupBy(query_col, item_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.sum("__c").cast("long").alias("rrf_micro"),
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_micro").desc(), F.col(item_col)
    )
    out = fused.select(
        query_col,
        item_col,
        "n_lists",
        "rrf_micro",
        F.row_number().over(w).cast("int").alias("fused_rank"),
    )
    if k is not None:
        out = out.filter(F.col("fused_rank") <= k)
    return out


def knn_join(
    df: DataFrame,
    centroids_vectors: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """G77: k-nearest-neighbor SELF-join — every vector's ``k`` nearest
    neighbors by cosine, under IVF blocking. The relation behind semantic
    near-dup graphs, recommendation candidates, and kNN-classifier
    features; :func:`ivf_topk` is the few-queries-vs-corpus search, this
    is the N-vs-N form where the query side IS the corpus and nothing may
    be broadcast or cross-joined.

    Both probe assignments happen MAP-SIDE against the literal centroid
    matrix (:func:`ivf_assign`'s expression shape): the corpus side keys
    on its home list (probe 0), the query side fans out to its ``nprobe``
    nearest lists by iterative argmax-with-masking over a materialized
    dots column — positions are masked, not values, so exact-tie clusters
    resolve lowest-id-first, the same ``(dot DESC, cluster ASC)`` order a
    SQL replay's ``row_number`` uses. The ONE shuffle is the equi-join on
    the list id (both sides hash-partition by cluster; Σ|list|·|probes
    into list| pair work, never N²); unit-normalizing before the join
    makes each pair score a single dot product.

    Exact within the probed lists — the usual IVF recall/nprobe tradeoff;
    measure with :func:`recall_report` against a ``cosine_topk`` sample.
    Returns ``(id_col, neighbor_id, sim, rank)``, ``rank`` 1..k by
    (sim desc, neighbor_id).
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if nprobe > len(centroids_vectors):
        raise ValueError(
            f"nprobe {nprobe} exceeds nlist {len(centroids_vectors)}"
        )
    ucents = unit_centroids_from_rows(centroids_vectors)
    nlist = len(ucents)
    cmat = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in ucents]
    )
    nvec = _unit(F.col(vec_col))
    dots = F.transform(
        cmat,
        lambda c: F.aggregate(
            F.zip_with(nvec, c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    # Top-nprobe list ids as ONE expression: zip dots with their cluster
    # ids, array_sort by (dot DESC, cluster ASC) — exact float ties
    # resolve lowest-id-first, the order a SQL replay's row_number uses —
    # and slice. A per-probe argmax-and-mask column chain was measured
    # 10x slower: project collapsing re-inlines the nlist×dim matrix
    # product into every derived column and codegen blows up.
    tagged = F.zip_with(
        dots,
        F.sequence(F.lit(0), F.lit(nlist - 1)),
        lambda d, i: F.struct(d.alias("d"), i.cast("int").alias("i")),
    )
    ranked = F.array_sort(
        tagged,
        lambda a, b: F.when(a["d"] > b["d"], F.lit(-1))
        .when(a["d"] < b["d"], F.lit(1))
        .otherwise(a["i"] - b["i"])
        .cast("int"),
    )
    probes_arr = F.transform(
        F.slice(ranked, 1, nprobe), lambda s: s["i"]
    )
    base = df.select(
        F.col(id_col), nvec.alias("__nvec"), probes_arr.alias("__probes")
    )
    corpus = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__nvec").alias("__cv"),
        # home list = nearest centroid = probe 0
        F.element_at("__probes", 1).alias("__cluster"),
    )
    queries = base.select(
        id_col,
        F.col("__nvec").alias("__qv"),
        F.explode("__probes").alias("__cluster"),
    )
    scored = (
        queries.join(corpus, "__cluster")
        .filter(F.col("neighbor_id") != F.col(id_col))
        .select(
            id_col,
            "neighbor_id",
            F.round(dot(F.col("__qv"), F.col("__cv")), 4).alias("sim"),
        )
    )
    return topk_per_key(
        scored, [id_col], [F.col("sim").desc(), F.col("neighbor_id")], k
    ).select(id_col, "neighbor_id", "sim", "rank")


def _rp_coeff(out_row: int, d: int, salt: str) -> float:
    """Deterministic ±1 projection coefficient derived from md5 —
    identical on every executor AND buildable by a SQL oracle (the
    matrix is a literal), zero broadcast state."""
    h = hashlib.md5(f"{salt}:{out_row}:{d}".encode()).digest()
    return 1.0 if h[0] & 1 else -1.0


def rp_matrix(dim: int, out_dim: int, salt: str = "rp") -> list[list[float]]:
    """The G78 projection matrix as plain Python floats — exposed so
    tests and SQL oracles can rebuild the identical literal."""
    return [
        [_rp_coeff(j, d, salt) for d in range(dim)] for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    dim: int,
    out_dim: int,
    vec_col: str = "embedding",
    out_col: str = "rp",
    salt: str = "rp",
) -> DataFrame:
    """G78: Johnson-Lindenstrauss random projection — compress an
    embedding column from ``dim`` to ``out_dim`` with a fixed ±1 matrix
    scaled by ``1/sqrt(out_dim)`` (Achlioptas 2003: database-friendly
    random projections). Pairwise distances survive within the JL bound,
    so downstream ANN / near-dup / clustering run on vectors
    ``dim/out_dim``× smaller — at 100 TB the embedding column is often
    the corpus' biggest payload, and halving it halves every vector
    shuffle (compose with :func:`quantize_int8` for another 4×).

    Purely map-side: the matrix rides the plan as a constant-folded
    literal (the :func:`hyperplane_signature` expression shape — one
    ``F.expr``, not out_dim×dim ``F.lit`` py4j round-trips), each output
    component the same sequential fold a SQL ``list_inner_product``
    computes. No shuffle, no fit, no state; the md5-derived coefficients
    make the projection reproducible on any engine from ``(dim,
    out_dim, salt)`` alone.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    if out_dim > dim:
        raise ValueError(
            f"out_dim {out_dim} exceeds input dim {dim} — projection only"
        )
    mat = rp_matrix(dim, out_dim, salt)
    pmat = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{c!r}D" for c in row) + ")"
            for row in mat
        )
        + ")"
    )
    scale = 1.0 / (out_dim ** 0.5)
    vec = F.col(vec_col)
    proj = F.transform(
        pmat,
        lambda r: F.aggregate(
            F.zip_with(vec, r, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * F.lit(scale),
    )
    return df.withColumn(out_col, proj)


def margin_mine(
    left: DataFrame,
    right: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_micro: int = 1_000_000,
) -> DataFrame:
    """G102: margin-based parallel-pair mining between two embedding
    corpora (Artetxe & Schwenk ACL'19, the CCMatrix/LASER reduction):
    raw cosine ranks badly across corpora because some vectors sit in
    dense neighborhoods where EVERYTHING scores high — the margin
    renormalizes each candidate pair's cosine by the mean cosine of
    both endpoints' k-NN neighborhoods,

      margin(x, y) = cos(x, y) / ((mean_kNN(x) + mean_kNN(y)) / 2)

    keeping pairs that stand OUT of their neighborhoods. The training-
    data uses: bitext mining for translation corpora, cross-corpus
    semantic alignment (doc ↔ summary, code ↔ doc), and
    candidate-pair generation for G27-style semantic dedup ACROSS
    corpora.

    Candidates are the union of forward (each left vector's top-k in
    right) and backward top-k — a pair only needs to surface in ONE
    direction.

    Returns ``(id_a, id_b, sim_micro, margin_micro)`` for pairs with
    ``margin_micro ≥ threshold_micro`` (1_000_000 = margin 1.0). Float
    discipline (the G93 rule): the per-pair cosine is rounded to 4 dp
    — the same expression the g3 oracle replays — then quantized to
    integer micro-units, so every aggregate downstream is an
    order-free long sum and the margin is ONE exact integer division;
    pairs whose neighborhood-mean denominator is ≤ 0 (possible with
    adversarial negative-cosine neighborhoods) yield NULL margin and
    are dropped by the threshold, never a divide error.

    Scale shape: two brute top-k passes (G3's ``cosine_topk``; swap in
    :func:`ivf_topk` candidates for corpora past the brute regime —
    the margin arithmetic is agnostic to where candidates came from),
    two O(|corpus|) keyed mean aggregates, one candidate-keyed
    aggregate, two keyed joins. Nothing is ever all-pairs beyond the
    scored top-k passes themselves.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    micro = lambda c: F.round(c * 1_000_000).cast("long")  # noqa: E731
    fwd = cosine_topk(
        right, left, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col="id_a", exclude_self=False,
    ).select(
        "id_a",
        F.col("neighbor_id").alias("id_b"),
        micro(F.col("sim")).alias("__sm"),
        "rank",
    )
    bwd = cosine_topk(
        left, right, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col="id_b", exclude_self=False,
    ).select(
        F.col("neighbor_id").alias("id_a"),
        "id_b",
        micro(F.col("sim")).alias("__sm"),
        "rank",
    )
    mean_a = fwd.groupBy("id_a").agg(
        F.expr("sum(__sm) div count(1)").alias("__ma")
    )
    mean_b = bwd.groupBy("id_b").agg(
        F.expr("sum(__sm) div count(1)").alias("__mb")
    )
    cands = (
        fwd.select("id_a", "id_b", "__sm")
        .unionByName(bwd.select("id_a", "id_b", "__sm"))
        .groupBy("id_a", "id_b")
        .agg(F.max("__sm").alias("sim_micro"))
    )
    den = F.col("__ma") + F.col("__mb")
    margin = F.when(
        den > 0,
        F.expr(f"(2 * sim_micro * {1_000_000}) div (__ma + __mb)"),
    ).otherwise(F.lit(None))
    return (
        cands.join(mean_a, "id_a")
        .join(mean_b, "id_b")
        .withColumn("margin_micro", margin.cast("long"))
        .filter(F.col("margin_micro") >= threshold_micro)
        .select("id_a", "id_b", "sim_micro", "margin_micro")
    )
