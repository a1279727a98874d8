"""Link-graph quality propagation (G65): integer-exact PageRank.

Crawl-scale curation pipelines rank hosts/pages by link-graph centrality
(CommonCrawl's harmonic-centrality rankings, PageRank-weighted crawl
frontiers) and use the score as a quality prior alongside the text
signals (G4/G28/G34). This module provides the propagation primitive as
plain DataFrame ops.

Scale shape — per iteration:
  edges ⟕ ranks on ``src``   (ranks arrives hash-partitioned on the key
                              straight from the previous round's
                              aggregate — its exchange is reused; the
                              edge side's keyed exchange is canonically
                              identical across rounds and reused too)
  → per-edge contribution    (pure projection, integer floor arithmetic;
                              a source absent from ``ranks`` holds the
                              closed-form constant — see below)
  → groupBy(dst).sum         (map-side partial combine — a hub page's
                              in-links combine before the shuffle).
Intermediate rounds iterate over the CONTRIBUTING relation alone
(nodes that appear as a ``dst``): a node with no in-links scores
exactly ``base`` from round 1 on (and the uniform ``unit // n`` at
round 0), so instead of a per-round left join onto the full node list
— a third keyed exchange per round in the r7 form — the constant is
folded into a ``coalesce`` on the source side of the edge join and the
node list is joined back ONCE at final read-off. Round 1 needs no rank
join at all (every source holds the uniform r0). The ranks relation is
O(|dst nodes|); iterative lineage is cut periodically with
``localCheckpoint`` so long runs never compound the plan (same policy
as ``neardup.connected_components``). The node list is checkpointed
once (eager, ContextCleaner-reclaimed — no cache registration to
leak); the degreed edge relation stays lazy.

Integer exactness: ranks live in micro-units; every division is a
``floor`` on integers, so the recurrence
  r_{t+1}(v) = BASE + Σ_{u→v} floor(85 · r_t(u) / (100 · outdeg(u)))
  BASE       = floor(15 · 1_000_000 / (100 · N))
is bit-replayable by a SQL oracle that unrolls the same iterations (the
G37 k-means pattern). Dangling mass (nodes with no out-edges) is
dropped, not redistributed — the standard simplification; scores remain
a valid quality ORDERING, which is what curation consumes.

No reference counterpart (the reference is an XBRL ETL); SURVEY.md
§2.12 gap surface, G-series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _edges_with_outdegree(e: DataFrame) -> DataFrame:
    """Attach out-degree to a (__s, __d) edge relation as ``__deg``.

    Shape pin (tests/test_gap_operators.py): a groupBy aggregate joined
    back — map-side combinable, AQE-skew-splittable — never a count
    window partitioned by __s, which would serialize a hub source's
    whole out-edge list through one task."""
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    return e.join(deg, "__s")


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    unit: int = 1_000_000,
    seeds: list | None = None,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list — uniform or
    PERSONALIZED (G87: seed-restart, Haveliwala WWW'02).

    Args:
        edges: (src, dst) relation; duplicate edges are collapsed (a
            link counts once, like the crawl-graph convention).
        iters: Lloyd-style fixed iteration count — fixed, not
            convergence-tested, so the oracle can unroll it.
        damping_pct: damping factor in percent (85 = the classic 0.85).
        unit: micro-unit scale for the integer ranks.
        seeds: optional restart set — teleport mass lands ONLY on these
            nodes (``base = (100-damping)%·unit // (100·|seeds|)`` per
            seed, zero elsewhere; r0 = ``unit // |seeds|`` on seeds).
            The crawl-curation use: seed with a trusted domain list and
            ranks measure closeness-to-trust (TrustRank-style priors)
            instead of global centrality. Seed sets are operator
            literals (a trusted-domain list, not a relation), so
            membership compiles to an in-plan ``isin`` — no join, no
            broadcast, and the SQL oracle replays it as ``IN``. Seeds
            absent from the graph's node set are ignored in the OUTPUT
            domain but still count in |seeds| (mass parked on them
            drops, like dangling mass).

    Returns (node, rank_micro) — higher is more central. Total mass is
    NOT conserved (dangling mass drops); consumers use the ordering.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if seeds is not None and len(seeds) == 0:
        raise ValueError("seeds must be a non-empty list (or None)")
    raw = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    e = raw.distinct()
    # nodes is consumed twice (count, final read-off); an EAGER
    # localCheckpoint materializes the O(|nodes|) relation once and lets
    # ContextCleaner reclaim the blocks when the result is dropped —
    # unlike persist(), which stays registered in the CacheManager until
    # an explicit unpersist (the r6 form leaked one cached relation per
    # call on a long-lived session). Only this tiny relation is
    # checkpointed: materializing anything bigger eagerly executes its
    # subplan WITHOUT adaptive query execution (measured 0.7 → 7.9s at
    # sf0.1 when the final ranks were eagerly cut). The subplan is built
    # from the PRE-distinct edge projection via explode — the node set
    # is identical (duplicates collapse in the node-level distinct) and
    # skipping the O(|edges|) distinct aggregate inside this non-AQE
    # checkpoint execution halved the operator's wall-clock at sf0.1
    # (1.26 → 0.67s); it also means edges scan once here, not twice
    # (the r7 union form scanned the edge subplan per branch).
    nodes = (
        raw.select(F.explode(F.array("__s", "__d")).alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # bounded: one long, served from the checkpoint
    # teleport mass = (100 - damping_pct)% of unit, per node — derived
    # from the SAME parameter the edge contributions scale by (a
    # hardcoded 15 here silently broke every damping_pct != 85: total
    # per-round mass would exceed/undershoot 1). Personalized form:
    # the same mass concentrates on the |seeds| restart nodes.
    base = ((100 - damping_pct) * unit) // (100 * (len(seeds) if seeds is not None else n))

    def _base_of(col):
        # per-node teleport: uniform `base`, or base·1[node ∈ seeds]
        if seeds is None:
            return F.lit(base).cast("long")
        return F.when(col.isin(seeds), F.lit(base)).otherwise(
            F.lit(0)
        ).cast("long")

    def _r0_of(col):
        r0 = unit // (len(seeds) if seeds is not None else n)
        if seeds is None:
            return F.lit(r0).cast("long")
        return F.when(col.isin(seeds), F.lit(r0)).otherwise(
            F.lit(0)
        ).cast("long")
    # out-degree rides WITH the edge relation (one join per iteration,
    # not two). Degree is a groupBy aggregate joined back — map-side
    # combinable and AQE-skew-splittable — NOT a count window: a window
    # partitioned by __s would serialize a hub source's entire out-edge
    # list (10⁷ links for an index page in a crawl graph) through one
    # task at this one-time materialization. e2 stays LAZY: its keyed
    # exchange is canonically identical across the iteration references,
    # so exchange reuse shuffles the edge relation once per action — no
    # cache registration to leak.
    e2 = _edges_with_outdegree(e)
    # Personalized (seeded) teleport is FOLDED into the edge relation
    # ONCE (r8 verdict #4): the seed-membership CASE-over-IN used to
    # ride the coalesce of every round's join (per edge per round) and
    # the read-off projection of every round's aggregate (per node per
    # round). Seeds are literals, so the per-endpoint teleport mass is a
    # pure projection — evaluate it here as __sbase/__dbase columns and
    # the rounds revert to g65's exact shape: the coalesce reads a
    # column, the aggregate carries the dst mass as a combinable
    # max(__dbase) (constant within each group by construction).
    # Measured at sf0.1 (g87_ppr, 20 seeds): 1.6 → ~0.7s. The uniform
    # path keeps plain literals — adding constant columns to the edge
    # exchange would only widen its shuffle rows.
    if seeds is not None:
        e2 = e2.select(
            "*",
            _base_of(F.col("__s")).alias("__sbase"),
            _base_of(F.col("__d")).alias("__dbase"),
        )
    # Intermediate ranks cover ONLY nodes that receive in-links (the
    # groupBy(dst) output). A node absent from that relation scores the
    # closed-form constant every round — unit//n at round 0, base after
    # — so its rank is supplied by a coalesce on the edge join instead
    # of a per-round left join onto the full node list (the r7 form's
    # third keyed exchange per round). Round 1 is join-free: every
    # source holds the uniform r0.
    ranks: DataFrame | None = None
    for t in range(1, iters + 1):
        if ranks is None:
            joined = e2
            src_rank = _r0_of(F.col("__s"))
        else:
            joined = e2.join(ranks, e2["__s"] == ranks["node"], "left")
            src_rank = F.coalesce(
                F.col("node_rank"),
                F.col("__sbase") if seeds is not None
                else F.lit(base).cast("long"),
            )
        contrib = joined.select(
            F.col("__d").alias("node"),
            F.floor(
                F.lit(damping_pct) * src_rank
                / (F.lit(100) * F.col("__deg"))
            ).cast("long").alias("__c"),
            *([F.col("__dbase")] if seeds is not None else []),
        )
        if seeds is not None:
            ranks = (
                contrib.groupBy("node")
                .agg(
                    F.sum("__c").cast("long").alias("__sum"),
                    F.max("__dbase").alias("__b"),
                )
                .select(
                    "node",
                    (F.col("__b") + F.col("__sum"))
                    .cast("long").alias("node_rank"),
                )
            )
        else:
            ranks = (
                contrib.groupBy("node")
                .agg(F.sum("__c").cast("long").alias("__sum"))
                .select(
                    "node",
                    (F.lit(base).cast("long") + F.col("__sum"))
                    .cast("long").alias("node_rank"),
                )
            )
        # Unlike connected_components (whose convergence test forces an
        # action every round), the iteration count here is FIXED — so
        # rounds chain into ONE job and the lineage cut is only needed
        # periodically to keep the plan bounded on long runs. A cut
        # every round tripled wall-clock at sf0.1 (per-round job
        # barriers, ~0.5s each on local[32]).
        if t % 8 == 0 and t < iters:
            ranks = ranks.localCheckpoint(eager=False)
    # ONE read-off join restores the in-linkless nodes at exactly base
    # (algebraically identical to the per-round left join: a node never
    # present in any contrib relation scores base every round >= 1).
    return nodes.join(ranks, "node", "left").select(
        "node",
        F.coalesce(F.col("node_rank"), _base_of(F.col("node")))
        .cast("long").alias("node_rank"),
    )


def pagerank_oracle_sql(
    edges_sql: str,
    iters: int = 3,
    damping_pct: int = 85,
    unit: int = 1_000_000,
    seeds: list | None = None,
) -> str:
    """ANSI-SQL replay of :func:`pagerank` with the iterations UNROLLED
    (recursive CTEs cannot aggregate over the recursive term, so the
    loop is generated — the same pattern as the G37 k-means oracle).
    Mirrors the deferred-read-off structure: intermediate rounds cover
    only contributing (in-linked) nodes, sources missing from the
    previous round's relation coalesce to the closed-form constant, and
    the full node list is joined back once at the end. With ``seeds``
    (the G87 personalized form), the per-node teleport and r0 constants
    become CASE-over-IN expressions on the same literal list the
    operator compiled to ``isin``.
    ``edges_sql`` must yield columns (src, dst)."""

    def _lit(s) -> str:
        # SQL literal, not repr(): a string seed containing a single
        # quote makes repr emit double quotes, which DuckDB parses as
        # an IDENTIFIER — domain seed lists ("o'reilly.com") would
        # break the oracle. Strings single-quote with '' escaping;
        # everything else renders as a plain number.
        if isinstance(s, str):
            return "'" + s.replace("'", "''") + "'"
        return str(s)

    def _case(col: str, then: str) -> str:
        lst = ", ".join(_lit(s) for s in seeds)
        return (
            f"CAST(CASE WHEN {col} IN ({lst}) THEN {then} ELSE 0 END"
            " AS BIGINT)"
        )

    if seeds is None:
        # base = FLOOR((100-damping)*unit / (100*n)) per node
        base_of = lambda col: (  # noqa: E731
            f"CAST(FLOOR(({100 - damping_pct}.0 * {unit}) / (100 * nn.n))"
            " AS BIGINT)"
        )
        r0_of = lambda col: (  # noqa: E731
            f"CAST(FLOOR({unit} * 1.0 / nn.n) AS BIGINT)"
        )
    else:
        k = len(seeds)
        base_lit = ((100 - damping_pct) * unit) // (100 * k)
        r0_lit = unit // k
        base_of = lambda col: _case(col, str(base_lit))  # noqa: E731
        r0_of = lambda col: _case(col, str(r0_lit))  # noqa: E731

    sql = [
        f"e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
        # DuckDB '/' is float division and CAST(double AS BIGINT)
        # ROUNDS — every division goes through an explicit FLOOR.
        # Round 1 is join-free: every source holds its r0.
        f"r1 AS (SELECT e.dst AS node, {base_of('e.dst')} + "
        f"SUM(CAST(FLOOR(({damping_pct} * "
        f"{r0_of('e.src')})"
        f" / (100.0 * outdeg.deg)) AS BIGINT)) AS r "
        "FROM e JOIN outdeg ON e.src = outdeg.src CROSS JOIN nn "
        "GROUP BY e.dst, nn.n)",
    ]
    prev = "r1"
    for t in range(2, iters + 1):
        # a source absent from the previous round's relation holds
        # exactly its base — the coalesce replays the Spark-side fold
        sql.append(
            f"r{t} AS (SELECT e.dst AS node, {base_of('e.dst')} + "
            f"SUM(CAST(FLOOR(({damping_pct} * "
            f"COALESCE({prev}.r, {base_of('e.src')}))"
            f" / (100.0 * outdeg.deg)) AS BIGINT)) AS r "
            f"FROM e JOIN outdeg ON e.src = outdeg.src CROSS JOIN nn "
            f"LEFT JOIN {prev} ON e.src = {prev}.node "
            "GROUP BY e.dst, nn.n)"
        )
        prev = f"r{t}"
    return (
        "WITH " + ",\n".join(sql)
        # SUM(BIGINT) is HUGEINT in DuckDB — cast back so the typed
        # value-hash compare sees int64 on both engines. In-linkless
        # nodes read off at exactly their base, once.
        + f"\nSELECT nodes.node, CAST(COALESCE({prev}.r, "
        f"{base_of('nodes.node')}) AS BIGINT)"
        f" AS node_rank FROM nodes CROSS JOIN nn "
        f"LEFT JOIN {prev} ON nodes.node = {prev}.node"
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """G85: per-node triangle counts by degree-ordered edge orientation
    (Suri & Vassilvitskii, WWW'11 — the "curse of the last reducer"
    fix). Triangle density is the link-graph spam signal PageRank can't
    see: link farms and mutual-citation rings are trianglerich while
    organic link neighborhoods are sparse, so crawl curation thresholds
    on clustering structure next to the G65 rank prior.

    Input is treated as an UNDIRECTED multigraph: direction, self-loops
    and duplicate links are normalized away first. Returns
    ``(node, n_triangles)`` for every node incident to ≥1 canonical
    edge (zeros included).

    Why the orientation matters at 100 TB: the naive wedge join builds
    Σ deg(v)² candidate wedges — a celebrity node with 10⁷ neighbors
    owns 10¹⁴ wedges and one reducer dies. Orienting every edge from
    its (degree, id)-smaller endpoint bounds every out-neighborhood by
    O(√m) (no node keeps more than its rank in the degree order), so
    the wedge join is Σ outdeg(v)² ≤ O(m^1.5) TOTAL with no skewed
    key — each triangle {x,y,z}, π(x)<π(y)<π(z), is generated exactly
    once as the wedge (x→y, x→z) closed by the oriented edge y→z.

    Plan shape: one distinct over canonical edges, one degree
    aggregate joined back (both endpoints), the wedge self-join on the
    oriented source, and a LEFT SEMI join against the oriented edge
    set to close wedges — semi, so closing rows never duplicate. The
    corner explode + count is an |triangles|-row aggregate.
    """
    e = (
        edges.select(F.col(src).alias("__a"), F.col(dst).alias("__b"))
        .filter(F.col("__a") != F.col("__b"))
        .select(
            F.least("__a", "__b").alias("__a"),
            F.greatest("__a", "__b").alias("__b"),
        )
        .distinct()
    )
    deg = (
        e.select(F.col("__a").alias("__n"))
        .union(e.select(F.col("__b").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    ed = (
        e.join(deg.withColumnRenamed("__n", "__a")
                  .withColumnRenamed("__deg", "__da"), "__a")
        .join(deg.withColumnRenamed("__n", "__b")
                 .withColumnRenamed("__deg", "__db"), "__b")
    )
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("__a") < F.col("__b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("__a")).otherwise(F.col("__b")).alias("__u"),
        F.when(a_first, F.col("__b")).otherwise(F.col("__a")).alias("__v"),
        F.when(a_first, F.col("__db")).otherwise(F.col("__da")).alias("__dv"),
    )
    e1 = oriented.select(
        F.col("__u"), F.col("__v").alias("__v1"), F.col("__dv").alias("__d1")
    )
    e2 = oriented.select(
        F.col("__u"), F.col("__v").alias("__v2"), F.col("__dv").alias("__d2")
    )
    # each unordered wedge once: π(v1) < π(v2) in the same (deg, id) order
    wedges = e1.join(e2, "__u").filter(
        (F.col("__d1") < F.col("__d2"))
        | ((F.col("__d1") == F.col("__d2")) & (F.col("__v1") < F.col("__v2")))
    )
    closing = oriented.select(
        F.col("__u").alias("__v1"), F.col("__v").alias("__v2")
    )
    tris = wedges.join(closing, ["__v1", "__v2"], "left_semi").select(
        "__u", "__v1", "__v2"
    )
    corner_counts = (
        tris.select(
            F.explode(F.array("__u", "__v1", "__v2")).alias("__n")
        )
        .groupBy("__n")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select("__n")
        .join(corner_counts, "__n", "left")
        .select(
            F.col("__n").alias("node"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: list,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """G100: bounded multi-source BFS — the minimum hop count from any
    seed to every node, capped at ``max_hops``. The trust-DISTANCE
    complement to G87's trust-MASS: personalized PageRank ranks by
    closeness-weighted volume, this answers the sharper curation
    question "how many links from a trusted domain is this host?"
    (spam-distance cutoffs, crawl-frontier budgeting by depth, blast-
    radius reports around a known-bad seed set).

    Returns ``(node, hops)`` over ALL graph nodes; unreached-within-cap
    nodes carry NULL (visible, never silently dropped). Seeds are
    operator literals like G87's (an ``isin`` in-plan, ``IN`` in the
    oracle); seeds absent from the graph are ignored in the output
    domain. Edges are followed in their direction only.

    Integer-exact and oracle-replayable by :func:`bfs_oracle_sql`: the
    recurrence is a pure min-plus unroll —
      d₀(v)   = 0 if v ∈ seeds
      dₜ(v)   = min(dₜ₋₁(v), 1 + min over edges u→v of dₜ₋₁(u))
    — ``max_hops`` fixed rounds, no floats anywhere.

    Scale shape (the :func:`pagerank` template): per round ONE keyed
    join of the edge relation onto the O(|reached|) distance relation
    (the edge side's exchange is canonically identical across rounds —
    reused) and one map-side-combinable ``min`` aggregate; the distance
    relation only ever carries reached nodes, so early rounds ship
    frontier-sized relations, not graph-sized ones. Node list joined
    back ONCE at read-off (deferred, like pagerank's). Lineage cut
    every 8 rounds.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    if not seeds:
        raise ValueError("seeds must be a non-empty list")
    raw = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    e = raw.distinct()
    nodes = (
        raw.select(F.explode(F.array("__s", "__d")).alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = nodes.filter(F.col("node").isin(seeds)).select(
        "node", F.lit(0).cast("long").alias("hops")
    )
    for t in range(1, max_hops + 1):
        stepped = (
            e.join(dist.withColumnRenamed("node", "__s"), "__s")
            .select(
                F.col("__d").alias("node"),
                (F.col("hops") + 1).alias("hops"),
            )
        )
        dist = (
            dist.unionByName(stepped)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
        if t % 8 == 0 and t < max_hops:
            dist = dist.localCheckpoint(eager=False)
    return nodes.join(dist, "node", "left").select(
        "node", F.col("hops").cast("long").alias("hops")
    )


def bfs_oracle_sql(
    edges_sql: str,
    seeds: list,
    max_hops: int = 3,
) -> str:
    """ANSI-SQL replay of :func:`bfs_hops` with the rounds UNROLLED
    (the :func:`pagerank_oracle_sql` pattern — recursive CTEs cannot
    re-aggregate the recursive term). ``edges_sql`` must yield columns
    (src, dst)."""

    def _lit(s) -> str:
        if isinstance(s, str):
            return "'" + s.replace("'", "''") + "'"
        return str(s)

    seed_list = ", ".join(_lit(s) for s in seeds)
    base = f"SELECT src, dst FROM ({edges_sql})"
    sql = [
        f"e AS (SELECT DISTINCT src, dst FROM ({base}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"d0 AS (SELECT node, CAST(0 AS BIGINT) AS hops FROM nodes "
        f"WHERE node IN ({seed_list}))",
    ]
    prev = "d0"
    for t in range(1, max_hops + 1):
        sql.append(
            f"d{t} AS (SELECT node, MIN(hops) AS hops FROM ("
            f"SELECT node, hops FROM {prev} "
            f"UNION ALL "
            f"SELECT e.dst AS node, {prev}.hops + 1 AS hops "
            f"FROM e JOIN {prev} ON e.src = {prev}.node"
            f") GROUP BY node)"
        )
        prev = f"d{t}"
    return (
        "WITH " + ",\n".join(sql)
        + f"\nSELECT nodes.node, CAST({prev}.hops AS BIGINT) AS hops "
        f"FROM nodes LEFT JOIN {prev} ON nodes.node = {prev}.node"
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """G104: synchronous label-propagation communities (Raghavan et al.
    2007) — every node starts labeled with its own id; each round every
    node adopts the label held by the PLURALITY of its in-neighbors
    (ties broken toward the smallest label; nodes with no in-neighbors
    keep their label). After ``rounds`` rounds the label IS the
    community id. The curation uses: link-farm/spam clusters on the
    host graph (G65/G87 rank inside a cluster, this finds the cluster),
    community-aware corpus splits (put a whole host community on one
    side of train/eval — the G47 leakage rule lifted from near-dup
    pairs to graph neighborhoods), and domain grouping for per-
    community crawl quotas.

    Semantics pinned for replay: SYNCHRONOUS fixed-round updates over
    the DEDUPLICATED (simple-graph) edge relation — parallel-edge
    multiplicities do not weight the vote, and all nodes update from
    the same round-t snapshot, so the result is deterministic and
    bit-replayable by :func:`label_propagation_oracle_sql`. The known
    cost of synchronous LPA — labels can oscillate on bipartite-ish
    structure instead of converging — is bounded here by the fixed
    round count (the round-t relation is still exact); production runs
    that want convergence semantics should raise ``rounds`` and
    compare successive rounds (two calls) rather than trust a hidden
    stop rule. The edge relation is symmetrized once (the usual LPA
    setting).

    Scale shape (the :func:`pagerank` template): per round ONE keyed
    join of the label relation onto the edge relation (the edge side's
    exchange is canonically identical across rounds — reused), one
    map-side-combinable ``(node, lbl)`` count, one combinable
    ``min_by`` argmax per node, one left join back to carry no-inbox
    nodes. Everything is O(|E|) per round with |V|-sized label
    relations; no floats, no windows, no driver state. Lineage cut
    every 8 rounds (the :func:`bfs_hops` policy).

    Tie-break note: the argmax is ``min_by(lbl, (-count, lbl))`` — one
    hash aggregate, no per-node sort; struct ordering gives max count
    then smallest label for any orderable label type.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    raw = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    raw = raw.union(
        raw.select(F.col("__d").alias("__s"), F.col("__s").alias("__d"))
    )
    e = raw.distinct()
    nodes = (
        raw.select(F.explode(F.array("__s", "__d")).alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lab = nodes.select("node", F.col("node").alias("lbl"))
    for t in range(1, rounds + 1):
        msgs = e.join(lab.withColumnRenamed("node", "__s"), "__s").select(
            F.col("__d").alias("node"), "lbl"
        )
        best = (
            msgs.groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy("node")
            .agg(
                F.min_by(
                    "lbl",
                    F.struct(
                        (-F.col("__c")).alias("__nc"), F.col("lbl").alias("__lb")
                    ),
                ).alias("__new")
            )
        )
        lab = lab.join(best, "node", "left").select(
            "node", F.coalesce("__new", "lbl").alias("lbl")
        )
        if t % 8 == 0 and t < rounds:
            lab = lab.localCheckpoint(eager=False)
    return lab.select("node", F.col("lbl").alias("community"))


def label_propagation_oracle_sql(
    edges_sql: str,
    rounds: int = 3,
) -> str:
    """ANSI-SQL replay of :func:`label_propagation` with the rounds
    UNROLLED (the :func:`bfs_oracle_sql` pattern); the argmax replays
    as ``QUALIFY row_number() ORDER BY c DESC, lbl ASC``. ``edges_sql``
    must yield columns (src, dst)."""
    base = (
        f"SELECT src, dst FROM ({edges_sql}) "
        f"UNION ALL SELECT dst, src FROM ({edges_sql})"
    )
    sql = [
        f"e AS (SELECT DISTINCT src, dst FROM ({base}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "l0 AS (SELECT node, node AS lbl FROM nodes)",
    ]
    prev = "l0"
    for t in range(1, rounds + 1):
        sql.append(
            f"c{t} AS (SELECT e.dst AS node, {prev}.lbl AS lbl, "
            f"COUNT(*) AS c FROM e JOIN {prev} ON e.src = {prev}.node "
            f"GROUP BY e.dst, {prev}.lbl)"
        )
        sql.append(
            f"w{t} AS (SELECT node, lbl FROM c{t} QUALIFY "
            f"row_number() OVER (PARTITION BY node "
            f"ORDER BY c DESC, lbl ASC) = 1)"
        )
        sql.append(
            f"l{t} AS (SELECT {prev}.node, COALESCE(w{t}.lbl, {prev}.lbl) "
            f"AS lbl FROM {prev} LEFT JOIN w{t} ON {prev}.node = w{t}.node)"
        )
        prev = f"l{t}"
    return (
        "WITH " + ",\n".join(sql)
        + f"\nSELECT node, lbl AS community FROM {prev}"
    )


def hits_scores(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    unit: int = 1_000_000,
    normalize: str = "rounds",
) -> DataFrame:
    """G110: integer-exact HITS hubs & authorities (Kleinberg 1999) —
    the link-graph signal PageRank doesn't give: an AUTHORITY score
    (pointed to by good hubs — canonical content pages) and a HUB score
    (points at good authorities — directories, link lists, sitemaps).
    Crawl curation uses the split directly: rank fetch frontiers by
    authority, spot link-farm hubs whose hub score dwarfs their
    authority, and prefer authorities as canonical representatives
    inside a dedup cluster (G52's quality key).

    The recurrence with L∞ (max) normalization instead of the classical
    L2 — normalization is a positive scalar, so the ORDERING (what HITS
    consumers use) is unchanged, and max+floor-div stays in exact
    integers where an L2 sqrt would leave them:

      a_t(v) = Σ_{u→v} h_{t−1}(u)
      h_t(v) = Σ_{v→w} a_t(w)

    with h_0 = ``unit`` uniform (round 1's authority pass is therefore
    the closed form ``indegree·unit`` — no join). Output scores are in
    [0, unit]; nodes with no in-edges hold authority 0, no out-edges
    hub 0 (final read-off coalesce, never dropped). Replayable bit for
    bit by :func:`hits_oracle_sql` with the matching ``normalize``.

    Two declared normalization modes (results differ in low-order
    digits — the floor runs at different points — so each mode is its
    own oracle contract):

    - ``"rounds"`` (default — the unbounded-scale path): scores are
      rescaled to [0, unit] after EVERY half-round, so intermediate
      sums stay ≤ unit·degree regardless of iteration count — int64-
      safe to ~9·10¹² in-links per node. Cost: each normalization's
      max is a 1-row driver collect off a lazily checkpointed
      node-sized relation (the G37 bounded-collect pattern — a
      broadcast max BRANCH would re-execute its unexecuted input and
      compound exponentially across rounds; measured 16s → 2s at
      sf0.01), which makes 2·iters job barriers.
    - ``"final"`` (the bounded-degree fast path): raw sums chain in
      decimal(38,0) through ALL rounds inside ONE Catalyst plan (no
      barriers, AQE end to end — measured 6.3s → sub-second at sf0.1
      on the gate graph) and both scores normalize once at read-off.
      Capacity bound (documented, ANSI-visible on breach — decimal
      overflow is an error, never a wrap): max values grow like
      ``unit·Π(deg_in·deg_out)`` per round, so iters=3 is safe while
      ``unit·(d_in·d_out)³ < 10³⁸`` — e.g. average degrees to ~2·10⁵.
      Past that regime use ``"rounds"``.

    Scale shape (both modes, the :func:`pagerank` template): per
    half-round ONE keyed join of the node-sized score relation onto
    the edge relation (broadcast when it fits, shuffle-hash beyond) +
    one map-side-combinable sum; node list joined back once at
    read-off.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if normalize not in ("rounds", "final"):
        raise ValueError(f"normalize must be 'rounds' or 'final', got {normalize!r}")
    from ferc_xbrl_extractor_spark.operators.labels import _dfloor_div

    raw = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    per_round = normalize == "rounds"
    # the deduplicated edge relation is consumed once per half-round —
    # and the lazy normalization cuts split the plan into segments that
    # would each recompute the distinct — so materialize it once
    e = raw.distinct().localCheckpoint(eager=True)
    # node list from the CHECKPOINTED deduplicated edges, not from a
    # second scan of the raw relation: distinct nodes of distinct edges
    # == distinct nodes of raw, and this saves one full source scan +
    # exchange per call (lazy cut — it materializes inside the first
    # read-off join instead of paying its own up-front job)
    nodes = (
        e.select(F.explode(F.array("__s", "__d")).alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    unit_dec = F.lit(int(unit)).cast("decimal(38,0)")

    def _norm(scored: DataFrame, lazy_cut: bool) -> DataFrame:
        if lazy_cut:
            # plain lazy cut — no coalesce: the relation is node-sized,
            # which at gate scale is sub-scheduling-floor either way
            # (measured: no win) and at 10M-edge scale a small coalesce
            # CAPS the join parallelism of every later stage (measured
            # 57s -> see scalecheck after removal)
            scored = scored.localCheckpoint(eager=False)
        mx = scored.agg(F.max("v")).collect()[0][0]
        mx_dec = F.expr(f"CAST('{int(mx or 1)}' AS DECIMAL(38,0))")
        return scored.select(
            "node",
            _dfloor_div(F.col("v").cast("decimal(38,0)") * unit_dec, mx_dec)
            .cast("long")
            .alias("v"),
        )

    sum_t = "decimal(38,0)" if not per_round else "long"
    a = h = None
    for t in range(1, iters + 1):
        if t == 1:
            a = e.groupBy(F.col("__d").alias("node")).agg(
                (F.count(F.lit(1)).cast(sum_t) * F.lit(int(unit))).alias("v")
            )
        else:
            a = (
                e.join(h.withColumnRenamed("node", "__s"), "__s")
                .groupBy(F.col("__d").alias("node"))
                .agg(F.sum("v").alias("v"))
            )
        if per_round:
            a = _norm(a, lazy_cut=True)
        h = (
            e.join(a.withColumnRenamed("node", "__d"), "__d")
            .groupBy(F.col("__s").alias("node"))
            .agg(F.sum("v").alias("v"))
        )
        if per_round:
            h = _norm(h, lazy_cut=True)
    if not per_round:
        # one plan so far; cut ONCE so the two max collects and the two
        # read-off branches below don't re-execute the shared chain —
        # h's lineage contains a's, so checkpoint a first and build h's
        # last join from the cut relation
        a = a.localCheckpoint(eager=False)
        h = (
            e.join(a.withColumnRenamed("node", "__d"), "__d")
            .groupBy(F.col("__s").alias("node"))
            .agg(F.sum("v").alias("v"))
            .localCheckpoint(eager=False)
        )
        # ONE collect for both normalization maxes (1-row × 1-row cross
        # join of the two aggregates) instead of one job per relation —
        # h's lineage includes a's checkpoint, so the single job
        # materializes both
        mrow = (
            a.agg(F.max("v").alias("__ma"))
            .crossJoin(h.agg(F.max("v").alias("__mh")))
            .collect()[0]
        )

        def _scale(scored: DataFrame, mx) -> DataFrame:
            mx_dec = F.expr(f"CAST('{int(mx or 1)}' AS DECIMAL(38,0))")
            return scored.select(
                "node",
                _dfloor_div(
                    F.col("v").cast("decimal(38,0)") * unit_dec, mx_dec
                )
                .cast("long")
                .alias("v"),
            )

        a = _scale(a, mrow["__ma"])
        h = _scale(h, mrow["__mh"])
    return (
        nodes.join(h.withColumnRenamed("v", "__hv"), "node", "left")
        .join(a.withColumnRenamed("v", "__av"), "node", "left")
        .select(
            "node",
            F.coalesce("__hv", F.lit(0)).cast("long").alias("hub_micro"),
            F.coalesce("__av", F.lit(0)).cast("long").alias("auth_micro"),
        )
    )


def hits_oracle_sql(
    edges_sql: str,
    iters: int = 3,
    unit: int = 1_000_000,
    normalize: str = "rounds",
) -> str:
    """ANSI-SQL replay of :func:`hits_scores` with the rounds UNROLLED
    (the :func:`bfs_oracle_sql` pattern); maxes ride as scalar
    subqueries and all products run in HUGEINT ``//``. ``edges_sql``
    must yield columns (src, dst); ``normalize`` must match the
    operator call (the two modes floor at different points)."""
    if normalize not in ("rounds", "final"):
        raise ValueError(f"normalize must be 'rounds' or 'final', got {normalize!r}")
    u = int(unit)
    per_round = normalize == "rounds"
    sql = [
        f"e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
    ]
    for t in range(1, iters + 1):
        prev_h = f"h{t-1}" if per_round else f"h{t-1}r"
        if t == 1:
            sql.append(
                f"a1r AS (SELECT dst AS node, "
                f"CAST(count(*) AS HUGEINT) * {u} AS v FROM e GROUP BY dst)"
            )
        else:
            sql.append(
                f"a{t}r AS (SELECT e.dst AS node, SUM({prev_h}.v)::HUGEINT AS v "
                f"FROM e JOIN {prev_h} ON e.src = {prev_h}.node GROUP BY e.dst)"
            )
        if per_round:
            sql.append(
                f"a{t} AS (SELECT node, (v * {u}) // "
                f"(SELECT max(v) FROM a{t}r) AS v FROM a{t}r)"
            )
        cur_a = f"a{t}" if per_round else f"a{t}r"
        sql.append(
            f"h{t}r AS (SELECT e.src AS node, SUM({cur_a}.v)::HUGEINT AS v "
            f"FROM e JOIN {cur_a} ON e.dst = {cur_a}.node GROUP BY e.src)"
        )
        if per_round:
            sql.append(
                f"h{t} AS (SELECT node, (v * {u}) // "
                f"(SELECT max(v) FROM h{t}r) AS v FROM h{t}r)"
            )
    if per_round:
        hf, af = f"h{iters}", f"a{iters}"
    else:
        sql.append(
            f"hf AS (SELECT node, (v * {u}) // "
            f"(SELECT max(v) FROM h{iters}r) AS v FROM h{iters}r)"
        )
        sql.append(
            f"af AS (SELECT node, (v * {u}) // "
            f"(SELECT max(v) FROM a{iters}r) AS v FROM a{iters}r)"
        )
        hf, af = "hf", "af"
    return (
        "WITH " + ",\n".join(sql)
        + f"\nSELECT nodes.node, "
        f"CAST(COALESCE({hf}.v, 0) AS BIGINT) AS hub_micro, "
        f"CAST(COALESCE({af}.v, 0) AS BIGINT) AS auth_micro "
        f"FROM nodes LEFT JOIN {hf} ON nodes.node = {hf}.node "
        f"LEFT JOIN {af} ON nodes.node = {af}.node"
    )
