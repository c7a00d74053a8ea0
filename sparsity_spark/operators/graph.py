"""Distributed graph analytics — the iterative-algorithm family.

The reference engine has no graph surface (its §2 inventory stops at
frame algebra); these operators extend the engine the way a training-data
pipeline actually uses graphs: ranking entities in an interaction graph
(PageRank over a bipartite customer↔supplier / doc↔domain graph) and
counting closed triangles (community density, spam-farm signals).

Determinism discipline (the engine-wide money-math rule): ranks are
BIGINT *micro-units*, per-edge contributions use integer division
(``rank div degree``), and the damping step is ``base + (d_pct · Σc) div
100`` — every operation is exact integer arithmetic whose sums are
associative/commutative, so Spark and the SQL oracle land on identical
integers regardless of partitioning, shuffle order, or engine. A
floating-point PageRank can never hash-match across engines; an integer
one cannot miss. Mass is not perfectly conserved (each division floors,
losing < deg micro-units per node per iteration) — identical floors on
both sides, and immaterial for ranking.

Scale shape (100 TB posture):
* edges are the corpus-sized table; each iteration is ONE join of the
  node-sized rank table against edges on ``src`` plus ONE aggregate on
  ``dst`` — the minimum communication any topology-following iteration
  needs. Pre-partitioning ``edges`` by ``src`` (done once, reused every
  iteration via the cached plan) keeps the per-iteration shuffle to the
  rank table only.
* the rank table is node-sized, never corpus-sized; nothing is ever
  collected to the driver.
* iterative lineage is bounded: ``checkpoint_every`` localCheckpoints
  the rank table so a 50-iteration run doesn't accumulate a 50-stage
  lineage (the bounded-lineage discipline kmeans_fit established).
* overflow bound: with unit=10^6 and damping 85/100, the aggregate
  ``85 · Σ contrib`` stays below 2^63 while total mass < 10^17 — i.e.
  up to ~10^11 nodes. For larger graphs, shrink ``unit``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparsity_spark import stores

__all__ = [
    "symmetrize_edges",
    "pagerank",
    "pagerank_weighted",
    "personalized_pagerank",
    "hits",
    "random_walks",
    "node2vec_walks",
    "walk_skipgram_pairs",
    "triangle_count",
    "triangle_count_capped",
    "link_prediction",
    "modularity",
    "adamic_adar",
    "label_propagation",
    "bfs_levels",
    "k_core",
    "merge_edge_store",
]


def symmetrize_edges(
    df: DataFrame, src_col: str, dst_col: str, as_string: bool = True
) -> DataFrame:
    """Distinct directed pairs, emitted in both directions — the
    undirected-graph on-ramp. Symmetric graphs have no dangling nodes
    (every node has out-degree ≥ 1), which removes PageRank's dangling
    mass redistribution term entirely — the variant the oracle replays.

    ``as_string=False`` keeps integer node ids: on a 1.17 M-edge build at
    sf0.1 the string form costs ~2× in the distinct/join shuffles (UTF8
    hashing + wider rows). Mixed entity namespaces should be encoded into
    DISJOINT integer ranges (``custkey·2`` / ``suppkey·2+1``) rather than
    string prefixes — same disambiguation, integer speed."""
    typ = "string" if as_string else "long"
    raw = df.select(
        F.col(src_col).cast(typ).alias("src"),
        F.col(dst_col).cast(typ).alias("dst"),
    ).distinct()
    return raw.union(raw.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _undirected(edges: DataFrame, assume_distinct: bool, drop_self_loops: bool = True) -> DataFrame:
    """Defensive edge normalization shared by the family (r11): project to
    (src, dst), drop self-loops (map-side, free), and dedup — UNLESS the
    caller asserts the input is already a distinct edge set
    (``assume_distinct=True``), in which case the dedup's full edge
    shuffle is skipped. The session-shared bucketed edge stores are
    written distinct by construction, so every store-backed query was
    paying one redundant corpus-sized Exchange per operator (guide §2.4:
    "a distinct on data that is already unique")."""
    e = edges.select("src", "dst")
    if drop_self_loops:
        e = e.where(F.col("src") != F.col("dst"))
    return e if assume_distinct else e.distinct()


def _pagerank_round(
    adj: DataFrame, ranks: DataFrame, base: int, damping_pct: int
) -> DataFrame:
    """One PageRank iteration (see pagerank) — equi-join on src + ONE
    hash aggregate on dst; split out so the per-iteration plan shape is
    directly assertable in tests (the public function localCheckpoints
    its result, which collapses the returned plan to a Scan
    ExistingRDD)."""
    contrib = adj.join(ranks.withColumnRenamed("node", "src"), "src").select(
        F.col("dst").alias("node"),
        F.expr("rank_micro div deg").alias("c"),
    )
    return contrib.groupBy("node").agg(
        F.expr(f"cast({base} + ({damping_pct} * sum(c)) div 100 as bigint)").alias(
            "rank_micro"
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    unit: int = 1_000_000,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Integer micro-unit PageRank over a (src, dst) edge table.

    Every node starts at ``unit``; each iteration sends ``rank div
    out_degree`` along every edge and re-ranks as ``base + (damping_pct ·
    Σ contrib) div 100`` with ``base = unit · (100 − damping_pct) / 100``
    — all BIGINT, all order-independent, engine-exact (see module
    docstring). Returns (node, rank_micro).

    Nodes must appear as ``src`` of at least one edge (symmetrize_edges
    guarantees this); a directed graph with true dangling nodes needs the
    dangling-mass term this exact variant deliberately omits."""
    if not 0 < damping_pct < 100:
        raise ValueError("pagerank: damping_pct must be in (0, 100)")
    base = (unit * (100 - damping_pct)) // 100
    # the topology is loop-INVARIANT: persist the edge table (its upstream
    # build — typically a join + distinct — is the expensive part and must
    # run ONCE, not once per degree-agg and once per iteration join) and
    # the node-sized degree table. This is the Pregel discipline: the
    # graph persists (memory-and-disk at cluster scale), only the
    # node-sized rank table moves per round. Measured at sf0.1 (1.17 M
    # edges, 3 iterations): 7.6 s → ~3 s.
    edges = edges.persist()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).persist()
    # degree rides WITH the edge: one join per iteration, not two
    adj = edges.join(deg, "src").persist()
    adj.count()  # eager — so the raw edge build runs exactly once ...
    edges.unpersist()  # ... and its cache can be dropped immediately
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(unit).cast("long").alias("rank_micro")
    )
    for i in range(iterations):
        ranks = _pagerank_round(adj, ranks, base, damping_pct)
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    # materialize the node-sized result, then release the loop-invariant
    # caches — a long-lived session (the bench loop, a notebook) running
    # many graph queries must not accumulate adjacency tables in the
    # block manager (r9, matching kmeans_parallel_init's discipline)
    ranks = ranks.localCheckpoint(eager=True)
    adj.unpersist()
    deg.unpersist()
    return ranks


def triangle_count(edges: DataFrame, assume_distinct: bool = False) -> DataFrame:
    """Exact per-node triangle counts over an undirected edge table.

    The classic communication-optimal formulation: orient every edge
    low→high (each undirected edge counted once), join the oriented list
    with itself on the shared low endpoint to enumerate open wedges, then
    semi-join the wedge's closing pair against the oriented edges — each
    triangle {a<b<c} is found exactly once as wedge (a→b, a→c) closed by
    (b→c). Per-node counts credit all three corners. Two shuffles on edge
    keys; wedge volume is Σ deg²/2 — the irreducible cost of exact
    triangle enumeration (sample or sketch above it when an estimate
    suffices)."""
    und = _undirected(edges, assume_distinct)
    return _count_triangles_deduped(und)


def _count_triangles_deduped(und: DataFrame) -> DataFrame:
    """Oriented wedge-join body of :func:`triangle_count` over an edge
    set ALREADY self-loop-free and distinct — split out so
    :func:`triangle_count_capped` (whose capped set inherits both
    properties from its own dedup) skips a redundant full
    distinct shuffle over the edge table."""
    orient = und.where(F.col("src") < F.col("dst"))
    e1 = orient.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = orient.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "a").where(F.col("b") < F.col("c"))
    closing = orient.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tris = wedges.join(closing, ["b", "c"], "leftsemi")
    per_corner = (
        tris.select(F.col("a").alias("node"))
        .union(tris.select(F.col("b").alias("node")))
        .union(tris.select(F.col("c").alias("node")))
    )
    return per_corner.groupBy("node").agg(F.count("*").cast("long").alias("triangles"))


def triangle_count_capped(
    edges: DataFrame, max_degree: int = 64, assume_distinct: bool = False
) -> DataFrame:
    """Skew-safe exact triangle counts (r9): drop every node whose
    undirected degree exceeds ``max_degree`` (and all its edges), then
    count triangles EXACTLY on the capped subgraph with the same oriented
    wedge-join formulation as :func:`triangle_count`.

    Why: exact enumeration's wedge volume is Σ deg² — irreducible, and on
    a skewed 100× graph a single celebrity node's deg² dwarfs the rest of
    the corpus (the sf1 key-shifted replica's density blowup that forced
    the plain row OUT of the scale tier, r8). Capping bounds wedge volume
    by n·max_degree² — LINEAR in nodes at fixed cap, so the operator is
    shuffle-stable at any scale and any skew; hub-incident triangles are
    deliberately not counted (a hub's triangle count is rarely the signal
    — community density lives in the low-degree bulk; sample hub
    neighborhoods separately when they matter). Deterministic (a pure
    degree threshold, no RNG), so a SQL oracle replays it exactly.
    Returns (node, triangles) over the capped subgraph."""
    und = _undirected(edges, assume_distinct)
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    keep = deg.where(F.col("deg") <= max_degree).select("src")
    capped = (
        und.join(keep, "src", "leftsemi")
        .join(keep.withColumnRenamed("src", "dst"), "dst", "leftsemi")
    )
    # capped is self-loop-free and distinct by construction (semi-joins
    # of the deduped und) — skip triangle_count's redundant re-dedup
    return _count_triangles_deduped(capped)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    unit: int = 1_000_000,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Personalized PageRank: the teleport vector is uniform over a SEED
    set instead of all nodes — the "rank everything by relatedness to
    this curated set" primitive (seed = trusted documents / known-good
    domains; rank = curation affinity; Gleich's PPR survey is the public
    reference). ``seeds`` is a one-column (node) DataFrame.

    Integer discipline (engine-exact like :func:`pagerank`): with n
    nodes, s seeds, unit U — r₀ = (n·U) div s on seeds, 0 elsewhere;
    each iteration credits ((100−d)·n·U) div (100·s) to every seed plus
    (d · Σ contrib) div 100 from the topology. Mass floors identically
    in both engines; nodes unreachable from the seed set along ≤
    ``iterations`` hops keep rank 0 and (like absent keys in a sparse
    frame) drop from the output. Same per-iteration communication as
    pagerank: one join against the persisted adjacency + one aggregate;
    the seed join stays node-sized."""
    if not 0 < damping_pct < 100:
        raise ValueError("personalized_pagerank: damping_pct must be in (0, 100)")
    edges = edges.persist()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).persist()
    adj = edges.join(deg, "src").persist()
    adj.count()
    edges.unpersist()
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    seed_nodes = seed_nodes.join(
        deg.select(F.col("src").alias("node")), "node", "leftsemi"
    ).persist()
    n = deg.count()
    s = seed_nodes.count()
    if s == 0:
        raise ValueError("personalized_pagerank: no seed is a graph node")
    seed0 = (n * unit) // s
    base = ((100 - damping_pct) * n * unit) // (100 * s)
    ranks = seed_nodes.select(
        "node", F.lit(seed0).cast("long").alias("rank_micro")
    )
    for i in range(iterations):
        contrib = adj.join(ranks.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"),
            F.expr("rank_micro div deg").alias("c"),
        )
        spread = contrib.groupBy("node").agg(
            F.expr(f"cast(({damping_pct} * sum(c)) div 100 as bigint)").alias("sp")
        )
        ranks = (
            spread.join(seed_nodes.withColumn("__s__", F.lit(1)), "node", "full_outer")
            .select(
                "node",
                (
                    F.coalesce(F.col("sp"), F.lit(0))
                    + F.when(F.col("__s__") == 1, F.lit(base)).otherwise(F.lit(0))
                ).cast("long").alias("rank_micro"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    ranks = ranks.localCheckpoint(eager=True)
    adj.unpersist()
    deg.unpersist()
    seed_nodes.unpersist()
    return ranks


def hits(
    edges: DataFrame,
    iterations: int = 2,
    unit: int = 1_000_000,
    checkpoint_every: int = 0,
    assume_distinct: bool = False,
) -> DataFrame:
    """HITS hubs-and-authorities over a DIRECTED (src, dst) edge table
    (Kleinberg 1999) — the complement to PageRank's single score:
    authority(v) = Σ hub(u) over in-edges, hub(u) = Σ authority(v) over
    out-edges, renormalized each half-step.

    Integer discipline: scores are BIGINT micro-units renormalized by the
    deterministic MAX (``s·unit div max_s``) after every half-step — max
    is order-independent (unlike an L2 norm's float sum), so the rescale
    is engine-exact and bounds every score in [0, unit], which also makes
    overflow impossible for in/out-degrees up to 2^63/unit. Nodes with
    no in-edges carry authority 0 and drop from the authority side (and
    symmetrically for hubs).

    Per half-step: ONE join of the node-sized score table against the
    persisted edge table + ONE aggregate + ONE metadata-sized max — the
    pagerank communication shape, doubled. Returns
    (node, hub_micro, auth_micro) as a full outer of the two sides."""
    edges = _undirected(edges, assume_distinct, drop_self_loops=False).persist()
    edges.count()
    hubs = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(unit).cast("long").alias("h")
    )
    auths = None
    held = []
    for i in range(iterations):
        # authority step: sum hub scores along edges, rescale by max.
        # Each raw score table is PERSISTED before its max collect —
        # the collect is an action, and without the persist every
        # subsequent half-step would recompute the whole chain from the
        # edges (measured: 12.2 s vs 3.4 s at sf0.1 for 2 iterations).
        # The persists are node-sized; dropped once the iteration moves on.
        a_raw = (
            edges.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("a_raw"))
            .persist()
        )
        a_max = a_raw.agg(F.max("a_raw")).collect()[0][0] or 1
        auths = a_raw.select(
            "node", F.expr(f"cast((a_raw * {unit}) div {a_max} as bigint)").alias("a")
        )
        # hub step: sum authority scores along edges, rescale by max
        h_raw = (
            edges.join(auths.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("h_raw"))
            .persist()
        )
        h_max = h_raw.agg(F.max("h_raw")).collect()[0][0] or 1
        hubs = h_raw.select(
            "node", F.expr(f"cast((h_raw * {unit}) div {h_max} as bigint)").alias("h")
        )
        # previous iteration's raw tables are no longer reachable
        for df in held:
            df.unpersist()
        held = [a_raw, h_raw]
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            hubs = hubs.localCheckpoint(eager=False)
            auths = auths.localCheckpoint(eager=False)
    out = hubs.withColumnRenamed("h", "hub_micro").join(
        auths.withColumnRenamed("a", "auth_micro"), "node", "full_outer"
    ).localCheckpoint(eager=True)
    for df in held:
        df.unpersist()
    edges.unpersist()
    return out


# Row count above which the walk loops force sort-merge joins.
_WALK_MERGE_ROWS = 2_000_000


def _maybe_merge_hint(df: DataFrame, rows: int | None) -> DataFrame:
    """Size-gated join strategy for the walk loops' edge-sized sides
    (r12 session 3, guide §3.1 — pick the strategy deliberately). The
    ranked-neighbor / distance-1 tables are EDGE-sized, but their
    compressed on-disk estimate can sit just under the broadcast
    threshold: at 10x scale the planner collected an 11.7 M-row relation
    to the driver (a 6.4 s single-task job + ~10 s of driver hash build
    in the event log) for joins whose small side is the FRONTIER.
    Above the row threshold the merge hint forces sort-merge, so each
    step shuffles only frontier-sized rows (sf1 A/B: node2vec 22-42 s
    -> 11-14 s). Below it the planner's broadcast is strictly better —
    forcing merge at sf0.1 regressed every walk row ~60-75% (interleaved
    A/B) — so small graphs keep the broadcast. Callers that don't know
    their row count keep the planner's choice."""
    if rows is not None and rows > _WALK_MERGE_ROWS:
        return df.hint("merge")
    return df


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int = 3,
    assume_distinct: bool = False,
    ranked: DataFrame | None = None,
    ranked_rows: int | None = None,
) -> DataFrame:
    """Deterministic random walks over a (src, dst) edge table — the
    walk-corpus generator behind DeepWalk/node2vec-style graph
    embeddings (walks become "sentences" for a skip-gram trainer).

    No RNG: at step t from node v the walk takes neighbor
    ``md5₆₀(start, t, v) % degree(v)`` in dst-sorted order — a pure
    function of (start, position, node), so walks are bit-reproducible
    across engines/partitionings/replays (the engine-wide
    hash-in-place-of-RNG discipline; an actual RNG walk could never
    oracle-match). One walk per start node; returns
    (start, step, node) with step 0 = the start itself.

    Scale shape: neighbors are ranked ONCE (a per-src window over the
    persisted edge table — one shuffle, reused every step); each step is
    then one join of the walk-frontier (start-set-sized, not
    corpus-sized) against the ranked neighbor table. Walks from a
    million seeds over a billion-edge graph move only frontier-sized
    rows per step. Dead-end nodes (no out-edges) terminate their walk
    early — rows simply stop appearing."""
    from pyspark.sql import Window

    owns_ranked = ranked is None
    if owns_ranked:
        edges = _undirected(edges, assume_distinct, drop_self_loops=False).persist()
        # rank AND degree from ONE exchange (r11, guide §2.4): both windows
        # partition by src, so the degree count rides the row_number sort —
        # the r9 build paid a second shuffle for a groupBy degree aggregate
        # plus a third for the join gluing it back on. Spill-safe for hub
        # nodes, unlike a collect_list formulation.
        ranked = edges.select(
            "src",
            "dst",
            (F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1).alias(
                "rank"
            ),
            F.count("*").over(Window.partitionBy("src")).alias("deg"),
        ).persist()
        ranked_rows = ranked.count()
        edges.unpersist()

    frontier = starts.select(
        F.col(starts.columns[0]).alias("start")
    ).distinct().withColumn("node", F.col("start"))
    out = frontier.select("start", F.lit(0).alias("step"), "node")
    # built once — the per-step rename was one extra analyzer pass per hop
    # (r12 session 2, the node2vec loop-invariant hoist)
    # size-gated strategy for the edge-sized side — see _maybe_merge_hint
    ranked_n = _maybe_merge_hint(ranked.withColumnRenamed("src", "node"), ranked_rows)
    for t in range(1, steps + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("start").cast("string"),
                        F.lit(str(t)),
                        F.col("node").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        stepped = (
            frontier.join(ranked_n, "node")
            .where((h % F.col("deg")) == F.col("rank"))
            .select("start", F.col("dst").alias("node"))
            # frontier-sized checkpoint per step (r11, the LPA lineage
            # lesson): each frontier is referenced twice (next hop + the
            # output union), so an un-truncated chain re-executes hop t
            # once per later step — steps walks paid Σt instead of t
            # joins against the ranked table. LAZY since r12: the final
            # action materializes all hops in one job, each persisted as
            # computed (block locks make the double reference compute-once)
            .localCheckpoint(eager=False)
        )
        frontier = stepped
        out = out.unionByName(
            frontier.select("start", F.lit(t).alias("step"), "node")
        )
    # result is walk-corpus-sized (|starts|·steps rows) — materialize it,
    # then drop the ranked-neighbor cache so repeated walk queries in one
    # session don't accumulate edge-sized tables in the block manager
    out = out.localCheckpoint(eager=True)
    if owns_ranked:
        ranked.unpersist()
    return out


def _bfs_hop(edges: DataFrame, frontier: DataFrame, levels: DataFrame) -> DataFrame:
    """One BFS hop (see bfs_levels) — frontier-sized equi-join + distinct
    + anti-join against the visited set; split out so the hop's plan
    shape is directly assertable (the public loop localCheckpoints each
    hop, collapsing its plan)."""
    return (
        edges.join(frontier.select(F.col("node").alias("src")), "src")
        .select(F.col("dst").alias("node"))
        .distinct()
        .join(levels, "node", "left_anti")
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source breadth-first levels: every node within ``max_depth``
    hops of any seed, labeled with its exact hop distance (the minimum
    over seeds) — unweighted shortest paths, the reachability primitive
    the iterative family lacked. What PPR weighs softly, BFS answers
    crisply: "is this doc within 2 links of a known-spam domain",
    "which entities sit one interaction from the seed cohort".

    Frontier algorithm: level d's NEW nodes are the frontier's
    neighbors anti-joined against everything already leveled, so each
    hop is ONE frontier-sized join against the persisted edges + ONE
    anti-join against the node-sized visited set — communication
    proportional to the frontier, never the graph (random_walks'
    discipline). Levels are set-valued (DISTINCT per hop), so results
    are partitioning- and order-independent — engine-exact with no
    arithmetic at all; the oracle unrolls hops as NOT-IN CTEs. An empty
    frontier short-circuits the remaining hops (one metadata count per
    hop); each frontier is localCheckpointed so depth never accumulates
    lineage. Input must be symmetric for undirected semantics; directed
    edges give directed reachability. Returns (node, lvl)."""
    if max_depth < 0:
        raise ValueError("bfs_levels: max_depth must be >= 0")
    edges = edges.select("src", "dst").where(F.col("src") != F.col("dst")).persist()
    edges.count()  # eager: the upstream pair build runs exactly once
    frontier = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    levels = frontier.withColumn("lvl", F.lit(0).cast("int"))
    for d in range(1, max_depth + 1):
        nxt = _bfs_hop(edges, frontier, levels).localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        levels = levels.unionByName(nxt.withColumn("lvl", F.lit(d).cast("int")))
        frontier = nxt
    levels = levels.localCheckpoint(eager=True)
    edges.unpersist()
    return levels


def _lpa_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round (see label_propagation) — split out so
    the per-round plan shape (equi-join + two hash aggregates, no
    window) is directly assertable in tests/test_plans.py: the public
    function localCheckpoints its result, which collapses the returned
    plan to a Scan ExistingRDD and would make any shape assertion on it
    vacuous."""
    nbr_votes = edges.join(
        labels.select(F.col("node").alias("src"), "label"), "src"
    ).select(F.col("dst").alias("node"), "label")
    votes = nbr_votes.unionByName(labels)  # one self-vote damps flip-flop
    counts = votes.groupBy("node", "label").agg(F.count("*").alias("c"))
    return counts.groupBy("node").agg(
        F.max(F.struct(F.col("c"), (-F.col("label")).alias("negl"))).alias("m")
    ).select("node", (-F.col("m.negl")).alias("label"))


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan-Albert-Kumara 2007) — the missing member of the graph
    family: PageRank ranks nodes, triangles measure local density, and
    LPA names the COMMUNITIES (purchase cohorts, mirror farms, topic
    clusters) that the curation pipeline then caps or rebalances.

    Every node starts labeled with its own id; each round a node adopts
    the most frequent label among its neighbors plus ONE self-vote (the
    standard damping that keeps synchronous LPA from oscillating on
    bipartite structures). Classic LPA breaks frequency ties at random —
    useless for a reproducible pipeline — so ties break to the SMALLEST
    label: the argmax is ``max(struct(votes, -label))``, a plain
    aggregate both engines evaluate identically, making every round
    engine-exact and the whole run replayable as unrolled SQL. A FIXED
    ``iterations`` count is the oracle seam (LPA has no guaranteed
    fixpoint under synchronous update, so unlike hash-min components a
    converge-loop is not well-defined).

    Scale shape: identical to pagerank — the symmetric edge table is
    loop-invariant (persisted once, eagerly); per round ONE node-sized
    join against edges + TWO hash aggregates ((node, label) vote count,
    then per-node argmax), all keyed by node. Label tables are
    node-sized; nothing corpus-sized moves after the edge build. Input
    must be symmetric (see symmetrize_edges); returns (node, label).

    r11 (guide §1.2/§5 — the duplicate_clusters lineage lesson): every
    round is eagerly localCheckpointed. ``_lpa_round`` references the
    incoming label table TWICE (neighbor votes + the self-vote union),
    so an un-truncated loop DOUBLES the logical plan per round and — the
    labels were never persisted — re-EXECUTED the doubled tree: 3
    iterations ran the round body 2³−1 = 7 times instead of 3 (measured
    8.8 s → 4.3 s at sf0.1 on the co-purchase graph). A node-sized
    checkpoint per round is the Pregel discipline."""
    if iterations < 1:
        raise ValueError("label_propagation: iterations must be >= 1")
    # votes are multiset counts, so edge MULTIPLICITY changes results:
    # dedup defensively (triangle_count's rule) — a doubled edge would
    # double every neighbor vote against the single self-vote
    edges = _undirected(edges, assume_distinct).persist()
    edges.count()  # eager: the upstream pair build runs exactly once
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node").cast("long"))
    )
    for i in range(iterations):
        labels = _lpa_round(edges, labels)
        if i + 1 < iterations:
            # LAZY (r12, the CC-loop fusion): the final action materializes
            # every round in ONE job — each round's labels persist as
            # computed (block-level locking makes the double reference
            # compute-once), so lineage stays one round deep without
            # paying a driver-job barrier per round
            labels = labels.localCheckpoint(eager=False)
    labels = labels.localCheckpoint(eager=True)
    edges.unpersist()
    return labels


def k_core(
    edges: DataFrame,
    k: int = 2,
    peels: int = 8,
    until_converged: bool = False,
    assume_distinct: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling (r9): repeatedly drop
    every node whose degree in the CURRENT subgraph is < k, until the
    fixed point — the maximal subgraph where every node keeps ≥ k
    neighbors. The classic graph-curation primitive: spam/bot rings and
    boilerplate mirror farms live in dense cores; tendrils and one-off
    links peel away. Input is an undirected (symmetric, distinct) edge
    table; returns (node, deg) — each survivor with its WITHIN-CORE
    degree. Every peel is localCheckpointed: each round references the
    previous round's edge set three times (degree agg + two semi-joins),
    so an un-checkpointed round grows the logical plan ~3× and is
    re-EXECUTED ~3× (r11 — checkpointing every 4th round ran the peel
    body ~40 times for 4 rounds of work; one edge-sized checkpoint per
    peel is strictly cheaper from the second round on).

    Determinism/oracle seam: a FIXED ``peels`` count replays exactly in
    SQL (each peel is one degree aggregate + two semi-joins — the
    triangle_count_capped shape, iterated); ``until_converged=True``
    keeps peeling past ``peels`` until the node count is stable (one
    metadata-sized count action per extra round), for graphs whose peel
    depth exceeds the fixed count. Peeling is monotone — each round's
    subgraph shrinks — so lineage stays one peel deep and per-round
    work is edge-linear."""
    if k < 1:
        raise ValueError("k_core: k must be >= 1")
    cur = _undirected(edges, assume_distinct)
    prev_nodes = None
    rounds = 0
    while True:
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("src")
        cur = (
            cur.join(keep, "src", "leftsemi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "leftsemi")
            .select("src", "dst")
        )
        rounds += 1
        # LAZY (r12): materialized by the next action that reaches it
        # (the final aggregate, or the until_converged count) — the
        # three per-round references still read ONE persisted copy
        cur = cur.localCheckpoint(eager=False)
        if rounds >= peels:
            if not until_converged:
                break
            n = cur.select("src").distinct().count()
            if prev_nodes is not None and n == prev_nodes:
                break
            prev_nodes = n
    return cur.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )


def merge_edge_store(
    batch_df: DataFrame,
    table: str,
    src_col: str = "src",
    dst_col: str = "dst",
    num_buckets: int = 16,
) -> DataFrame:
    """Fold one edge increment into the persisted adjacency table (r9 —
    the store-family discipline applied to the graph). Unlike the
    metadata-sized sketch stores, the edge set is CORPUS-sized, so the
    fold must never rewrite it: the store is written BUCKETED BY
    (src, dst) — exactly the fold's join key, the band-store rule — and
    each increment LEFT-ANTI-joins the store: one Exchange for the
    (small) batch, a bare bucketed scan for the corpus — then APPENDS
    only the genuinely new edges through the same bucket spec (Spark
    validates it). Set semantics make the fold idempotent: a replayed
    batch anti-joins to empty and appends nothing (the at-least-once
    safety the bloom/HLL stores share). The rank recompute re-shuffles
    edges by src once per run regardless, so the bucket spec serves the
    hot per-batch path. Only table-absent creates the store fresh;
    transient read errors propagate. The increment is frozen
    (localCheckpoint) before the append so the write never races its own
    read. ``num_buckets`` applies only when the store is CREATED;
    appends restate the table's own bucket spec
    (:func:`sparsity_spark.stores.append`). Returns the maintained edge
    table."""
    spark = batch_df.sparkSession
    inc = batch_df.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    if spark.catalog.tableExists(table):
        new = (
            inc.join(spark.table(table), on=["src", "dst"], how="left_anti")
            .localCheckpoint(eager=True)
        )
        stores.append(new, table)
    else:
        stores.create(inc.localCheckpoint(eager=True), table, ["src", "dst"], num_buckets)
    return spark.table(table)


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int = 3,
    ret_w: int = 1000,
    out_w: int = 1000,
    assume_distinct: bool = False,
    ranked: DataFrame | None = None,
    ranked_rows: int | None = None,
) -> DataFrame:
    """Biased second-order random walks — node2vec's p/q sampling (Grover
    & Leskovec, KDD 2016) completing the DeepWalk family (r9): at step
    t ≥ 2 from ``cur`` with previous node ``prev``, candidate neighbor x
    is weighted ``ret_w`` when x == prev (the 1/p return bias), 1000 when
    x is ALSO a neighbor of prev (distance 1 — BFS-ish), and ``out_w``
    otherwise (distance 2 — the 1/q in-out bias). Integer milli-unit
    weights (1000 ≡ 1.0) keep the cumulative sums exact, so the draw —
    ``md5₆₀(start|t|prev|cur) % total_weight`` landing in x's cumulative
    range in dst order — is engine-exact and an SQL oracle replays every
    hop (the RNG-free discipline of :func:`random_walks`, which is the
    special case ret_w = out_w = 1000 only for its FIRST-order draw).
    Step 1 has no prev and draws uniformly like :func:`random_walks`.

    Scale shape: neighbors ranked once; each step joins the
    frontier (one row per live walk) against the ranked table — frontier
    × degree candidate rows — plus ONE equi-join against the distinct
    edge table on (prev, dst) for the distance-1 flag; the per-walk
    cumulative window partitions by walk id, so no global sort anywhere.
    Dead ends terminate their walk. Returns (start, step, node)."""
    from pyspark.sql import Window

    if ret_w <= 0 or out_w <= 0:
        raise ValueError("node2vec_walks: weights must be positive integers")
    if steps < 1:
        # the uniform step-1 hop is built unconditionally below, so a
        # steps=0 call would silently return one hop the caller excluded
        # (random_walks(steps=0) correctly returns only step 0)
        raise ValueError("node2vec_walks: steps must be >= 1")
    owns_ranked = ranked is None
    if owns_ranked:
        edges = _undirected(edges, assume_distinct, drop_self_loops=False).persist()
        # rank + degree in one exchange — random_walks' r11 rationale
        ranked = edges.select(
            "src",
            "dst",
            (F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1).alias(
                "rank"
            ),
            F.count("*").over(Window.partitionBy("src")).alias("deg"),
        ).persist()
        ranked_rows = ranked.count()
    else:
        # the distance-1 flag needs only the (src, dst) pairs, which the
        # ranked table already carries — no separate edge build
        edges = ranked.select("src", "dst")

    def h60(*cols):
        return F.conv(
            F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
        ).cast("long")

    start0 = starts.select(F.col(starts.columns[0]).alias("start")).distinct()
    out = start0.select("start", F.lit(0).alias("step"), F.col("start").alias("node"))
    # step 1: uniform first-order draw (no prev yet)
    h1 = h60(F.col("start").cast("string"), F.lit("1"), F.col("node").cast("string"))
    frontier = (
        start0.withColumn("node", F.col("start"))
        .join(_maybe_merge_hint(ranked.withColumnRenamed("src", "node"), ranked_rows), "node")
        .where((h1 % F.col("deg")) == F.col("rank"))
        .select("start", F.col("node").alias("prev"), F.col("dst").alias("node"))
        .localCheckpoint(eager=False)
    )
    out = out.unionByName(
        frontier.select("start", F.lit(1).alias("step"), "node")
    )
    flag = edges.select(
        F.col("src").alias("prev"), F.col("dst"), F.lit(1).alias("__d1__")
    )
    # loop-invariant pieces built ONCE (r12 session 2, guide §1.2): every
    # Column here is an unresolved expression that re-binds per step, and
    # the renamed ranked table is the same Dataset each round — rebuilding
    # them per step paid py4j construction + an analyzer pass per created
    # Dataset (the walk loop's wall was ~55% driver-side gaps; measured
    # ~0.2-0.4 s of construction per step on the skipgram row)
    # size-gated strategy for BOTH edge-sized sides (ranked and the
    # distance-1 flag — the flag relation was the 11.7 M-row driver
    # collect in the sf1 event log); see _maybe_merge_hint
    ranked_n = _maybe_merge_hint(ranked.withColumnRenamed("src", "node"), ranked_rows)
    flag = _maybe_merge_hint(flag, ranked_rows)
    w = (
        F.when(F.col("dst") == F.col("prev"), F.lit(ret_w))
        .when(F.col("__d1__") == 1, F.lit(1000))
        .otherwise(F.lit(out_w))
        .cast("long")
    )
    wspec = Window.partitionBy("start")
    cum = (
        F.sum(w).over(wspec.orderBy("dst").rowsBetween(Window.unboundedPreceding, 0))
    )
    total = F.sum(w).over(wspec)
    for t in range(2, steps + 1):
        h = h60(
            F.col("start").cast("string"),
            F.lit(str(t)),
            F.col("prev").cast("string"),
            F.col("node").cast("string"),
        )
        stepped = (
            frontier.join(ranked_n, "node")
            .join(flag, ["prev", "dst"], "left")
            # ONE projection for weight/cumulative/total (three
            # withColumns = three analyzer passes over the same tree)
            .select(
                "start",
                "prev",
                "node",
                "dst",
                w.alias("__w__"),
                cum.alias("__cum__"),
                total.alias("__tot__"),
            )
            .where(
                ((h % F.col("__tot__")) >= F.col("__cum__") - F.col("__w__"))
                & ((h % F.col("__tot__")) < F.col("__cum__"))
            )
            .select("start", F.col("node").alias("prev"), F.col("dst").alias("node"))
            # frontier-sized checkpoint per step (r11 — random_walks'
            # rationale; the biased step additionally re-ran its per-walk
            # cumulative-weight window once per later step); LAZY since
            # r12 — one fused materializing job, the random_walks note
            .localCheckpoint(eager=False)
        )
        frontier = stepped
        out = out.unionByName(
            frontier.select("start", F.lit(t).alias("step"), "node")
        )
    out = out.localCheckpoint(eager=True)
    if owns_ranked:
        ranked.unpersist()
        edges.unpersist()
    return out


def walk_skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
) -> DataFrame:
    """Skip-gram co-occurrence counts from a walk corpus (r8 — the back
    half of DeepWalk: walks are sentences, these pairs are the
    word2vec-style training input). For every walk, each ordered
    (center, context) pair within ``window`` steps is counted; the
    output (center, context, n_pairs) is exactly the sparse co-occurrence
    matrix an embedding trainer consumes.

    One self-join per walk id on a bounded step distance (|Δstep| ≤
    window, Δ ≠ 0) — the join key is the walk id, so pair volume is
    Σ walk_len·window per walk, never quadratic in the corpus; one hash
    aggregate folds the counts."""
    w = walks.select(
        F.col("start").alias("wid"), F.col("step").alias("s"), F.col("node")
    )
    a = w.select("wid", F.col("s").alias("s_a"), F.col("node").alias("center"))
    b = w.select("wid", F.col("s").alias("s_b"), F.col("node").alias("context"))
    pairs = a.join(b, "wid").where(
        (F.col("s_a") != F.col("s_b"))
        & (F.abs(F.col("s_a") - F.col("s_b")) <= window)
    )
    return pairs.groupBy("center", "context").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


def link_prediction(
    edges: DataFrame,
    max_degree: int = 64,
    min_common: int = 2,
    assume_distinct: bool = False,
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over an undirected graph
    (r9 — the recommender/record-linkage primitive: score NON-adjacent
    node pairs by shared neighborhood; the top of the list is "people who
    bought what you bought" / "probably the same entity").

    Candidate pairs are exactly the open wedges of the degree-capped
    subgraph: nodes with undirected degree > ``max_degree`` are dropped
    with all their edges BEFORE enumeration (the triangle_count_capped
    skew bound — wedge volume ≤ n·cap², linear in nodes at fixed cap; a
    celebrity hub would otherwise connect everything to everything and
    dominate both cost and output volume with uninformative pairs).
    Already-adjacent pairs leave via one anti-join against the oriented
    capped edges; pairs sharing fewer than ``min_common`` neighbors are
    cut (common == 1 is noise in any real graph and the bulk of the
    wedge output).

    Determinism: counts and degrees are exact integers; the Jaccard
    coefficient ``common / (deg_u + deg_v - common)`` is ONE IEEE divide
    of exact integers rounded half-away to 6 — bit-identical across
    engines (the corr_matrix float-finish discipline). Degrees are those
    of the CAPPED subgraph so the score is replayable from the same edge
    set the wedges came from.

    Plan shape: one distinct + one degree agg + two semi-joins (the cap),
    one self-equi-join on the shared neighbor (the wedges), one hash
    aggregate (common counts), one anti-join (drop existing edges), two
    node-sized degree joins. Everything shuffles on node/pair keys; no
    cartesian anywhere. Returns (u, v, common_neighbors, deg_u, deg_v,
    jaccard) with u < v."""
    und = _undirected(edges, assume_distinct)
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    keep = deg.where(F.col("deg") <= max_degree).select("src")
    capped = (
        und.join(keep, "src", "leftsemi")
        .join(keep.withColumnRenamed("src", "dst"), "dst", "leftsemi")
    )
    # wedges: u—v—w with u < w; capped holds both directions, so joining
    # on the shared neighbor v enumerates each unordered (u, w) once per
    # common neighbor
    e1 = capped.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    e2 = capped.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "v").where(F.col("u") < F.col("w"))
    cn = wedges.groupBy("u", "w").agg(F.count("*").cast("long").alias("common"))
    orient = capped.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    cand = cn.join(orient, ["u", "w"], "left_anti").where(
        F.col("common") >= min_common
    )
    degc = capped.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    du = degc.select(F.col("src").alias("u"), F.col("d").alias("deg_u"))
    dv = degc.select(F.col("src").alias("w"), F.col("d").alias("deg_v"))
    return (
        cand.join(du, "u")
        .join(dv, "w")
        .select(
            F.col("u"),
            F.col("w").alias("v"),
            F.col("common").alias("common_neighbors"),
            "deg_u",
            "deg_v",
            F.round(
                F.col("common")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


def pagerank_weighted(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    unit: int = 1_000_000,
    weight_col: str = "w",
    checkpoint_every: int = 0,
) -> DataFrame:
    """Weighted integer PageRank (r9): real interaction graphs are
    weighted (how MANY orders link a customer to a supplier, not whether
    any does), and ranking on the unweighted skeleton lets one stray
    lineitem count as much as a thousand. Contribution along an edge is
    ``(rank · w) div strength(src)`` with ``strength = Σ w`` — the exact
    integer analog of the standard weighted-PageRank transition, same
    associative/commutative BIGINT discipline as :func:`pagerank`
    (identical floors both engines, order-independent sums).

    Overflow bound: the per-edge product needs ``max_rank · max_w <
    2^63``; with unit=10^6 and total mass ≤ 10^12 micro (a million
    nodes) that allows weights up to ~10^6 — shrink ``unit`` for heavier
    graphs (the module-docstring rule, one multiply stronger).

    Weight contract (r10, advisor finding): weights must be POSITIVE
    integers. A ``w <= 0`` row can zero (or negate) ``strength(src)``,
    and ``div 0`` THROWS under ANSI Spark while DuckDB yields NULL — a
    silent engine divergence — and ``cast('long')`` would silently
    truncate fractional weights. Both are rejected eagerly here (one
    scalar aggregate over the edge pass that builds the cache, no extra
    job).

    Same plan shape and cache discipline as the unweighted form: the
    weighted adjacency (edge + strength) persists once; per iteration
    ONE node-sized join + ONE aggregate; lineage bounded via
    ``checkpoint_every``; loop-invariant caches released before return.
    Returns (node, rank_micro)."""
    if not 0 < damping_pct < 100:
        raise ValueError("pagerank_weighted: damping_pct must be in (0, 100)")
    base = (unit * (100 - damping_pct)) // 100
    wc = F.col(weight_col)
    e = edges.select(
        "src",
        "dst",
        wc.cast("long").alias("w"),
        # non-positive and fractional weights flagged at source so ONE
        # scalar aggregate (piggybacked on the cache-building pass)
        # rejects the whole input — no per-engine div-by-zero divergence
        F.when(
            wc.isNull()
            | (wc.cast("double") <= 0)
            | (wc.cast("long").cast("double") != wc.cast("double")),
            1,
        )
        .otherwise(0)
        .alias("__bad__"),
    ).persist()
    # the contract check rides the SAME aggregate that builds strength
    # (one edge pass total); the violation count surfaces from the
    # node-sized result, not a second edge scan (r10 tier watch item)
    strength = (
        e.groupBy("src")
        .agg(
            F.sum("w").cast("long").alias("strength"),
            F.sum("__bad__").cast("long").alias("__nb__"),
        )
        .persist()
    )
    nbad = strength.agg(F.sum("__nb__")).collect()[0][0]
    if nbad:
        e.unpersist()
        strength.unpersist()
        raise ValueError(
            f"pagerank_weighted: {nbad} edge(s) with non-positive or "
            f"fractional weight in '{weight_col}' — weights must be "
            "positive integers (see docstring contract)"
        )
    adj = (
        e.select("src", "dst", "w")
        .join(strength.select("src", "strength"), "src")
        .persist()
    )
    adj.count()
    e.unpersist()
    ranks = strength.select(
        F.col("src").alias("node"), F.lit(unit).cast("long").alias("rank_micro")
    )
    for i in range(iterations):
        contrib = adj.join(ranks.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"),
            F.expr("(rank_micro * w) div strength").alias("c"),
        )
        ranks = contrib.groupBy("node").agg(
            F.expr(
                f"cast({base} + ({damping_pct} * sum(c)) div 100 as bigint)"
            ).alias("rank_micro")
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    ranks = ranks.localCheckpoint(eager=True)
    adj.unpersist()
    strength.unpersist()
    return ranks


def modularity(
    edges: DataFrame, labels: DataFrame, assume_distinct: bool = False
) -> DataFrame:
    """Per-community Newman modularity contributions (r9 — the number
    that says whether a community assignment MEANS anything before a
    pipeline caps or rebalances on it): for community c,
    ``q_c = e2_c/m2 − (d_c/m2)²`` where m2 = the symmetric edge-row
    count (= 2m), e2_c = symmetric edge rows internal to c (= 2e_c) and
    d_c = the community's degree sum; Q = Σ q_c.

    Exactness (r10 — closes the round-9 driver red): e2_c, d_c, m2 are
    exact BIGINTs and the finish is PURE integer arithmetic in micro
    units — no doubles at all, so no ``ROUND(double)`` signed-zero split
    (Spark's BigDecimal HALF_UP emits ``0.0`` where IEEE preserves
    ``-0.0`` for tiny-negative q_c; 17/58 communities at sf0.01 differed
    as raw strings under the old round-6 finish). The documented
    flooring rule, replayed verbatim by the oracle::

        term1     = (e2_c * unit)  div m2     # <= unit
        t         = (d_c * unit)   div m2     # <= unit
        term2     = (d_c * t)      div m2
        q_c_micro = term1 - term2

    All intermediates are non-negative BIGINTs; the two-stage second
    term keeps every product <= m2*unit, so the math is overflow-safe
    for m2 < 2^63/unit ~ 9.2e12 symmetric edge rows (~4.6e12 undirected
    edges — ample at 100 TB). term2 underestimates d_c²·unit/m2² by
    < 2 micro, identically in both engines.

    Input contract: ``edges`` must be SYMMETRIC (both directions
    present — symmetrize_edges' output; the label_propagation contract).
    On directed input the degree, m2, and internal counts each lose a
    different factor of two and Q comes out silently wrong.

    Plan: ONE distinct over edges (persisted — it feeds the m2 count job
    AND the result plan, the LPA cache discipline), one degree aggregate,
    two node-sized label joins, three hash aggregates — everything keyed
    on node or label; the only scalar is m2 (a count). Communities with
    no internal edge contribute e2_c = 0 via the left join. The
    label-table-sized result is materialized and the edge cache released
    before return. Returns
    (label, n_nodes, internal_edge_ends, degree_sum, q_c_micro)."""
    und = _undirected(edges, assume_distinct).persist()
    deg = und.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    m2 = und.count()
    if m2 == 0:
        und.unpersist()
        raise ValueError("modularity: empty edge set")
    lab = labels.select(F.col("node"), F.col("label"))
    la = lab.select(F.col("node").alias("src"), F.col("label").alias("la"))
    lb = lab.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
    internal = (
        und.join(la, "src")
        .join(lb, "dst")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("long").alias("e2"))
    )
    dsum = (
        deg.join(la.withColumnRenamed("la", "label"), "src")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    unit = 1_000_000
    out = dsum.join(internal, "label", "left").select(
        "label",
        "n_nodes",
        F.coalesce(F.col("e2"), F.lit(0).cast("long")).alias("internal_edge_ends"),
        "degree_sum",
        F.expr(
            f"(coalesce(e2, cast(0 as bigint)) * {unit}) div {int(m2)}"
            f" - (degree_sum * ((degree_sum * {unit}) div {int(m2)}))"
            f" div {int(m2)}"
        ).cast("long").alias("q_c_micro"),
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        und.unpersist()


def aa_degree_terms(max_degree: int, unit: int = 1_000_000) -> dict:
    """Per-degree Adamic-Adar micro-unit weights, computed ONCE
    driver-side: ``{d: floor(unit/ln(d) + ½) for d in 2..max_degree}``.

    Why a table and not ``F.log`` in the plan (r10, advisor finding):
    Spark's ``F.log`` is java.lang.Math.log (not guaranteed correctly
    rounded) while DuckDB's ``ln`` is the platform libm — a 1-ulp
    disagreement flips the floored term whenever unit/ln(d)+½ lands
    within ~1e-9 of an integer. Degrees are bounded by the wedge cap, so
    both the Spark plan (a literal map lookup) and the oracle (a literal
    CASE) carry the SAME integer constants from the same Python libm
    call — no transcendental evaluated by either engine."""
    import math

    return {d: int(math.floor(unit / math.log(d) + 0.5))
            for d in range(2, max_degree + 1)}


def adamic_adar(
    edges: DataFrame,
    max_degree: int = 64,
    min_common: int = 2,
    unit: int = 1_000_000,
    assume_distinct: bool = False,
) -> DataFrame:
    """Adamic-Adar link prediction (r9 — the other standard
    neighborhood scorer: a shared RARE neighbor is stronger evidence
    than a shared hub, so each common neighbor v contributes
    ``1/ln(deg v)`` instead of 1). Same degree-capped wedge machinery
    as :func:`link_prediction` (wedge volume ≤ n·cap², anti-join drops
    existing edges).

    Determinism: a raw double Σ 1/ln(d) is ORDER-DEPENDENT — partitioned
    partial sums can drift a ulp between engines, the failure the
    engine-wide integer discipline exists to prevent. Each term is an
    integer micro-unit weight looked up from :func:`aa_degree_terms`
    (driver-side table — neither engine evaluates ``ln``; see that
    docstring for the 1-ulp cross-libm hazard this closes), and only
    exact BIGINTs are summed — associative, partition-independent,
    oracle-exact. A wedge's shared neighbor has ≥ 2 capped-subgraph
    neighbors by construction, so dv ∈ [2, max_degree] and the lookup is
    total. Returns (u, v, common_neighbors, aa_micro) for non-adjacent
    pairs with ≥ min_common shared neighbors."""
    und = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    keep = deg.where(F.col("deg") <= max_degree).select("src")
    capped = (
        und.join(keep, "src", "leftsemi")
        .join(keep.withColumnRenamed("src", "dst"), "dst", "leftsemi")
    )
    # capped-subgraph degree of the SHARED neighbor drives the weight;
    # the weight itself is a literal-map lookup (aa_degree_terms) — no
    # transcendental in the plan
    degc = capped.groupBy("src").agg(F.count("*").cast("long").alias("dv"))
    terms = aa_degree_terms(max_degree, unit)
    lookup = F.create_map(
        *[F.lit(x) for kv in terms.items() for x in kv]
    )
    term = F.element_at(lookup, F.col("dv").cast("int")).cast("long")
    e1 = capped.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    e2 = capped.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = (
        e1.join(e2, "v")
        .where(F.col("u") < F.col("w"))
        .join(degc.withColumnRenamed("src", "v"), "v")
    )
    scored = wedges.groupBy("u", "w").agg(
        F.count("*").cast("long").alias("common"),
        F.sum(term).cast("long").alias("aa_micro"),
    )
    orient = capped.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    return (
        scored.join(orient, ["u", "w"], "left_anti")
        .where(F.col("common") >= min_common)
        .select(
            "u",
            F.col("w").alias("v"),
            F.col("common").alias("common_neighbors"),
            "aa_micro",
        )
    )
