"""Iterative graph operators — connected components for dedup clusters.

Near-dup detection yields PAIRS; acting on them (keep one doc per
duplicate group) needs CLUSTERS = connected components of the pair
graph. Implemented as alternating large-star/small-star rounds
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SOCC'14): each round contracts star subgraphs toward the component
minimum, converging in O(log n) rounds — vs O(component diameter) for
plain min-label propagation, which round 1 used. The difference
matters at corpus scale: templated boilerplate chains near-dups into
long paths, and a diameter-d chain costs d shuffles under propagation
but only ~log2(d) here (measured on a 200-node path: 6 rounds vs 100+).

Scale notes:
- every round is two groupBy(node).min + two joins over the edge list —
  linear work, no quadratic blowup;
- ``localCheckpoint`` every round truncates the lineage (without it,
  round k replays rounds 1..k-1 — quadratic recompute and a growing
  plan that eventually breaks the planner);
- the driver-side loop only checks a scalar "did the edge set change"
  aggregate per round; corpus-sized relations (nodes) never collect to
  the driver. Edge sets at or under ``DRIVER_UNION_FIND_MAX_EDGES``
  take a union-find fast path (one bounded collect, broadcast-join the
  labels back) — the broadcast-join discipline applied to iteration;
- non-convergence within ``max_iter`` RAISES instead of silently
  returning partial labels (a wrong cluster map corrupts every
  downstream keep/drop decision).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.bounded import (
    collect_bounded,
    local_frame,
)


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round over a symmetric edge list (a, b): connect
    every neighbor larger than ``a`` to m = min({a} ∪ Γ(a)). Output
    edges are oriented larger → smaller."""
    m = (
        sym.groupBy("a")
        .agg(F.min("b").alias("_mn"))
        .select("a", F.least(F.col("a"), F.col("_mn")).alias("m"))
    )
    return (
        sym.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round over larger→smaller oriented edges: for each
    node ``a``, link all its smaller neighbors (and ``a`` itself) to
    m = min of those neighbors. Keeps orientation larger → smaller."""
    m = edges.groupBy("a").agg(F.min("b").alias("m"))
    relinked = (
        edges.join(m, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    centers = m.select(F.col("a"), F.col("m").alias("b"))
    return relinked.unionByName(centers).distinct()


# Edge sets at or under this size take the driver union-find fast path
# in connected_components. Rationale: the CC input here is VERIFIED
# near-dup pairs — a tiny relation by construction (duplication rate ×
# corpus, post-threshold), while the iterative star algorithm costs
# O(log n) rounds × several Spark jobs of pure scheduler latency
# (measured 5.2 s for a 256-edge graph at local[32]). Collecting a
# bounded SMALL side to the driver is the same discipline as a
# broadcast join; nodes (which ARE corpus-sized) never collect — the
# label table broadcasts back. Above the threshold the distributed
# star path runs unchanged.
DRIVER_UNION_FIND_MAX_EDGES = 1_000_000

# PageRank's damping factor (the Page et al. value) and the iterative
# operators' lineage-truncation periods: a localCheckpoint every few
# rounds, never every round (each checkpoint is a whole Spark job).
PAGERANK_DAMPING = 0.85
PAGERANK_CHECKPOINT_EVERY = 3
BFS_CHECKPOINT_EVERY = 2
# peel rounds before k_core declares non-convergence
K_CORE_MAX_ITER = 50


def _driver_union_find(edge_rows) -> dict:
    """Union-find with path compression over collected (a, b) pairs;
    returns {node: component_min} for every node appearing in an edge."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
    stats: dict | None = None,
    driver_max_edges: int = DRIVER_UNION_FIND_MAX_EDGES,
) -> DataFrame:
    """Label each node with the smallest node id reachable from it.

    ``nodes``: one column ``id_col`` (isolated nodes allowed — they
    become singleton components). ``edges``: undirected pairs; each row
    (``src``, ``dst``) connects both ways.

    Returns (id_col, ``component``) — component = min id in the node's
    component, the canonical-representative convention (deterministic,
    matches a recursive-CTE oracle). Pass ``stats`` to receive
    ``{"rounds": n}`` for convergence accounting.

    Raises ``RuntimeError`` if the edge set has not reached fixpoint
    after ``max_iter`` rounds (at O(log n) convergence, 25 rounds covers
    ~2^25-node components — hitting the cap means something is wrong).
    """
    # orient larger → smaller, drop self-loops; checkpoint ONCE so the
    # (possibly expensive) upstream pair-generation lineage never
    # re-executes inside the loop
    e = (
        edges.select(
            F.greatest(F.col("src"), F.col("dst")).alias("a"),
            F.least(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(d: DataFrame) -> DataFrame:
        return d.unionByName(
            d.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )

    rounds = 0
    n_prev = e.count()
    if n_prev <= driver_max_edges:
        # small-edge fast path: one collect + one broadcast join back
        # (see DRIVER_UNION_FIND_MAX_EDGES). Identical output contract:
        # component = min reachable id, isolated nodes label themselves.
        rows = collect_bounded(e, driver_max_edges, "connected_components edges")
        comp = _driver_union_find((r["a"], r["b"]) for r in rows.to_pylist())
        if stats is not None:
            stats["rounds"] = 0
        spark = nodes.sparkSession
        if comp:
            labels = local_frame(
                spark, list(comp.items()), schema=e.select("a", "b").schema
            ).select(F.col("a"), F.col("b").alias("component"))
        else:
            labels = e.select("a", F.col("b").alias("component")).limit(0)
        return (
            nodes.select(F.col(id_col).alias("a"))
            .join(F.broadcast(labels), "a", "left")
            .select(
                F.col("a").alias(id_col),
                F.coalesce(F.col("component"), F.col("a")).alias("component"),
            )
        )
    for _ in range(max_iter):
        # TWO star sweeps per materialization: the eager localCheckpoint
        # and the fixpoint count are whole Spark jobs, and at ~10 sweeps
        # per graph their scheduler latency — not the shuffles — was the
        # dominant cost of every CC-backed query. Chaining two sweeps
        # under one checkpoint halves that job count; the lineage stays
        # shallow (two star ops) and the fixpoint detector is unchanged
        # (a fixpoint of one sweep is a fixpoint of two).
        rounds += 2
        e_next = _small_star(_large_star(_sym(e)))
        e_next = _small_star(_large_star(_sym(e_next))).localCheckpoint(
            eager=True
        )
        # fixpoint test: both sides are distinct sets, so equal counts +
        # one empty one-sided difference proves set equality
        n_next = e_next.count()
        done = (
            n_next == n_prev
            and e_next.exceptAll(e).limit(1).count() == 0
        )
        e, n_prev = e_next, n_next
        if done:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds

    # at fixpoint the edge set is a union of stars centered at each
    # component minimum: every non-root node carries exactly (u, min).
    # groupBy-min is belt and braces; isolated nodes label themselves.
    labels = e.groupBy("a").agg(F.min("b").alias("component"))
    return (
        nodes.select(F.col(id_col).alias("a"))
        .join(labels, "a", "left")
        .select(
            F.col("a").alias(id_col),
            F.coalesce(F.col("component"), F.col("a")).alias("component"),
        )
    )


def triangle_enumerate(edges: DataFrame) -> DataFrame:
    """Enumerate every triangle in an undirected graph (one (``src``,
    ``dst``) row per unordered edge), emitting ``node_a < node_b <
    node_c`` by id.

    Distributed shape — the degree-ordered node-iterator (Cohen's
    MapReduce triangle counting / Latapy's compact-forward): orient
    each edge from its lower-(degree, id) endpoint to the higher one,
    build wedges by self-joining oriented edges on their source, and
    close each wedge with a semi-ish join back onto the oriented edge
    set. Under degree orientation every out-degree is O(√m), so the
    wedge relation — the only super-linear intermediate — is bounded
    by Σ out-deg² = O(m^1.5) instead of the Σ deg² a naive orientation
    produces when one hub dominates (a star graph yields ZERO wedges
    here vs n² naive). Three hash shuffles total, no driver state;
    each triangle is produced exactly once (its lowest-order vertex
    owns it).
    """
    from pyspark import StorageLevel

    a, b = F.col("src"), F.col("dst")
    # persist the symmetric edge list: deg and the two degree-attach
    # joins all consume it, and each re-derivation otherwise replays
    # the caller's full edge-build lineage (the co-purchase query's
    # basket pipeline re-scanned the fact table 18× before this).
    # Rows are two ints — negligible storage, caller-owns-cleanup
    # convention (clearCache per query in bench/verify).
    sym = (
        edges.select(a.alias("u"), b.alias("v"))
        .unionAll(edges.select(b.alias("u"), a.alias("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    with_deg = (
        sym.join(deg.withColumnRenamed("u", "_du"), sym["u"] == F.col("_du"))
        .withColumnRenamed("deg", "deg_u")
        .drop("_du")
        .join(deg.withColumnRenamed("u", "_dv"), sym["v"] == F.col("_dv"))
        .withColumnRenamed("deg", "deg_v")
        .drop("_dv")
    )
    # total order (deg, id): keep only edges pointing "up" the order —
    # each undirected edge survives exactly once, oriented.
    # persisted: e1, e2 and the closing-edge re-emit all read it
    oriented = (
        with_deg.filter(F.struct("deg_u", "u") < F.struct("deg_v", "v"))
        .select("u", "v")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e1 = oriented.select(F.col("u").alias("w_src"), F.col("v").alias("w_a"))
    e2 = oriented.select(F.col("u").alias("w_src"), F.col("v").alias("w_b"))
    wedges = e1.join(e2, "w_src").filter(F.col("w_a") < F.col("w_b"))
    # wedge endpoints are id-ordered (w_a < w_b) but the closing edge is
    # DEGREE-oriented — re-emit it id-ordered so the close is a plain
    # two-key hash equi-join (an OR-of-orientations condition would
    # force a nested-loop join).
    closing = oriented.select(
        F.least("u", "v").alias("w_a"), F.greatest("u", "v").alias("w_b")
    )
    tri = wedges.join(closing, ["w_a", "w_b"])
    ids = F.array_sort(F.array("w_src", "w_a", "w_b"))
    return tri.select(
        F.element_at(ids, 1).alias("node_a"),
        F.element_at(ids, 2).alias("node_b"),
        F.element_at(ids, 3).alias("node_c"),
    )


def pagerank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration PageRank over a directed (``src``, ``dst``) edge
    list (Page et al. 1999; the power-iteration formulation every
    distributed engine ships). Node set = distinct edge endpoints; rank
    starts uniform at 1/N and each iteration applies

        r'(v) = (1-d)/N + d * (Σ_{(u,v)∈E} r(u)/outdeg(u) + dangling/N)

    with d = ``PAGERANK_DAMPING``, where ``dangling`` is the rank mass
    sitting on nodes with no out-edges, redistributed uniformly (the
    standard stochastic-matrix repair — without it rank mass leaks and
    scores drift toward 0).

    Distributed shape: one groupBy(dst) per iteration — rank flows as
    ``rank/outdeg`` along each edge and re-aggregates at the target, a
    single keyed shuffle over the edge list with map-side partial sums.
    The dangling mass is a 1-row aggregate broadcast back via a scalar
    cross join (never a driver collect), and ``localCheckpoint`` every
    ``PAGERANK_CHECKPOINT_EVERY`` iterations truncates the lineage so a
    long run does not replay earlier iterations or outgrow the planner —
    but NOT every iteration: each checkpoint is a whole materialization
    job, and for the common 3-5 iteration case scheduler latency on
    those jobs (not the shuffles) dominated wall-clock, so a small
    unrolled plan of 2-3 chained iterations per job is strictly cheaper.
    Fixed ``iters`` (not convergence-tested) keeps the job count
    deterministic and the result oracle-reproducible by unrolling.
    """
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("u").agg(F.count("*").alias("outdeg"))
    # nodes with outdeg joined left: null outdeg marks a dangling node.
    # Derived from the checkpointed edge list by one tiny agg+join, so
    # it needs no checkpoint of its own — count() materializes it once
    # and AQE-coalesced re-runs inside later jobs are cheap.
    base = nodes.join(outdeg.withColumnRenamed("u", "node"), "node", "left")
    n_nodes = base.count()  # scalar, bounded by the node-id domain
    ranks = base.select("node", "outdeg", F.lit(1.0 / n_nodes).alias("r"))
    for it in range(iters):
        dangling = ranks.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0.0)).alias("_dm")
        )
        inflow = (
            e.join(
                ranks.select(
                    F.col("node").alias("u"),
                    (F.col("r") / F.col("outdeg")).alias("_c"),
                ),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            base.join(inflow, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "outdeg",
                (
                    F.lit((1.0 - PAGERANK_DAMPING) / n_nodes)
                    + F.lit(PAGERANK_DAMPING)
                    * (
                        F.coalesce(F.col("_in"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n_nodes))
                    )
                ).alias("r"),
            )
        )
        # truncate lineage periodically, never after the final
        # iteration (the caller's action materializes it anyway)
        if (it + 1) % PAGERANK_CHECKPOINT_EVERY == 0 and it + 1 < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("r").alias("pagerank"))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    driver_max_edges: int = DRIVER_UNION_FIND_MAX_EDGES,
) -> DataFrame:
    """Minimum hop distance from a seed set (``sources.node``) over a
    directed (``src``, ``dst``) edge list —
    frontier-at-a-time parallel BFS (the Pregel traversal primitive:
    reachability, blast-radius, "within-N-hops" recommendation scopes).

    Each round is one hash join frontier⋈edges plus one anti-join
    against the visited set — work proportional to the frontier's
    out-edges, never the whole graph, and the visited anti-join keeps
    the frontier from re-expanding settled nodes (without it a cyclic
    graph re-visits forever and walk counts explode combinatorially —
    the reason this is NOT expressed as an unbounded self-join chain).
    ``localCheckpoint`` every ``BFS_CHECKPOINT_EVERY`` rounds truncates
    lineage without paying a materialization job per round (each
    checkpoint is a whole job; for shallow traversals scheduler
    latency on those jobs dominates — same trade as ``pagerank``); the
    per-round driver action is a scalar emptiness probe (limit(1)
    count, no data collect). Capped at ``max_hops`` rounds so the job count is
    deterministic and a recursive-CTE oracle can mirror it exactly;
    early-exits when the frontier drains.

    Returns (``node``, ``hops``) for every node reachable within
    ``max_hops`` (seeds at hop 0). An edge set of at most
    ``driver_max_edges`` rows traverses on the driver, which then also
    fetches the seed rows, at most ``driver_max_edges`` of them.
    """
    # checkpoint the edge list FIRST: every round joins against it, and
    # without materialization each round (plus each fixpoint probe)
    # re-executes the possibly-expensive upstream pair generation —
    # measured 19 s vs ~5 s on the co-purchase graph at sf0.1
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if e.count() <= driver_max_edges:
        # small-edge fast path — the connected_components discipline
        # applied to traversal: each BFS round costs several Spark jobs
        # of scheduler latency regardless of frontier size, so a
        # bounded edge set (one collect) traverses on the driver and
        # the hop table broadcast-joins back implicitly via
        # local_frame (it IS the result). Same output contract.
        adj: dict = {}
        for r in collect_bounded(e, driver_max_edges, "bfs_hops edges").to_pylist():
            adj.setdefault(r["u"], []).append(r["v"])
        seeds = collect_bounded(
            sources.select("node"), driver_max_edges, "bfs_hops seeds"
        )
        hops = {v: 0 for v in seeds.column("node").to_pylist()}
        frontier_ids = list(hops)
        for h in range(1, max_hops + 1):
            nxt = []
            for u in frontier_ids:
                for v in adj.get(u, ()):
                    if v not in hops:
                        hops[v] = h
                        nxt.append(v)
            if not nxt:
                break
            frontier_ids = nxt
        return local_frame(
            edges.sparkSession, list(hops.items()), "node long, hops int"
        )
    visited = (
        sources.select(F.col("node").alias("u"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            e.join(frontier.select("u"), "u")
            .select(F.col("v").alias("u"))
            .distinct()
            .join(visited.select("u"), "u", "left_anti")
            .withColumn("hops", F.lit(h))
        )
        visited = visited.unionByName(nxt)
        if h % BFS_CHECKPOINT_EVERY == 0 and h < max_hops:
            visited = visited.localCheckpoint(eager=True)
        frontier = visited.filter(F.col("hops") == h)
        if frontier.limit(1).count() == 0:
            break
    return visited.select(F.col("u").alias("node"), "hops")


def k_core(
    edges: DataFrame,
    k: int,
    driver_max_edges: int = DRIVER_UNION_FIND_MAX_EDGES,
) -> DataFrame:
    """The k-core: the maximal subgraph where every node has degree ≥ k
    (undirected; one (``src``, ``dst``) row per edge, symmetrized
    internally) — the
    standard dense-community filter before expensive per-community
    work, and the degeneracy peel ordering's building block.

    Iterative peeling: drop nodes with current degree < k, delete their
    edges, recompute — each round one degree aggregation + one semi
    join over the SURVIVING edge set (shrinking, never the original
    graph), ``localCheckpoint`` per round, scalar count as the fixpoint
    probe. Converges in at most O(n) rounds but typically few (each
    round removes a whole shell); raises past ``K_CORE_MAX_ITER`` like
    ``connected_components``.

    Returns the surviving nodes: (``node``, ``degree``) with degree ≥ k
    inside the core. No SQL-expressible oracle (shrinking fixpoints
    need aggregation inside recursion) → planted-graph unit tests
    carry correctness.
    """
    a, b = F.col("src"), F.col("dst")
    e = (
        edges.select(a.alias("u"), b.alias("v"))
        .unionByName(edges.select(b.alias("u"), a.alias("v")))
        # self-loop filter AFTER the symmetrizing union — filtering only
        # the forward branch lets (x, x) re-enter reversed and inflate
        # x's degree by one, wrongly surviving a k-core peel
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = e.count()
    if n_prev <= driver_max_edges:
        # small-edge fast path — the CC/BFS discipline applied to
        # peeling: each round is several Spark jobs of scheduler
        # latency; a bounded symmetric edge set peels on the driver.
        # Same output contract (surviving nodes + in-core degree).
        adj: dict = {}
        for r in collect_bounded(e, driver_max_edges, "k_core edges").to_pylist():
            adj.setdefault(r["u"], set()).add(r["v"])
        changed = True
        while changed:
            changed = False
            for u in [u for u, nb in adj.items() if len(nb) < k]:
                for v in adj.pop(u):
                    nb = adj.get(v)
                    if nb is not None:
                        nb.discard(u)
                changed = True
        return local_frame(
            edges.sparkSession,
            [(u, len(nb)) for u, nb in adj.items()],
            "node long, degree long",
        )
    for _ in range(K_CORE_MAX_ITER):
        deg = e.groupBy("u").agg(F.count("*").alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("u")
        e_next = (
            e.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_next = e_next.count()
        e = e_next
        if n_next == n_prev:
            break
        n_prev = n_next
    else:
        raise RuntimeError(f"k_core did not converge in {K_CORE_MAX_ITER} rounds")
    return e.groupBy("u").agg(F.count("*").alias("degree")).select(
        F.col("u").alias("node"), "degree"
    )


def k_core_peel_rounds(
    edges: DataFrame,
    k: int,
    rounds: int,
) -> DataFrame:
    """Exactly ``rounds`` iterations of the k-core peel — the
    fixed-depth twin of ``k_core`` (which runs to the fixpoint).

    A shrinking fixpoint cannot be expressed in recursive SQL (degrees
    must re-aggregate inside the recursion), but a FIXED number of
    peel rounds unrolls into plain chained CTEs — the same convention
    that makes PageRank/label-propagation oracle-pairable. Each round
    is one degree aggregation over the surviving edge set plus two
    semi joins; the edge set only shrinks, so round cost is bounded by
    the first round at any scale. Returns every node still carrying an
    edge after the last round with its CURRENT degree (nodes a further
    round would peel are reported as-is — this is the state after
    ``rounds`` peels, not the core)."""
    a, b = F.col("src"), F.col("dst")
    e = (
        edges.select(a.alias("u"), b.alias("v"))
        .unionByName(edges.select(b.alias("u"), a.alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        deg = e.groupBy("u").agg(F.count("*").alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("u")
        e = (
            e.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
    return e.groupBy("u").agg(F.count("*").cast("bigint").alias("degree")).select(
        F.col("u").alias("node"), "degree"
    )
