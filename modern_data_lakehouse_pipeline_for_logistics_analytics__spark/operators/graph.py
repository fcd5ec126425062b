"""Iterative graph algorithms beyond connected components: fixed-point
PageRank.

Why FIXED-POINT (BIGINT) instead of doubles: iterative float reductions
are order-dependent, so two engines -- or two runs of the same engine
with different partitioning -- produce last-ulp-different ranks, and a
cross-engine oracle can never hash-match.  Scaling ranks to integer
units (1e-12 of a unit rank) makes every contribution ``r div deg`` and
every damping step ``(85 * Σ) div 100`` exact integer arithmetic:
bit-identical on any engine, any partitioning, any summation order.
The quantization error per iteration is < 1 unit = 1e-12 -- noise
relative to PageRank's own damping tolerance.  (Production systems run
doubles and accept nondeterminism; the fixed-point twin is the portable
evidence path, same trade as the LSH/IVF portable twins.)

Overflow bound: Σ contributions per node <= n * SCALE, and the damping
multiply needs 85x that, so callers keep ``n * SCALE * 85 < 2^63``
(n <= ~10^8 at the default SCALE; at larger n, drop SCALE a digit).

Scale posture: each iteration is one join (ranks are (node, long) pairs
-- 16-byte shuffle rows, the edge table partitioning is reusable across
iterations) plus one map-side-combinable sum.  Every loop here runs on
the checkpoint chain of ``loop.py``.

Reference parity: none -- the reference has no graph surface; this
extends the iterative-algorithm family (SURVEY §7 north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .loop import CheckpointChain, fixpoint

SCALE = 1_000_000_000_000  # 1.0 of rank, in fixed-point units
DAMP_NUM, DAMP_DEN = 85, 100


def pagerank_fixedpoint(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    broadcast_rank_rows: int = 2_000_000,
) -> DataFrame:
    """PageRank over a directed edge list where every node has at least
    one outgoing edge (symmetrize bipartite/undirected graphs first --
    that also guarantees no dangling-mass term).  Returns
    ``(node, rank_fp)`` with rank in SCALE units.

    r_0(v) = SCALE;  r_{i+1}(v) = 0.15*SCALE + 0.85 * Σ_{u->v} r_i(u) div deg(u)
    with every step in exact BIGINT arithmetic.  Every node of the edge
    list keeps a rank row every round: nodes nobody links to (in-degree
    0) hold the bare teleport rank yet still PUSH their mass out -- a
    dst-only rebuild of the rank table silently dropped them after round
    one and leaked their outgoing mass.

    When the node count is under ``broadcast_rank_rows`` the per-
    iteration join BROADCASTS the rank table (two longs per node --
    ~32 MB at the default cap), eliminating the edge-side shuffle
    entirely; larger graphs fall back to the shuffle join against the
    pre-partitioned persisted edges.  This is the size-adaptive choice
    AQE would make if checkpointed frames carried size stats.
    """
    # CACHE THE SHARED UPSTREAM SUBTREES (r16, guide §2.4): the caller's
    # edge derivation (typically a scan + distinct + symmetrizing union)
    # and the degree aggregate feed FIVE plan branches here -- the
    # dangling probe, the sizing stats, the e build, the rank init and
    # the zero-rows frame.  Uncached, each branch re-ran the whole
    # upstream derivation (isolated profiling at sf0.1: ~5 of
    # pagerank_part_supplier's 7s were redundant lineitem scans).  Both
    # frames are small ((node, long) pairs / edge pairs); released in
    # the finally.
    ed = edges.select(F.col(src).alias("node"), F.col(dst).alias("to")).persist()
    deg = (
        ed.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .persist()
    )
    e = None
    try:
        # Enforce the documented precondition LOUDLY: a dst-only (dangling)
        # node has no degree row, so its rank semantics are undefined -- the
        # two historical behaviors (excluded vs teleport-only row) differed
        # silently depending on implementation details.  The probe rides the
        # SAME job as the sizing stats (r16: one bounded 1-row action instead
        # of two -- the loop is scheduling-bound at bench scale, guide §1.2).
        # Size the edge partitioning to the data, not the session default:
        # every iteration re-reads e, so 32 near-empty partitions x 5 rounds
        # is pure scheduler overhead at bench scale, while a huge graph still
        # fans out (~500k edge rows per partition, capped at 4x parallelism).
        # One tiny agg over the degree table yields the node count (join
        # strategy), the edge count (Σ deg = partition sizing) AND the
        # dangling-destination count (precondition).
        dangling_cnt = (
            ed.select(F.col("to").alias("node"))
            .distinct()
            .join(deg.select("node"), "node", "left_anti")
            .agg(F.count(F.lit(1)).alias("dg"))
        )
        stats = (
            deg.agg(F.count(F.lit(1)).alias("n"), F.sum("deg").alias("ec"))
            .crossJoin(dangling_cnt)
            .first()
        )
        if stats["dg"]:
            raise ValueError(
                "pagerank_fixedpoint: edge list has dangling destination nodes "
                "(no outgoing edges); symmetrize the graph or add self-loops first"
            )
        n_nodes, e_cnt = stats["n"], stats["ec"] or 0
        sc_default = edges.sparkSession.sparkContext.defaultParallelism
        e_parts = int(max(4, min(sc_default * 4, e_cnt // 500_000 + 1)))
        e = (
            ed.join(deg, "node")
            .repartition(e_parts, "node")
            .persist()
        )
        ranks = deg.select("node", F.lit(SCALE).cast("long").alias("r"))
        teleport = (DAMP_DEN - DAMP_NUM) * SCALE // DAMP_DEN
        maybe_bcast = F.broadcast if n_nodes <= broadcast_rank_rows else (lambda df: df)
        # CHECKPOINT CADENCE (r16, guide §1.2 "the distributed algorithm"):
        # each rank frame has exactly ONE downstream consumer (the next
        # round's join), so nothing forces a materialization per round --
        # the per-round eager checkpoint existed only to cap plan growth,
        # and rank lineage grows LINEARLY (one join+agg per round), not
        # exponentially like the 3-reference CC loop.  Rounds therefore
        # chain lazily and materialize in ONE job per ``checkpoint_every``
        # block (plus the final): iterations=5 now runs 2 loop jobs instead
        # of 5.  Work is identical -- every join/agg still executes exactly
        # once, inside fewer, deeper jobs; at bench scale the loop was
        # scheduling-bound (job launch + checkpoint write per round), at
        # cluster scale fewer materialization barriers only helps.
        checkpoint_every = 4
        with CheckpointChain() as side, CheckpointChain("graph.pagerank") as chain:
            # Zero-contribution self rows keep EVERY node in the rank table
            # each round (in-degree-0 nodes hold the bare teleport rank yet
            # still push mass out); folding them into the aggregate input
            # costs one map-side-combined union row per node -- an extra
            # LEFT JOIN against the node set measured ~2x the whole query.
            # The first round's materialization computes it once, every
            # later round reads the persisted RDD.
            zero_rows = side.push(deg.select("node", F.lit(0).cast("long").alias("c")))
            for i in range(iterations):
                full = (
                    e.join(maybe_bcast(ranks), "node")
                    .select(F.col("to").alias("node"), F.expr("r div deg").alias("c"))
                    .unionByName(zero_rows)
                    .groupBy("node")
                    .agg(F.sum("c").cast("long").alias("s"))
                )
                ranks = full.select(
                    "node",
                    (F.lit(teleport) + F.expr(f"({DAMP_NUM} * s) div {DAMP_DEN}"))
                    .cast("long")
                    .alias("r"),
                )
                if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
                    ranks = chain.push(ranks, eager=True)
            # Final materialization: one eager checkpoint executes every
            # round since the last cadence checkpoint.
            ranks = chain.push(ranks, eager=True)
    finally:
        for frame in (e, ed, deg):
            if frame is not None:
                frame.unpersist()
    return ranks.select("node", F.col("r").alias("rank_fp"))


def hierarchy_flatten(
    nodes: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    max_iter: int = 20,
) -> DataFrame:
    """Flatten a parent-pointer hierarchy (org chart, BOM, category tree)
    to ``(node, root, depth)`` by POINTER DOUBLING: each round a node's
    known-ancestor pointer jumps to that ancestor's own pointer and the
    distances add, so an H-deep hierarchy converges in O(log H) joins --
    the recursive-CTE walk every warehouse writes, without H sequential
    passes.  ``parent_col`` NULL marks roots.

    Converged rows stop changing (root pointers are fixed points), and
    the loop exits early once no pointer moved (checkpoint chain:
    ``loop.py``).  All-integer state -- the oracle replays it with a
    recursive CTE bit-for-bit.

    A DANGLING parent pointer (parent id absent from ``nodes``) becomes
    that subtree's root label: the walk stops there with the depth
    counted up to it, rather than silently dropping the node (an inner
    hop join lost referentially-broken org-chart rows with no error).
    A CYCLE in the pointers can never converge; the loop raises after
    ``max_iter`` rounds instead of returning wrong roots (2^max_iter
    depth coverage means 20 rounds handle any acyclic hierarchy ever
    seen in practice).
    """
    moved: list[int] = []

    def _double(state: DataFrame) -> DataFrame:
        hop = state.select(
            F.col("node").alias("h_node"),
            F.col("anc").alias("h_anc"),
            F.col("depth").alias("h_depth"),
        )
        return state.join(hop, state["anc"] == hop["h_node"], "left").select(
            "node",
            F.coalesce(F.col("h_anc"), F.col("anc")).alias("anc"),
            (F.col("depth") + F.coalesce(F.col("h_depth"), F.lit(0))).alias("depth"),
            (F.coalesce(F.col("h_anc"), F.col("anc")) != F.col("anc"))
            .cast("long")
            .alias("__moved"),
        )

    def _none_moved(frame: DataFrame) -> bool:
        moved.append(frame.agg(F.sum("__moved")).first()[0] or 0)
        return not moved[-1]

    with CheckpointChain("graph.hierarchy") as chain:
        start = chain.push(
            nodes.select(
                F.col(node_col).alias("node"),
                F.coalesce(F.col(parent_col), F.col(node_col)).alias("anc"),
                F.when(F.col(parent_col).isNull(), 0).otherwise(1).cast("long").alias("depth"),
            ),
            eager=True,
        )
        # max_iter + 1 rounds: depth <= 2^max_iter resolves within max_iter
        # doubling rounds, and convergence DETECTION (moved == 0) needs one
        # further observation round -- without it, depths in
        # (2^(max_iter-1), 2^max_iter] spuriously raised.
        final = fixpoint(
            chain, start, _double, _none_moved, max_iter + 1,
            view=lambda f: f.drop("__moved"),
        )
        if not moved or moved[-1]:
            # Pointers still moving after the detection round: either the
            # hierarchy is deeper than 2^max_iter (raise max_iter) or it
            # contains a cycle whose length is not a power of two, where
            # pointer chasing never stabilizes.  Returning the partial state
            # would silently hand out wrong roots/depths.
            raise RuntimeError(
                f"hierarchy_flatten did not converge in {max_iter} rounds: "
                "cycle in the parent pointers, or depth > 2^max_iter"
            )
        state = final.drop("__moved")
        # POWER-OF-TWO-length cycles evade the moved-guard: jumps of 2^k land
        # every cycle node back on ITSELF (2^k mod L == 0 only when L divides
        # 2^k), a "converged" self-pointer with nonzero distance; all other
        # cycle lengths keep moving and trip the guard above.  A true root
        # has depth 0 by construction and a dangling root is absent from the
        # node set, so anc == node with depth > 0 proves a cycle.
        n_cycle = state.filter((F.col("anc") == F.col("node")) & (F.col("depth") > 0)).count()
        if n_cycle:
            raise RuntimeError(
                f"hierarchy contains a cycle ({n_cycle} self-converged nodes "
                "with nonzero depth); roots/depths are undefined"
            )
    return state.select("node", F.col("anc").alias("root"), "depth")


def triangle_count(edges: DataFrame, lo: str = "lo", hi: str = "hi") -> DataFrame:
    """Global triangle count over an undirected edge list given in
    canonical form (``lo < hi``, deduplicated).

    The canonical MapReduce graph kernel: enumerate wedges a<b<c by
    joining ordered edges on the middle node, then close each wedge
    against the edge set -- every triangle is counted exactly once (its
    vertices appear in sorted order).  The node ordering bounds wedge
    fan-out by each node's HIGHER-numbered degree, the classic
    degeneracy trick that keeps hub nodes from exploding the wedge join.
    Two equi joins, all integer -- SQL-replayable.  Output: one row
    ``(n_edges, n_wedges, n_triangles)``.
    """
    e = edges.select(F.col(lo).alias("a"), F.col(hi).alias("b"))
    ey = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = e.join(ey, "b").select("a", "b", "c")
    closing = e.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = wedges.join(closing, ["a", "c"])
    return (
        e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(wedges.agg(F.count(F.lit(1)).cast("long").alias("n_wedges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: min-hop distance from any seed, bounded by
    ``max_depth``.  Output ``(node, dist)`` for every node reachable in
    <= max_depth hops (seeds at dist 0).

    Classic iterative min-relaxation: round k sets
    ``dist(v) = min(dist(v), 1 + min over in-neighbors dist(u))``, so
    after ``max_depth`` rounds every distance <= max_depth is exact
    (monotone decreasing, unit edges).  Early exit when a round changes
    nothing -- the fixpoint is already the bounded answer.  Distances
    are integers, so the result is bit-identical on any engine/
    partitioning -- a recursive CTE with UNION-dedup replays it in SQL.

    Scale posture: per round one join keyed on the edge src (the cached
    edge partitioning is reused across rounds) + one map-side-combinable
    min.  Frontier rows are (node, int) pairs (checkpoint chain:
    ``loop.py``).  max_depth bounds work: this is the bounded-
    reachability primitive (ego networks, blast-radius audits), not
    all-pairs.
    """
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")).cache()

    def _relax(dist: DataFrame) -> DataFrame:
        relaxed = (
            e.join(dist, F.col("e_src") == F.col("node"))
            .groupBy(F.col("e_dst").alias("node"))
            .agg((F.min("dist") + 1).alias("nd"))
        )
        return dist.join(relaxed, "node", "full").select(
            "node",
            F.least(
                F.coalesce(F.col("dist"), F.col("nd")),
                F.coalesce(F.col("nd"), F.col("dist")),
            ).alias("dist"),
            (F.col("dist").isNull()).cast("long").alias("__new"),
        )

    def _none_new(frame: DataFrame) -> bool:
        # A checked round that reached no new node is the fixpoint: unit
        # edges give a node first reached in round k its exact dist k.
        return not (frame.agg(F.sum("__new")).first()[0] or 0)

    # CONVERGENCE-CHECK CADENCE (r16): every round still lazy-checkpoints
    # (the frame feeds TWO consumers next round -- relax and fold -- so
    # the persisted RDD dedups them), but the convergence agg runs only
    # every ``check_every``-th round (and on the last): one job then
    # materializes the whole pending chain -- each round's join/agg still
    # executes exactly once, persisted as it goes.  Exactness is
    # unaffected: min-relaxation rounds at the fixpoint are idempotent,
    # and the check breaks only when the CHECKED round added nothing,
    # which IS the fixpoint.  Worst case one extra no-op round of joins
    # runs inside the same job -- at bench scale the loop cost is job
    # scheduling, not joins (guide §1.2).
    try:
        with CheckpointChain("graph.bfs") as chain:
            start = chain.push(
                seeds.select(F.col(seed_col).alias("node"))
                .distinct()
                .withColumn("dist", F.lit(0).cast("long"))
            )
            final = fixpoint(
                chain, start, _relax, _none_new, max_depth,
                check_every=2, view=lambda f: f.drop("__new"),
            )
    finally:
        e.unpersist()
    return final.drop("__new")


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    avail: str = "avail",
    arr: str = "arr",
    seed_col: str = "node",
    seed_date_col: str = "d",
) -> DataFrame:
    """EARLIEST-ARRIVAL reachability over a temporal graph: an edge
    (src, dst, avail, arr) is traversable only if the walker reaches
    ``src`` no later than ``avail``, and then arrives at ``dst`` at
    ``arr`` -- the time-RESPECTING semantics static BFS gets wrong
    (a shipment that left before the contamination arrived cannot carry
    it).  Requires ``arr >= avail`` on every edge (arrival dates are
    then monotone along any walk, so min-relaxation converges and after
    k rounds every node whose optimal walk has <= k edges carries its
    exact earliest date -- the same bounded-k contract as
    ``bfs_distances``).

    Round = one join keyed on the cached edge src (+ the availability
    predicate) + one map-side-combinable min + full-join fold
    (checkpoint chain: ``loop.py``).  Output: ``(node, d)`` -- earliest
    arrival for every node reached within ``rounds`` hops.
    """
    e = edges.select(
        F.col(src).alias("e_src"),
        F.col(dst).alias("e_dst"),
        F.col(avail).alias("e_avail"),
        F.col(arr).alias("e_arr"),
    ).cache()

    def _relax(state: DataFrame) -> DataFrame:
        relaxed = (
            e.join(
                state,
                (F.col("e_src") == F.col("node"))
                & (F.col("e_avail") >= F.col("d")),
            )
            .groupBy(F.col("e_dst").alias("rnode"))
            .agg(F.min("e_arr").alias("nd"))
        )
        return state.join(relaxed, state["node"] == relaxed["rnode"], "full").select(
            F.coalesce(F.col("node"), F.col("rnode")).alias("node"),
            F.least(
                F.coalesce(F.col("d"), F.col("nd")),
                F.coalesce(F.col("nd"), F.col("d")),
            ).alias("d"),
        )

    def _materialize(frame: DataFrame) -> bool:
        frame.count()
        return False

    # All-lazy round chain (r16): this loop has NO convergence decision,
    # so its only check is on the last round -- ONE ``count()``
    # materializes the whole chain in a single job (rounds jobs -> 1; the
    # count cannot prune columns because the checkpoint pins the physical
    # RDD).  Each round still lazy-checkpoints: the state frame feeds two
    # consumers next round (relax + fold), and the persisted RDD dedups
    # them.
    try:
        with CheckpointChain("graph.temporal") as chain:
            start = chain.push(
                seeds.select(F.col(seed_col).alias("node"), F.col(seed_date_col).alias("d"))
                .groupBy("node")
                .agg(F.min("d").alias("d"))
            )
            final = fixpoint(chain, start, _relax, _materialize, rounds, check_every=rounds)
    finally:
        e.unpersist()
    return final


def shortest_paths_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths, bounded at ``rounds`` edges
    (distributed Bellman-Ford).  Output ``(node, dist)`` -- the exact
    min-cost distance from any seed over walks of <= ``rounds`` edges.

    Weights must be NON-NEGATIVE INTEGERS (cost cents, ms latencies,
    hop counts): integer min-plus relaxation is bit-identical on any
    engine/partitioning, so an unrolled-CTE oracle replays it exactly
    -- the weighted sibling of ``bfs_distances`` (unit weights) in the
    same bounded-k contract: after k rounds every node whose optimal
    walk has <= k edges carries its exact distance.

    Per round: ONE join keyed on the cached edge src + one map-side-
    combinable min + a full-join fold; frontier rows are (node, long)
    pairs (checkpoint chain: ``loop.py``).  Early exit when a round improves nothing:
    with non-negative weights, min-plus relaxation is monotone
    non-increasing, so an unchanged round IS the bounded fixpoint.
    """
    e = edges.select(
        F.col(src).alias("e_src"),
        F.col(dst).alias("e_dst"),
        F.col(weight).cast("long").alias("e_w"),
    ).cache()

    def _relax(dist: DataFrame) -> DataFrame:
        relaxed = (
            e.join(dist, F.col("e_src") == F.col("node"))
            .groupBy(F.col("e_dst").alias("rnode"))
            .agg(F.min(F.col("dist") + F.col("e_w")).alias("nd"))
        )
        return dist.join(relaxed, dist["node"] == relaxed["rnode"], "full").select(
            F.coalesce(F.col("node"), F.col("rnode")).alias("node"),
            F.least(
                F.coalesce(F.col("dist"), F.col("nd")),
                F.coalesce(F.col("nd"), F.col("dist")),
            ).alias("dist"),
            (
                F.col("dist").isNull()
                | (F.col("nd") < F.col("dist"))
            ).cast("long").alias("__chg"),
        )

    def _none_improved(frame: DataFrame) -> bool:
        return not (frame.agg(F.sum("__chg")).first()[0] or 0)

    # Same convergence-check cadence as ``bfs_distances`` (r16): lazy
    # checkpoint per round (the dist frame feeds relax + fold), one
    # materializing improvement-count job per ``check_every`` rounds.
    # Min-plus relaxation is idempotent at the fixpoint, so checking
    # only every other round breaks exactly when the checked round
    # improved nothing -- the same bounded answer.
    try:
        with CheckpointChain("graph.sssp") as chain:
            start = chain.push(
                seeds.select(F.col(seed_col).alias("node"))
                .distinct()
                .withColumn("dist", F.lit(0).cast("long"))
            )
            final = fixpoint(
                chain, start, _relax, _none_improved, rounds,
                check_every=2, view=lambda f: f.drop("__chg"),
            )
    finally:
        e.unpersist()
    return final.drop("__chg")


def _build_undirected_kcore(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both edge directions from one scan, distinct, cached."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
                    F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .distinct()
        .cache()
    )


def kcore_bounded(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    prebuilt_undirected: bool = False,
) -> DataFrame:
    """Bounded k-core decomposition: iteratively peel nodes of degree
    < ``k`` (degree counted only over edges whose BOTH endpoints are
    still alive) for up to ``rounds`` rounds -- the standard dense-
    subgraph extractor (fraud rings, co-purchase cores, hub detection).
    Same bounded-k contract as BFS/SSSP: if peeling reaches its
    fixpoint within the round budget (it converges in 2-3 rounds on
    real degree distributions; peeling is monotone so an unchanged
    round IS the fixpoint), the output is the EXACT k-core with each
    survivor's in-core degree; otherwise it is the round-``rounds``
    over-approximation.

    Early exit on node-count equality alone is sound BECAUSE peeling
    is monotone (the alive set only shrinks, so equal count == equal
    set).  Per round: two semi-joins against the cached undirected
    edge frame + one map-side-combinable count (checkpoint chain:
    ``loop.py``).

    ``prebuilt_undirected=True`` declares the input ALREADY holds both
    edge directions, distinct, as (src, dst) -- callers that computed
    degree statistics to pick ``k`` pass their frame back instead of
    paying the explode+distinct twice (r10 review finding).

    Output: ``(node, deg)`` for the surviving nodes."""
    if not isinstance(k, int) or k < 0:
        raise ValueError(f"kcore_bounded needs an integer k >= 0, got {k!r}")
    if prebuilt_undirected:
        und = edges.select(
            F.col(src).alias("s"), F.col(dst).alias("d")
        ).cache()
    else:
        und = _build_undirected_kcore(edges, src, dst)

    counts: list[int] = []

    def _peel(alive: DataFrame) -> DataFrame:
        return (
            und.join(alive.select(F.col("node").alias("s")), "s", "semi")
            .join(alive.select(F.col("node").alias("d")), "d", "semi")
            .groupBy(F.col("s").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .filter(F.col("deg") >= k)
        )

    def _unchanged(frame: DataFrame) -> bool:
        counts.append(frame.count())
        return len(counts) > 1 and counts[-1] == counts[-2]

    # Survivor-count cadence: every round lazy-checkpoints (the alive
    # set feeds BOTH semi-joins next round), the survivor count runs
    # every ``check_every``-th round and on the last, and the loop
    # breaks when two CHECKED rounds have equal counts -- peeling is
    # monotone (the alive set only shrinks), so equal counts k rounds
    # apart mean the set was constant throughout, i.e. the fixpoint.
    # Rounds past the fixpoint recompute the same surviving degrees
    # (idempotent), so the returned frame is unchanged.  check_every
    # stays 1 HERE (unlike bfs/sssp's 2): a kcore peel round is two
    # edge-frame semi-joins + a full degree aggregate, far more than
    # the count job a sparser cadence saves, and skipping a check
    # defers the early exit past the usual 2-3-round fixpoint by one
    # whole peel round (battery-measured +0.9s at sf0.1 with
    # check_every=2).  What r16 keeps from the bfs/sssp scheme is
    # dropping r15's eager initial checkpoint + exact baseline count
    # (the first check needs no baseline -- the break compares two
    # CHECKED rounds) (rounds=4 on a non-converging graph: 7 jobs ->
    # 5; converging at round 3: 7 -> 4).
    try:
        with CheckpointChain("graph.kcore") as chain:
            start = chain.push(und.select(F.col("s").alias("node")).distinct())
            final = fixpoint(
                chain, start, _peel, _unchanged, rounds,
                check_every=1, view=lambda f: f.select("node"),
            )
    finally:
        und.unpersist()
    return final if rounds >= 1 else final.withColumn("deg", F.lit(None).cast("long"))


def hits_fixedpoint(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs & authorities (Kleinberg) over a directed edge list --
    the two-sided companion to PageRank: authorities collect hub mass
    over in-edges, hubs collect authority mass over out-edges, each
    side renormalized per half-step.

    Exact cross-engine replay: scores live in BIGINT ``scale`` units;
    the usual L2 normalization (an irrational sqrt of a sum) is
    replaced by L-inf -- divide by the max, ``(s * scale) div max`` --
    which preserves the RANKING each half-step exactly and keeps every
    intermediate an integer the oracle can replay (headroom: max
    in-degree * scale^2 must stay < 2^63, i.e. degree < ~9e3 at the
    default scale; shrink ``scale`` for denser graphs).

    Edges are made distinct and persisted once; each half-step is one
    equi-join + map-side-combinable sum, and its max is a bounded 1-row
    collect (checkpoint chains: ``loop.py``, one per side).

    Returns ``(hubs, auths)`` as ``(node, score_fp)`` frames.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .persist()
    )
    # The initial hub table and each half-step's L-inf NORMALIZATION are
    # thin projections over a materialized checkpoint -- checkpointing
    # them too (the r13-r15 shape) paid a persist write per half-step
    # and two trailing count() jobs for zero recompute saved: each
    # normalized view is consumed once per reader directly off the
    # cached raw-sums RDD.  r16 keeps a checkpoint ONLY for the raw
    # per-half sums (whose max agg is the half-step's one job and whose
    # RDD the next half's join reads), halving checkpoint writes and
    # dropping the two final materialization jobs (8 -> 6 per
    # 3-iteration run).
    hubs = e.select(F.col("s").alias("node")).distinct().select(
        "node", F.lit(scale).cast("long").alias("r")
    )

    def _half(chain: CheckpointChain, frame: DataFrame, edge_key: str, out_key: str):
        raw = chain.push(
            e.join(frame.withColumnRenamed("node", edge_key), edge_key)
            .groupBy(F.col(out_key).alias("node"))
            .agg(F.sum("r").cast("long").alias("s"))
        )
        mx = raw.agg(F.max("s")).first()[0]
        chain.settle()
        if mx is None:
            raise ValueError("hits_fixedpoint: empty edge list")
        return raw.select(
            "node",
            F.expr(f"(s * {int(scale)}) div {int(mx)}").cast("long").alias("r"),
        )

    try:
        with CheckpointChain("graph.hits_hubs") as hub_chain, CheckpointChain(
            "graph.hits_auths"
        ) as auth_chain:
            for _ in range(iterations):
                auths = _half(auth_chain, hubs, "s", "d")
                hubs = _half(hub_chain, auths, "d", "s")
    finally:
        e.unpersist()
    return (
        hubs.select("node", F.col("r").alias("score_fp")),
        auths.select("node", F.col("r").alias("score_fp")),
    )
