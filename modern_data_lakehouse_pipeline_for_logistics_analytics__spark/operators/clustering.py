"""Distributed k-means (Lloyd's algorithm) in EXACT fixed-point
arithmetic -- the classic embedding-space clustering pass of a training
-data pipeline (IVF coarse quantizers, dataset cartography, per-cluster
sampling quotas all start from exactly this loop).

Why fixed-point: float Lloyd iterations can never hash-match across
engines (partition-order-dependent float sums move centroids by ulps,
which flips argmin assignments near Voronoi boundaries).  Quantizing
each component to ``floor(v * scale + 0.5)`` (int64) makes every
distance, every partial sum and every centroid update exact integer
arithmetic -- bit-identical on any engine / partitioning -- the same
trade as PageRank's SCALE, the HLL registers and ``gram_fixedpoint``
(`similarity.py`).

Scale shape (the 100 TB posture):

- ASSIGNMENT is pure map-side codegen: the k x d centroid table rides
  into the plan as a literal nested array (k*d ~ 512 ints, far below
  broadcast thresholds), so computing all k distances + argmin touches
  NO shuffle and no Python.
- The UPDATE shuffles only k*d partial-sum cells (map-side combine:
  ``groupBy(cluster, i).sum``) -- independent of row count, the
  'aggregate, never join' X^T X discipline.
- The per-iteration driver reduce is the k*d cell frame (~512 rows) --
  the same bounded-collect class as the two-phase window schemes'
  broadcast prefix maxima.  Nothing row-scale ever reaches the driver.
- Each iteration builds a FRESH plan over the one cached quantized
  frame + new literals, so there is no iterative lineage growth and no
  checkpoint discipline needed (contrast PageRank, whose per-round
  frame feeds the next round's plan).

Determinism contract (mirrored verbatim by the DuckDB oracle):

- init: the k rows with the smallest ids, cluster j = rank by id;
- assignment: argmin over exact integer squared distances, ties to the
  LOWEST cluster index;
- update: per-dimension ``sum div count`` (truncate-toward-zero integer
  div -- Spark ``div`` and DuckDB ``//`` agree, probed in r8);
- empty cluster: keeps its previous centroid (n_pts 0, inertia 0).

Reference parity note: the reference repo has no clustering operator;
this generalizes its analytics layer the same way the PageRank / PCA /
Gram family does (SURVEY.md section 2 'beyond-reference training-data
operators').
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Spark ``div`` / DuckDB
    ``//`` semantics).  Python's ``//`` FLOORS, which differs on
    negative numerators -- centroid sums of signed components hit this
    immediately."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def kmeans_lloyd_fixedpoint(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    dim: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """Run ``iterations`` exact Lloyd rounds; return the long-form final
    state: ``cluster, i, c_fp, n_pts, inertia_fp`` (k*d rows; ``c_fp``
    the post-update fixed-point centroid component, ``n_pts`` /
    ``inertia_fp`` from the final assignment, repeated across ``i``).

    Overflow: |v| < 1 fixtures give |vf| <= scale, per-pair products
    <= (2*scale)^2 and distances <= dim * (2*scale)^2 (2.6e8 at the
    defaults); inertia sums that over rows -- 2^63 holds ~3.5e10 rows
    per cluster at the defaults, and centroid sums are looser still.
    """
    if k < 1 or iterations < 1:
        raise ValueError("kmeans_lloyd_fixedpoint needs k >= 1, iterations >= 1")
    from .dedup import _cache_aged, _spread

    # Same ragged guard as gram_fixedpoint: a short / NULL-component
    # vector must fail loudly, not silently skew a centroid.
    vf = F.expr(
        f"case when size({vec_col}) = {dim} "
        f"and not exists({vec_col}, x -> x is null) "
        f"then transform({vec_col}, x -> "
        f"cast(floor(cast(x as double) * {scale} + 0.5d) as bigint)) "
        f"else raise_error(concat('kmeans_lloyd_fixedpoint: ', "
        f"case when {vec_col} is null then '{vec_col} is NULL' "
        f"when size({vec_col}) = {dim} "
        f"then '{vec_col} contains NULL component (size {dim})' "
        f"else concat('ragged {vec_col} (expected size {dim}, got size ', "
        f"cast(size({vec_col}) as string), ')') end)) end"
    )
    base = _spread(df.select(F.col(id_col).alias("__id"), F.col(vec_col)))
    base = _cache_aged(
        "kmeans_vf", base.select("__id", vf.alias("__vf"))
    )

    # Deterministic init: the k smallest ids, cluster = rank by id.
    # Bounded collect: k rows x d ints.
    seed_rows = base.orderBy("__id").limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(
            f"kmeans_lloyd_fixedpoint: k={k} exceeds the {len(seed_rows)} input rows"
        )
    cents: list[list[int]] = [list(r["__vf"]) for r in seed_rows]

    def assign(cents: list[list[int]]) -> DataFrame:
        lit = "array(" + ", ".join(
            "array(" + ", ".join(str(v) + "L" for v in c) + ")" for c in cents
        ) + ")"
        dists = (
            f"transform({lit}, c -> aggregate(zip_with(__vf, c, "
            f"(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x))"
        )
        return base.withColumn("__d", F.expr(dists)).select(
            "__id",
            "__vf",
            F.expr("cast(array_position(__d, array_min(__d)) - 1 as bigint)").alias(
                "cluster"
            ),
            F.expr("array_min(__d)").alias("__dist"),
        )

    assigned = None
    for _ in range(iterations):
        assigned = assign(cents)
        sums = (
            assigned.select("cluster", F.posexplode("__vf").alias("i", "x"))
            .groupBy("cluster", "i")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cluster keeps previous
        for r in sums:
            new_cents[r["cluster"]][r["i"]] = _tdiv(int(r["s"]), int(r["n"]))
        cents = new_cents

    spark = df.sparkSession
    stats = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_pts"), F.sum("__dist").alias("inertia_fp")
    )
    cent_rows = [
        (int(j), int(i), int(cents[j][i])) for j in range(k) for i in range(dim)
    ]
    cent_df = spark.createDataFrame(cent_rows, "cluster long, i long, c_fp long")
    return (
        cent_df.join(F.broadcast(stats), "cluster", "left")
        .select(
            "cluster",
            "i",
            "c_fp",
            F.coalesce(F.col("n_pts"), F.lit(0)).cast("long").alias("n_pts"),
            F.coalesce(F.col("inertia_fp"), F.lit(0)).cast("long").alias("inertia_fp"),
        )
    )


def _kcenter_base(
    df: DataFrame, id_col: str, vec_col: str, dim: int, scale: int, fname: str
):
    """Shared k-center setup: validated fixed-point vector frame
    (cached, spread to full parallelism) plus the seed row (lowest id).
    One definition of the quantization/validation expression keeps the
    sequential and batched selectors bit-identical -- they are verified
    against the SAME unrolled oracle, so any drift between two copies
    would surface only as a driver hash mismatch."""
    from .dedup import _cache_aged, _spread

    vf = F.expr(
        f"case when size({vec_col}) = {dim} "
        f"and not exists({vec_col}, x -> x is null) "
        f"then transform({vec_col}, x -> "
        f"cast(floor(cast(x as double) * {scale} + 0.5d) as bigint)) "
        f"else raise_error(concat('{fname}: ', "
        f"case when {vec_col} is null then '{vec_col} is NULL' "
        f"when size({vec_col}) = {dim} "
        f"then '{vec_col} contains NULL component (size {dim})' "
        f"else concat('ragged {vec_col} (expected size {dim}, got size ', "
        f"cast(size({vec_col}) as string), ')') end)) end"
    )
    base = _spread(df.select(F.col(id_col).alias("__id"), F.col(vec_col)))
    base = _cache_aged("kcenter_vf", base.select("__id", vf.alias("__vf")))
    first = base.orderBy("__id").limit(1).collect()
    if not first:
        raise ValueError(f"{fname}: empty input")
    return base, first[0]


def _kcenter_dist_expr(vec: list[int]) -> F.Column:
    """Exact BIGINT squared-L2 of ``__vf`` to a driver-side center."""
    lit = "array(" + ", ".join(str(v) + "L" for v in vec) + ")"
    return F.expr(
        f"aggregate(zip_with(__vf, {lit}, (a, b) -> (a - b) * (a - b)), "
        f"0L, (acc, x) -> acc + x)"
    )


def kcenter_greedy_fixedpoint(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 6,
    dim: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """Gonzalez greedy k-center selection in exact fixed-point integers:
    start from the smallest id, then ``k - 1`` times pick the point
    FARTHEST from its nearest already-selected center (squared-L2 over
    the fixed-point components; ties -> lowest id).  THE diverse-subset
    / coreset primitive of training-data selection -- the selected
    points 2-approximate the optimal k-center cover, and the radius
    sequence is the coverage-vs-budget curve a data-selection pipeline
    reads.

    Distributed shape, per round: the new center is inlined as a
    LITERAL array (same discipline as the k-means assignment -- pure
    codegen, no join), the running min-distance frame updates map-side
    and ``localCheckpoint``s, and the argmax comes back as ONE driver
    row via TakeOrdered.  Cost per round is one narrow scan of the
    (id, mindist) frame -- row-count-linear, shuffle-free except the
    top-1 reduce.

    Driver-latency scale note (r10 verdict item 6): the loop performs
    ``k - 1`` SEQUENTIAL one-row collects, so on a real cluster the
    per-iteration job launch latency (~100ms+) dominates once k reaches
    the hundreds even though each job is cheap.  For large k use
    :func:`kcenter_batched_fixedpoint`, which certifies several centers
    per distributed pass and provably selects the IDENTICAL sequence.

    Output: ``rank, vec_id, radius_fp`` -- the selection order and the
    point's min-distance-to-selected at selection time (radius_fp of
    rank 1 is 0 by convention: it seeds the cover).  Selection STOPS
    EARLY when the farthest point is at distance 0 -- every point is
    already exactly covered, and continuing would re-select covered
    points as spurious duplicate representatives (r10 review finding);
    the output then has fewer than ``k`` rows.  (The registered query's
    corpus has > k distinct vectors, so its unrolled oracle never hits
    this branch.)"""
    if k < 1:
        raise ValueError("kcenter_greedy_fixedpoint needs k >= 1")
    base, first = _kcenter_base(
        df, id_col, vec_col, dim, scale, "kcenter_greedy_fixedpoint"
    )
    from .loop import CheckpointChain

    selected = [(1, first["__id"], 0)]
    center_vec = list(first["__vf"])
    dist_to = _kcenter_dist_expr

    # Each round's farthest-point collect is its only job and
    # materializes the round's lazily checkpointed frame (checkpoint
    # chain: ``loop.py``; the selection lives on the driver, so nothing
    # stays pinned).
    with CheckpointChain() as chain:
        md = chain.push(base.select("__id", "__vf", dist_to(center_vec).alias("__md")))
        for rank in range(2, k + 1):
            row = md.orderBy(F.desc("__md"), F.asc("__id")).limit(1).collect()[0]
            chain.settle()
            if int(row["__md"]) == 0:
                break  # cover is exact; more centers would duplicate points
            selected.append((rank, row["__id"], int(row["__md"])))
            if rank < k:
                md = chain.push(
                    md.select(
                        "__id",
                        "__vf",
                        F.least(F.col("__md"), dist_to(list(row["__vf"]))).alias("__md"),
                    )
                )
    spark = df.sparkSession
    return spark.createDataFrame(
        selected, "rank long, vec_id long, radius_fp long"
    )


def kcenter_batched_fixedpoint(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 6,
    dim: int = 64,
    scale: int = 1000,
    batch: int = 4,
) -> DataFrame:
    """Gonzalez k-center with CERTIFIED batch selection: identical output
    to :func:`kcenter_greedy_fixedpoint` for every ``batch >= 1``, with
    ~k/batch distributed passes instead of k (the driver-latency fix for
    large k flagged by the r10 verdict).

    Per pass, ONE TakeOrdered collects the top ``batch + 1`` points by
    current min-distance-to-selected (desc, id asc).  The driver then
    accepts centers sequentially from that candidate list, maintaining
    each candidate's TRUE current min-distance exactly: distances to
    centers accepted *within this pass* are computed driver-side from
    the collected fixed-point vectors (<= batch+1 vectors of ``dim``
    ints -- trivially bounded), and distances to all earlier centers are
    already folded into the collected ``__md``.  A candidate is only
    accepted while its updated distance STRICTLY exceeds the
    (batch+1)-th collected ``__md`` -- an upper bound on the updated
    distance of every point outside the batch (updates only ever shrink
    distances), so the accepted point is certifiably the exact argmax
    sequential Gonzalez would pick, including the lowest-id tie-break
    (ties with the bound cannot be certified against an unseen outside
    point and end the pass instead).  The first candidate of a pass
    needs no certificate: TakeOrdered already yields the global argmax
    of the unmodified distances, so every pass accepts >= 1 center and
    the loop terminates.  After the pass, all accepted centers fold
    into the distributed min-distance frame in ONE map-side pass + one
    ``localCheckpoint`` (vs one per center in the sequential loop).
    """
    if k < 1:
        raise ValueError("kcenter_batched_fixedpoint needs k >= 1")
    if batch < 1:
        raise ValueError("kcenter_batched_fixedpoint needs batch >= 1")
    base, first = _kcenter_base(
        df, id_col, vec_col, dim, scale, "kcenter_batched_fixedpoint"
    )
    from .loop import CheckpointChain

    selected = [(1, first["__id"], 0)]
    dist_term = _kcenter_dist_expr

    def d2(a: list[int], b: list[int]) -> int:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    # The per-batch candidate collect materializes md (checkpoint chain:
    # ``loop.py``; nothing stays pinned).
    with CheckpointChain() as chain:
        md = chain.push(
            base.select("__id", "__vf", dist_term(list(first["__vf"])).alias("__md"))
        )
        exhausted = False
        while len(selected) < k and not exhausted:
            want = k - len(selected)
            t = min(batch, want)
            cand = (
                md.orderBy(F.desc("__md"), F.asc("__id")).limit(t + 1).collect()
            )
            chain.settle()
            if not cand:
                break
            # bound on every outside point's (only-shrinking) updated distance
            bound = int(cand[t]["__md"]) if len(cand) > t else -1
            cur = [
                {"id": r["__id"], "vf": list(r["__vf"]), "md": int(r["__md"])}
                for r in cand[:t]
            ]
            accepted_vecs: list[list[int]] = []
            for step in range(t):
                if accepted_vecs:
                    # fold ONLY the center accepted on the previous step into
                    # the remaining candidates' true min-distances
                    for c in cur:
                        c["md"] = min(c["md"], d2(c["vf"], accepted_vecs[-1]))
                best = max(cur, key=lambda c: (c["md"], -c["id"]))
                if step > 0 and best["md"] <= bound:
                    break  # an unseen outside point could beat (or tie) this
                if best["md"] == 0:
                    exhausted = True  # cover exact -- stop the whole selection
                    break
                selected.append((len(selected) + 1, best["id"], best["md"]))
                accepted_vecs.append(best["vf"])
                cur = [c for c in cur if c["id"] != best["id"]]
                if not cur:
                    break
            if accepted_vecs and len(selected) < k and not exhausted:
                md = chain.push(
                    md.select(
                        "__id",
                        "__vf",
                        F.least(
                            F.col("__md"), *[dist_term(v) for v in accepted_vecs]
                        ).alias("__md"),
                    )
                )
    spark = df.sparkSession
    return spark.createDataFrame(
        selected, "rank long, vec_id long, radius_fp long"
    )
