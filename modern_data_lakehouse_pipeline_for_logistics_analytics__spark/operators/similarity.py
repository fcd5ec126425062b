"""Similarity search over embedding columns (north-star extension).

Brute-force cosine as the correctness baseline; random-hyperplane LSH
bucketing as the scale path.  All vector math is JVM-side (zip_with /
aggregate in float64) -- Python never touches the hot loop.

Scale notes: brute-force is O(n_queries x corpus) -- fine when the query
set broadcasts (it is broadcast here) and the corpus streams.  The LSH
variant hashes the corpus once (one narrow pass), then only joins within
buckets.  An IVF layout (k-means coarse quantizer) would replace the random
planes with learned centroids; the bucketing/plumbing is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: F.Column, b: F.Column) -> F.Column:
    """Float64 dot product of two array columns (JVM fold, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: F.Column, b: F.Column, decimals: int = 6) -> F.Column:
    """Rounded cosine similarity (6dp absorbs fold-order ulps so results
    hash identically across engines)."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), decimals)


def cosine_pairs_above(
    df: DataFrame, id_col: str, vec_col: str, threshold: float, n_blocks: int | None = None
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup detection) --
    EXACT, fully distributed, nothing ever materializes on the driver.

    Block-pair decomposition: each vector lands in one of ``n_blocks``
    hash blocks, every row is replicated to each of the B unordered block
    pairs it participates in, and one ``applyInPandas`` task per block
    pair computes its (n/B x n/B) similarity tile with a single float64
    GEMM.  Every unordered vector pair lives in exactly ONE block pair, so
    the union of tiles is the exact all-pairs answer -- same math as a
    driver-broadcast GEMM (which caps at driver memory; r1's version
    collect()ed the corpus) but with shuffle volume B x n rows and tile
    memory (n/B)^2, both tunable.

    At 100 TB the all-pairs product itself is the bottleneck, not this
    layout: precede with ``hyperplane_buckets`` LSH to prune block pairs
    and keep this exact kernel as the within-bucket verify.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    B = n_blocks or spark.sparkContext.defaultParallelism
    src = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"),
    )
    # Replicate each row to every unordered block pair containing its
    # block: (min(blk,j), max(blk,j)) for j in 0..B-1.  Distinct pairs by
    # construction, so no output dedup is needed.
    pair_structs = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("pa"),
                F.greatest(F.col("blk"), F.lit(j)).alias("pb"),
            )
            for j in range(B)
        ]
    )
    exploded = src.withColumn("p", F.explode(pair_structs)).select(
        F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"), "id", "v", "blk"
    )

    def tile_sims(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        pa, pb = int(pdf["pa"].iloc[0]), int(pdf["pb"].iloc[0])
        if pa == pb:
            sims = np.round((mat @ mat.T) / (norms[:, None] * norms[None, :]), 6)
            ai, bi = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
            return pd.DataFrame(
                {"id_a": ids[ai], "id_b": ids[bi], "cos_sim": sims[ai, bi]}
            )
        left = pdf["blk"].to_numpy() == pa
        la, lb = ids[left], ids[~left]
        ma, mb = mat[left], mat[~left]
        na, nb = norms[left], norms[~left]
        if not len(la) or not len(lb):
            return pd.DataFrame(
                {
                    "id_a": np.array([], dtype=np.int64),
                    "id_b": np.array([], dtype=np.int64),
                    "cos_sim": np.array([], dtype=np.float64),
                }
            )
        sims = np.round((ma @ mb.T) / (na[:, None] * nb[None, :]), 6)
        ai, bi = np.nonzero(sims >= threshold)
        id_a = np.minimum(la[ai], lb[bi])
        id_b = np.maximum(la[ai], lb[bi])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos_sim": sims[ai, bi]})

    return exploded.groupBy("pa", "pb").applyInPandas(
        tile_sims, schema="id_a long, id_b long, cos_sim double"
    )


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Brute-force top-k neighbors for each query vector.

    ``queries`` (small) is broadcast; the corpus is scanned once, no
    shuffle until the per-query top-k window (keyed by query id).
    Deterministic: ranked on rounded cosine with id tie-break.
    Output: ``query_id, neighbor_id, cos_sim, rank``.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def _plane_matrix(n_planes: int, dim: int):
    """Deterministic pseudo-random hyperplanes: components from
    sha256(plane, i) mapped to [-0.5, 0.5).  No RNG state, identical on
    every run/executor."""
    import hashlib

    import numpy as np

    out = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for i in range(dim):
            h = hashlib.sha256(f"plane:{p}:{i}".encode()).digest()
            out[p, i] = int.from_bytes(h[:8], "big") / 2**64 - 0.5
    return out


def hyperplane_buckets(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int = 16, dim: int = 64
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit pattern of dot products
    with ``n_planes`` deterministic pseudo-random planes.

    Sign bits come from one numpy matmul per Arrow batch (mapInPandas):
    an expression-tree version evaluating n_planes x dim hash/multiply
    expressions per row measured ~20x slower.  Output: ``id, bucket``.
    """
    import numpy as np
    import pandas as pd

    planes = df.sparkSession.sparkContext.broadcast(_plane_matrix(n_planes, dim))
    weights = np.array([1 << p for p in range(n_planes)], dtype=np.int64)
    b_weights = df.sparkSession.sparkContext.broadcast(weights)

    def bucketize(batches):
        P, W = planes.value, b_weights.value
        for pdf in batches:
            v = np.array(list(pdf["v"]), dtype=np.float64)
            bits = (v @ P.T) >= 0
            yield pd.DataFrame({"id": pdf["id"], "bucket": bits @ W})

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return src.mapInPandas(bucketize, schema="id long, bucket long")


def banded_hyperplane_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_bands: int = 12,
    planes_per_band: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Multi-band hyperplane LSH: ``n_bands`` independent sign-bit
    signatures of ``planes_per_band`` planes each.  A pair colliding in
    ANY band becomes a candidate, so per-pair miss probability is
    ``(1 - p^b)^r`` (p = 1 - angle/pi) -- tune r up for recall, b up for
    precision.  One narrow mapInPandas pass; output ``id, band, bucket``.
    """
    import numpy as np
    import pandas as pd

    total = n_bands * planes_per_band
    planes = df.sparkSession.sparkContext.broadcast(_plane_matrix(total, dim))
    weights = np.array([1 << p for p in range(planes_per_band)], dtype=np.int64)

    def bucketize(batches):
        P = planes.value
        for pdf in batches:
            v = np.array(list(pdf["v"]), dtype=np.float64)
            bits = (v @ P.T) >= 0  # (n, total)
            ids, bands, buckets = [], [], []
            for b in range(n_bands):
                chunk = bits[:, b * planes_per_band : (b + 1) * planes_per_band]
                ids.extend(pdf["id"])
                bands.extend([b] * len(pdf))
                buckets.extend(chunk @ weights)
            yield pd.DataFrame({"id": ids, "band": bands, "bucket": buckets})

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return src.mapInPandas(bucketize, schema="id long, band int, bucket long")


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_bands: int = 12,
    planes_per_band: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs, LSH-banded: the 100 TB path.

    Candidates come from band-bucket collisions (cost ~ sum bucket^2 per
    band, never corpus^2); the exact float64 cosine then verifies ONLY
    candidate pairs.  Recall < 1 by construction -- measured against the
    exact ``cosine_pairs_above`` in tests/test_northstar.py; raise
    ``n_bands`` to push the miss probability down geometrically.
    Output: ``id_a, id_b, cos_sim`` (same schema as the exact operator).
    """
    import numpy as np
    import pandas as pd

    from .dedup import _cache_aged

    # Both sides of the bucket self-join read the banded rows; uncached,
    # the hyperplane-projection mapInPandas pass executed once per side
    # (r15; the text-MinHash twin already caches its banded frame).
    banded = _cache_aged(
        "hyperplane_banded",
        banded_hyperplane_buckets(df, id_col, vec_col, n_bands, planes_per_band, dim),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_cosine_pairs(df, cands, id_col, vec_col, threshold)


def _verify_cosine_pairs(
    df: DataFrame, cands: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Exact-cosine verify of candidate pairs: join vectors back, then a
    numpy row-wise dot per Arrow batch.  The interpreted zip_with/
    aggregate expression measured ~3x slower over the ~1M-candidate join
    at sf0.1 -- HOF lambdas don't codegen.  np.round(float64, 6) is the
    same 6dp formulation the SQL oracles use, so results hash-match."""
    import numpy as np
    import pandas as pd

    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    joined = cands.join(va, "id_a").join(vb, "id_b")

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(list(pdf["va"]), dtype=np.float64)
            B = np.array(list(pdf["vb"]), dtype=np.float64)
            sims = np.round(
                (A * B).sum(axis=1)
                / (np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))),
                6,
            )
            m = sims >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[m],
                    "id_b": pdf["id_b"].to_numpy()[m],
                    "cos_sim": sims[m],
                }
            )

    return joined.mapInPandas(verify, schema="id_a long, id_b long, cos_sim double")


def portable_planes(n_planes: int = 48, dim: int = 64, scale: int = 1000) -> list[list[int]]:
    """Deterministic INTEGER hyperplane coefficients in [-scale, scale],
    derived from sha256 -- single source for the Spark operator and the
    SQL-oracle builder (``plans/similarity.py``).  Integer coefficients
    (not floats) are the point: the sign of an integer dot product over
    integer-quantized vectors is bit-identical in any engine, so the LSH
    bucket assignment -- normally the unverifiable part of the pipeline --
    becomes exactly replayable in SQL."""
    import hashlib

    return [
        [
            int.from_bytes(hashlib.sha256(f"plane:{p}:{i}".encode()).digest()[:8], "big")
            % (2 * scale + 1)
            - scale
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_portable_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    n_planes: int = 48,
    bands: int = 12,
    dim: int = 64,
) -> DataFrame:
    """``lsh_neardup_pairs`` with engine-deterministic banding: embeddings
    are quantized to integers (``floor(float64(v) * 1e6)`` -- exact IEEE
    double ops, identical everywhere), each plane's dot product is pure
    64-bit-integer arithmetic (|q| <= ~2^21, |c| <= 1000, 64 dims ->
    < 2^38, no overflow), the sign bits assemble a ``n_planes``-bit
    signature, and ``bands`` chunks band it for the bucket self-join.
    Exact float64 cosine (6dp rounding, the proven cross-engine
    formulation) verifies candidates only.  Same scale posture as the
    float-plane variant (cost ~ sum bucket^2); what changes is that a SQL
    engine can replay bucket assignment bit-for-bit, so the driver
    hash-verifies the whole pipeline instead of recording a rows-only row.

    The signature stage is ONE narrow mapInPandas pass with an int64
    numpy matmul -- numpy int64 ops have exactly BIGINT semantics, so
    portability is untouched.  (A first cut posexploded to corpus x dim
    rows and broadcast-joined the plane table: corpus x dim x n_planes
    post-join rows through two shuffled aggregations measured ~10x
    slower at sf0.1 than this kernel, and the r5 verdict's rule applies
    -- the banding math is per-row and vectorizable, so it belongs in an
    Arrow batch, not in a shuffle.)"""
    from .dedup import _cache_aged

    # Cached for the same reason as the float-plane variant: the bucket
    # self-join reads the banded rows twice (r15).
    bnd = _cache_aged(
        "hyperplane_banded_portable",
        _portable_band_rows(df, id_col, vec_col, n_planes, bands, dim),
    )
    a, b = bnd.alias("a"), bnd.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    return _verify_cosine_pairs(df, cands, id_col, vec_col, threshold)


def _portable_band_rows(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int, bands: int, dim: int
) -> DataFrame:
    """(vec_id, band_no, val) banded portable signatures -- the shared
    front half of ``hyperplane_portable_pairs`` and
    ``lsh_portable_topk``: one narrow mapInPandas int64-matmul pass
    (exact BIGINT semantics -> SQL-replicable), then chunk banding."""
    import numpy as np
    import pandas as pd

    if n_planes % bands:
        raise ValueError(
            f"n_planes ({n_planes}) must divide evenly into bands ({bands}): "
            "an inexact split silently drops trailing sign bits AND desyncs "
            "this operator from its generated SQL oracle"
        )

    spark = df.sparkSession
    C = np.array(portable_planes(n_planes, dim), dtype=np.int64)
    W = np.array([1 << p for p in range(n_planes)], dtype=np.int64)
    bc = spark.sparkContext.broadcast((C, W))

    def signatures(batches):
        C_, W_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(list(pdf["v"]), dtype=np.float64)
            q = np.floor(v * 1_000_000.0).astype(np.int64)
            bits = (q @ C_.T) >= 0  # int64 matmul: exact BIGINT semantics
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "sig": (bits * W_).sum(axis=1)}
            )

    src = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    sig = src.mapInPandas(signatures, schema="vec_id long, sig long")
    rpb = n_planes // bands
    band_exprs = ", ".join(
        f"{j}, shiftright(sig, {j * rpb}) % {1 << rpb}" for j in range(bands)
    )
    return sig.selectExpr("vec_id", f"stack({bands}, {band_exprs}) AS (band_no, val)")


def lsh_portable_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 48,
    bands: int = 12,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k over portable LSH buckets: a query's candidates are the
    corpus vectors sharing ANY band bucket with it -- engine-deterministic
    (integer signatures), so a SQL engine reproduces the exact candidate
    set and the driver hash-verifies the ANN path end-to-end (the
    float-plane ``lsh_topk`` is rows-only).  Candidates score with the
    6dp float64 cosine and rank with an id tie-break; recall vs brute
    force is bounded by bucket recall, measured in tests.  Output:
    ``query_id, neighbor_id, cos_sim, rank`` (rank <= k)."""
    from pyspark.sql import Window

    corpus_bnd = _portable_band_rows(df, id_col, vec_col, n_planes, bands, dim)
    query_bnd = _portable_band_rows(queries, id_col, vec_col, n_planes, bands, dim)
    cands = (
        query_bnd.alias("q")
        .join(
            corpus_bnd.alias("c"),
            (F.col("q.band_no") == F.col("c.band_no"))
            & (F.col("q.val") == F.col("c.val"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"), F.col("c.vec_id").alias("neighbor_id")
        )
        .distinct()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN: k-means coarse quantizer over the corpus; each query
    probes its ``nprobe`` nearest centroids and runs exact cosine only
    within those inverted lists.

    Expected work per query ~ corpus * nprobe / n_clusters.  The quantizer
    fit is one Spark ML KMeans job (seeded -- deterministic); at 100 TB
    fit on a sample, assign everywhere.  Recall degrades only when a true
    neighbor lives in an unprobed cluster -- raise nprobe to trade compute
    for recall (nprobe == n_clusters is exact brute force).
    Output: ``query_id, neighbor_id, cos_sim, rank``.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        array_to_vector(F.col(vec_col)).alias("fv"),
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="fv", predictionCol="cluster").fit(
        corpus
    )
    assigned = model.transform(corpus).select("neighbor_id", "cv", "cluster")

    # Probe list per query: distance to every centroid (tiny broadcast
    # table), keep nprobe nearest.
    spark = df.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["cluster", "centroid"],
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("centroid"), lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .withColumn(
            "pr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cluster"))
            ),
        )
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qv", "cluster")
    )

    scored = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


#: Knuth multiplicative hash constant -- deterministic pseudo-random
#: order both engines reproduce with exact BIGINT arithmetic.
_KNUTH = 2654435761


def knuth_hash(id_col: F.Column) -> F.Column:
    """((id mod 2^31) * KNUTH) mod 2^31 -- the inner mod keeps the
    product under 2^62 so snowflake-scale ids (>= 2^31) neither overflow
    under ANSI mode nor wrap differently between engines (DuckDB raises
    on BIGINT overflow where non-ANSI Spark wraps).  SQL twin:
    ``((id % 2147483648) * 2654435761) % 2147483648``."""
    return (
        (id_col.cast("long") % F.lit(2**31)) * F.lit(_KNUTH)
    ) % F.lit(2**31)


def _quantized(df: DataFrame, id_col: str, vec_col: str, scale: int) -> DataFrame:
    """(id, qv) with qv = floor(v * scale) per element as array<long> --
    the exact-integer vector form shared by every portable operator."""
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col), lambda x: F.floor(x.cast("double") * scale).cast("long")
        ).alias("qv"),
    )


def _int_d2(a: F.Column, b: F.Column) -> F.Column:
    """Exact BIGINT squared-L2 distance of two array<long> columns (JVM
    fold; |qv| <= 1e6 and dim 64 bound the sum by ~2.6e14 -- no overflow)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ivf_portable_scored_candidates(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    max_nprobe: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """The candidate-generation + exact-scoring core of
    ``ivf_portable_topk``, with each candidate tagged by the PROBE RANK
    of the cluster it came through (1 = the query's nearest centroid).

    Factored out (r15) so the nprobe TUNING TABLE
    (``ann_ivf_nprobe_sweep``) can score candidates ONCE at
    ``max_nprobe`` and fan recall across every smaller nprobe by
    filtering on ``probe_rank`` -- the same verify-once/fan-out shape
    as ``dedup_threshold_sweep``.  Output: ``query_id, neighbor_id,
    probe_rank, cos_sim`` (exact 6dp float64 cosine).
    """
    qc = _quantized(df, id_col, vec_col, scale)
    # Deterministic pseudo-random sample of n_clusters corpus vectors;
    # the source id doubles as the cluster label.
    cents = (
        qc.select(
            F.col("id").alias("cluster"), F.col("qv").alias("cent_qv"),
            knuth_hash(F.col("id")).alias("h"),
        )
        .orderBy("h", "cluster")
        .limit(n_clusters)
        .drop("h")
    )
    assigned = (
        qc.crossJoin(F.broadcast(cents))
        .withColumn("d2", _int_d2(F.col("qv"), F.col("cent_qv")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cluster"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("id").alias("neighbor_id"), "cluster")
    )
    probes = (
        _quantized(queries, id_col, vec_col, scale)
        .crossJoin(F.broadcast(cents))
        .withColumn("d2", _int_d2(F.col("qv"), F.col("cent_qv")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cluster"))
            ),
        )
        .filter(F.col("rn") <= max_nprobe)
        .select(F.col("id").alias("query_id"), F.col("rn").alias("probe_rank"), "cluster")
    )
    # Assignment is unique per corpus vector and probe clusters are
    # distinct per query, so candidate pairs need no dedup.
    cands = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "probe_rank")
    )
    qv_ = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv_f"))
    cv_ = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv_f"))
    return (
        cands.join(F.broadcast(qv_), "query_id")
        .join(cv_, "neighbor_id")
        .withColumn("cos_sim", cosine(F.col("qv_f"), F.col("cv_f")))
        .select("query_id", "neighbor_id", "probe_rank", "cos_sim")
    )


def ivf_portable_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF ANN with an ENGINE-DETERMINISTIC coarse quantizer: centroids
    are a Knuth-hash pseudo-random corpus sample (no Lloyd iterations --
    the k-means fit of ``ivf_topk`` is float/engine-specific, so its
    buckets can never hash-match another engine), vectors quantize to
    integers, and both cluster assignment (argmin exact BIGINT squared-L2,
    centroid-id tie-break) and query probing (nprobe nearest centroids by
    the same metric) are arithmetic a SQL engine replays bit-for-bit.
    Exact 6dp float64 cosine scores the probed candidates
    (``ivf_portable_scored_candidates``; the unused probe_rank column
    prunes out of this plan); rank with an id tie-break.

    Same inverted-list scale shape as ``ivf_topk`` -- per-query work ~
    corpus * nprobe / n_clusters, centroid table broadcast -- traded
    against a weaker (unlearned) quantizer.  Output:
    ``query_id, neighbor_id, cos_sim, rank`` (rank <= k).
    """
    scored = ivf_portable_scored_candidates(
        df, queries, id_col, vec_col, n_clusters, nprobe, scale
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k restricted to same-bucket candidates (recall < 1 by
    construction; the scale path when brute force is too wide)."""
    cb = hyperplane_buckets(df, id_col, vec_col, n_planes, dim)
    qb = hyperplane_buckets(queries, id_col, vec_col, n_planes, dim)
    c = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")).join(
        cb.withColumnRenamed("id", "neighbor_id"), "neighbor_id"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")).join(
        qb.withColumnRenamed("id", "query_id"), "query_id"
    )
    scored = (
        c.join(F.broadcast(q), (F.col("query_id") != F.col("neighbor_id"))
               & (c["bucket"] == q["bucket"]))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def gram_fixedpoint(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Fixed-point Gram matrix of an embedding column: for every
    dimension pair (i <= j), ``gram_fp = Σ_rows vf[i] * vf[j]`` where
    ``vf = floor(v * scale + 0.5)`` per component -- the one-pass
    X^T X building block of PCA / whitening / covariance over a
    distributed embedding table.

    Why fixed-point: a float Σ over rows is partition-order-dependent
    (never hash-matches across engines or even runs); quantizing each
    component to an int64 makes every product and the whole sum exact
    integer arithmetic -- bit-identical anywhere -- while the relative
    quantization error is ~1e-6 per component (same trade as PageRank's
    SCALE and the HLL registers).

    Shape: ONE narrow projection expands each row to its d(d+1)/2
    upper-triangle cells via nested array ``transform`` (codegen, no
    Python, no self-join, no shuffle before the aggregate), then one
    map-side-combinable sum groups 2080 cells for d=64.  The shuffle
    carries partial sums per (i, j) -- d^2-bounded, independent of row
    count: the 100 TB posture is 'aggregate, never join' for X^T X.

    Overflow: |v| < 1 fixtures give |vf| <= scale, so each product is
    <= scale^2 = 1e12 and 2^63 holds ~9.2e6 TB-scale rows per cell at
    this scale; drop ``scale`` a digit per 100x rows beyond that.
    Output: ``i, j, gram_fp`` (0-based dims, i <= j).
    """
    from .dedup import _spread

    # ``dim``: pass the known vector width (the plan layer does); the
    # probe fallback costs a driver job and raises cleanly on an empty
    # table / NULL first vector instead of TypeError-ing (r8 review).
    if dim is None:
        head = df.select(vec_col).first()
        if head is None or head[0] is None:
            raise ValueError(
                f"gram_fixedpoint: cannot infer dim from an empty table or "
                f"NULL leading {vec_col!r}; pass dim= explicitly"
            )
        dim = len(head[0])
    d = dim
    # A small-SF embedding table often arrives as ONE parquet file; the
    # d^2/2-cell expansion would then run in one task.  _spread widens
    # narrow scans only -- a 100 TB table with thousands of files passes
    # through untouched.
    df = _spread(df.select(vec_col))
    # Ragged guard: a vector shorter than dim (or with NULL components)
    # would make __vf[i] NULL and F.sum would SKIP the null products,
    # silently biasing X^T X cells (r8 advice finding).  Validate inside
    # the same projection -- raise_error in the CASE else-branch costs
    # nothing on the happy path and fails the job loudly on the first
    # bad row, with no extra pass over the data.
    vf = F.expr(
        f"case when size({vec_col}) = {dim} "
        f"and not exists({vec_col}, x -> x is null) "
        f"then transform({vec_col}, x -> "
        f"cast(floor(cast(x as double) * {scale} + 0.5d) as bigint)) "
        f"else raise_error(concat('gram_fixedpoint: ', "
        f"case when {vec_col} is null then '{vec_col} is NULL' "
        f"when size({vec_col}) = {dim} "
        f"then '{vec_col} contains NULL component (size {dim})' "
        f"else concat('ragged {vec_col} (expected size {dim}, got size ', "
        f"cast(size({vec_col}) as string), ')') end)) end"
    )
    cells = F.expr(
        f"""flatten(transform(sequence(0, {d - 1}), i ->
              transform(sequence(i, {d - 1}), j ->
                struct(i AS i, j AS j, __vf[i] * __vf[j] AS p))))"""
    )
    return (
        df.select(vf.alias("__vf"))
        .select(F.explode(cells).alias("c"))
        .groupBy(
            F.col("c.i").cast("long").alias("i"), F.col("c.j").cast("long").alias("j")
        )
        .agg(F.sum("c.p").alias("gram_fp"))
    )


def power_iteration_topvec(
    cells: DataFrame,
    iterations: int = 6,
    gram_div: int = 1_000_000,
    vec_scale: int = 1_000_000,
) -> DataFrame:
    """Dominant eigenvector of a symmetric matrix given as upper-triangle
    ``(i, j, gram_fp)`` cells (the ``gram_fixedpoint`` output) -- the
    PCA top component, by power iteration in EXACT integer arithmetic:

        g      = gram_fp div gram_div          (matrix, int64)
        v_0    = vec_scale everywhere
        v_t+1  = w div greatest(1, ceil(max|w| / vec_scale)),  w = G v_t

    so every iterate is bit-identical on any engine/partitioning -- the
    fourth hash-verified iterative fixed point next to PageRank, CC and
    BFS.  Float power iteration can never hash-match (order-dependent
    sums).  The renormalization divisor is the CEILING div (spelled
    ``(max|w| + vec_scale - 1) div vec_scale``): a truncating div lets
    |v| reach 2*vec_scale - 1 when max|w| is just under 2*vec_scale
    (r8 second-review finding), silently halving the overflow headroom;
    with the ceiling, |v| <= vec_scale holds invariantly and every
    product is bounded by |g|max * vec_scale * d < 2^63 (the caller's
    gram_div controls |g|max).

    Scale: the matvec joins the d^2-cell matrix (distributed, cached)
    with the d-row vector; per-iteration cost is one join + one
    map-side-combinable sum + one 1-row max -- independent of the corpus
    rows that built the Gram.  Each round's ``w`` is eagerly
    checkpointed: ``w`` feeds BOTH the max subquery and the renormalized
    vector, so an uncheckpointed loop embeds TWO copies of the previous
    round per round -- a 2^k plan blowup that measured 24s for 6 rounds
    at sf0.1 versus ~1s checkpointed.  Checkpoint chain: ``loop.py``;
    the final ``w`` is pinned under ``similarity.power``.

    Output: ``(node, eigvec_fp)`` -- components in vec_scale units, the
    dominant component at +-vec_scale.
    """
    from .loop import CheckpointChain

    full = cells.select(
        F.col("i").alias("fi"),
        F.col("j").alias("fj"),
        F.expr(f"gram_fp div {gram_div}").alias("g"),
    ).unionByName(
        cells.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("fi"),
            F.col("i").alias("fj"),
            F.expr(f"gram_fp div {gram_div}").alias("g"),
        )
    )
    from .dedup import _cache_aged

    full = _cache_aged("power_cells", full)
    v = full.select(F.col("fi").alias("node")).distinct().withColumn(
        "val", F.lit(vec_scale).cast("long")
    )
    with CheckpointChain("similarity.power") as chain:
        for _ in range(iterations):
            w = chain.push(
                full.join(v, full["fj"] == v["node"])
                .groupBy(F.col("fi").alias("wnode"))
                .agg(F.sum(F.col("g") * F.col("val")).alias("w")),
                eager=True,
            )
            m = w.agg(
                F.greatest(
                    F.lit(1).cast("long"),
                    F.expr(f"(max(abs(w)) + {vec_scale - 1}) div {vec_scale}"),
                ).alias("__m")
            )
            v = w.crossJoin(F.broadcast(m)).select(
                F.col("wnode").alias("node"), F.expr("w div __m").alias("val")
            )
    return v.select("node", F.col("val").alias("eigvec_fp"))


def scalar_quantization_audit(
    df: DataFrame, id_col: str, vec_col: str, levels: int = 256
) -> DataFrame:
    """Per-dimension scalar quantization (the int8 codebook every
    vector store compresses embeddings with) plus its reconstruction-
    error audit: each dimension maps to ``round((v - min) * (levels-1)
    / (max - min))`` codes, and the audit reports the total squared
    reconstruction error per dimension -- the number that says which
    dimensions survive 8-bit storage and which need more bits.

    Determinism: codes come from one half-up floor over an IEEE-exact
    ratio of doubles (identical op order both engines); per-(vector,
    dim) squared errors round half-up to NANO units BEFORE the per-dim
    sum (order-stable fixed point); constant dimensions (max == min)
    quantize to code 0 with zero error rather than dividing by zero.
    min/max are reported in nano units, not raw doubles.

    Scale shape: one posexplode feeds a d-row min/max aggregate
    (map-side combinable) that broadcasts back onto the same exploded
    stream; the error aggregate collapses map-side to d rows.  Two
    passes over the exploded stream, nothing wider than (id, dim, v)
    ever shuffles, and only d-row frames move between stages.

    Output: ``dim, n_vecs, min_nano, max_nano, sq_err_nano``.
    """
    if levels < 2:
        raise ValueError(f"levels must be >= 2, got {levels}")
    lm1 = repr(float(levels - 1))
    ex = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "__vf")
    ).select(
        id_col,
        F.col("dim").cast("long").alias("dim"),
        F.col("__vf").cast("double").alias("v"),
    )
    stats = ex.groupBy("dim").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    j = ex.join(F.broadcast(stats), "dim")
    q = F.expr(
        f"CASE WHEN mx > mn THEN"
        f" CAST(FLOOR((v - mn) * CAST({lm1} AS DOUBLE) / (mx - mn) + 0.5D)"
        f" AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    )
    err = F.expr(
        f"CASE WHEN mx > mn THEN CAST(FLOOR("
        f" (v - (mn + CAST(__q AS DOUBLE) * (mx - mn) / CAST({lm1} AS DOUBLE)))"
        f" * (v - (mn + CAST(__q AS DOUBLE) * (mx - mn) / CAST({lm1} AS DOUBLE)))"
        f" * 1000000000.0D + 0.5D) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    )
    return (
        j.withColumn("__q", q)
        .withColumn("__e", err)
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.expr(
                "CAST(FLOOR(MIN(mn) * 1000000000.0D + 0.5D) AS BIGINT)"
            ).alias("min_nano"),
            F.expr(
                "CAST(FLOOR(MAX(mx) * 1000000000.0D + 0.5D) AS BIGINT)"
            ).alias("max_nano"),
            F.sum("__e").cast("long").alias("sq_err_nano"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int | None = None,
    threshold: float = 0.42,
    scale: int = 1_000_000,
    target_cluster_pop: int = 250,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication") with the engine-
    deterministic coarse quantizer of ``ivf_portable_topk``: cluster the
    corpus, compare pairs ONLY within a cluster, and drop every vector
    that has a lower-id near-duplicate (6dp cosine >= ``threshold``)
    in its cluster.  The keep rule -- survive iff no KEPT-or-not lower
    id is near -- is deterministic and single-pass (no fixed point): a
    chain a~b~c keeps exactly ``a`` because b sees a and c sees b.

    ``n_clusters=None`` (the default) sizes the geometry from the
    corpus: ``k = max(16, ceil(n / target_cluster_pop))`` -- integer
    ceiling, mirrored exactly by the SQL oracle's
    ``GREATEST(16, (COUNT(*) + pop - 1) // pop)`` -- so cluster
    populations stay ~``target_cluster_pop`` no matter the corpus size
    and the quadratic stage can never reappear at scale (the r11 fixed
    k=16 default grew (n/16)^2 with the corpus; its 10x probe measured
    16->64 clusters cutting wall 3.7x with 0.2% verdict change).  The
    count that sizes k is one cheap scan returning a single scalar.
    Pass an explicit ``n_clusters`` to pin a geometry (the k=16 oracle
    query does, as the validated small-scale shape).

    Scale shape: assignment is one broadcast-centroid pass (exact
    BIGINT squared-L2 argmin, centroid-id tie-break); the quadratic
    stage is confined WITHIN clusters -- one Arrow-batched GEMM task
    per cluster (same float64 kernel as ``cosine_pairs_above``, whose
    6dp-rounded scores are hash-verified cross-engine), so per-task
    memory is pop^2 doubles, bounded by ``target_cluster_pop`` under
    the scaled default.  Nothing here touches the driver beyond the
    sizing count.

    Output: one row per corpus vector --
    ``id_col, cluster, is_kept (0/1), dup_of`` (lowest-id in-cluster
    near-duplicate below it, -1 when kept; -1 not NULL so the verdict
    column hashes identically cross-engine).
    """
    import numpy as np
    import pandas as pd

    from .dedup import _spread

    # Single-file corpora would run the whole assignment pass (and seed
    # the per-cluster pairwise stage) from ONE task; wide inputs pass
    # through _spread untouched.
    df = _spread(df.select(F.col(id_col), F.col(vec_col)))
    if n_clusters is None:
        n = df.count()
        n_clusters = max(16, (n + target_cluster_pop - 1) // target_cluster_pop)
    qc = _quantized(df, id_col, vec_col, scale)
    cents = (
        qc.select(
            F.col("id").alias("cluster"), F.col("qv").alias("cent_qv"),
            knuth_hash(F.col("id")).alias("h"),
        )
        .orderBy("h", "cluster")
        .limit(n_clusters)
        .drop("h")
    )
    assigned = (
        qc.crossJoin(F.broadcast(cents))
        .withColumn("d2", _int_d2(F.col("qv"), F.col("cent_qv")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cluster"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("id", "cluster")
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    withv = assigned.join(vecs, "id")

    # Per-cluster verdicts in ONE float64 GEMM per cluster (r12: replaces
    # the pair self-join whose per-pair Catalyst cosine re-folded the
    # arrays (n/k)^2 times -- 6.2s -> sub-second materialized at sf0.1).
    # np.round-to-6dp before the threshold compare is the same contract
    # the hash-verified cosine_pairs_above tile kernel uses.
    def cluster_verdicts(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["id"].to_numpy(dtype=np.int64), kind="stable")
        ids = pdf["id"].to_numpy(dtype=np.int64)[order]
        cluster = np.int64(pdf["cluster"].iloc[0])
        mat = np.array(list(pdf["v"].iloc[order]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = np.round((mat @ mat.T) / (norms[:, None] * norms[None, :]), 6)
        m = len(ids)
        idx = np.arange(m)
        tri_near = (sims >= threshold) & (idx[:, None] < idx[None, :])
        has_dup = tri_near.any(axis=0)
        # ids ascend with the row index, so argmax (first True) IS min id_lo.
        first = tri_near.argmax(axis=0)
        dup_of = np.where(has_dup, ids[first], np.int64(-1))
        return pd.DataFrame(
            {
                "id": ids,
                "cluster": np.full(m, cluster, dtype=np.int64),
                "is_kept": np.where(has_dup, np.int64(0), np.int64(1)),
                "dup_of": dup_of,
            }
        )

    out = withv.groupBy("cluster").applyInPandas(
        cluster_verdicts, schema="id long, cluster long, is_kept long, dup_of long"
    )
    return out.select(
        F.col("id").alias(id_col),
        F.col("cluster"),
        F.col("is_kept"),
        F.col("dup_of"),
    )


def hard_negative_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    max_anchors: int | None = 10_000,
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each anchor, the top-``k`` most-similar corpus vectors with a
    DIFFERENT label -- the negatives that sit closest to the decision
    boundary and carry the training signal random negatives lack.

    Same cost shape as ``cosine_topk`` (the anchors broadcast; one
    corpus scan; per-anchor top-k window) with the label-inequality
    predicate folded into the broadcast join, so excluded same-label
    rows never reach the scorer.  SCALE NOTE: the ``!=`` predicate
    makes this a BroadcastNestedLoopJoin costing corpus x anchors
    cosines -- intended for BOUNDED anchor sets (probe batches,
    curriculum seeds).  ``max_anchors`` enforces that contract (the
    same guard pattern as the LSH hot-bucket caps): an unbounded
    ``queries`` frame would otherwise quietly schedule an
    all-pairs-shaped job AND overrun the broadcast.  Pass ``None``
    only when the caller has already bounded the frame.  For
    anchor sets beyond the guard, mine per-anchor-batch or go through
    ``ivf_portable_topk`` with a label post-filter instead.  Output:
    ``query_id, neighbor_id, neg_label, cos_sim, rank``.
    """
    if max_anchors is not None:
        n_anchors = queries.limit(max_anchors + 1).count()
        if n_anchors > max_anchors:
            raise ValueError(
                f"hard_negative_topk: anchor set exceeds max_anchors="
                f"{max_anchors}; the anchors broadcast into a nested-loop "
                "join costing corpus x anchors -- batch the anchors or use "
                "ivf_portable_topk with a label post-filter (pass "
                "max_anchors=None only for a frame you have already bounded)"
            )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("q_label"),
    )
    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("neg_label"),
    )
    scored = c.join(
        F.broadcast(q), F.col("q_label") != F.col("neg_label")
    ).withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("neg_label").cast("long").alias("neg_label"),
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )
