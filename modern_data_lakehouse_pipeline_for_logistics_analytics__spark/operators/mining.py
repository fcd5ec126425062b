"""Frequent-itemset mining: A-Priori pair mining with support/lift.

"Which parts ship together?" is the market-basket question every
logistics/retail warehouse asks.  The naive answer joins the item table
to itself per basket -- Σ basket² pairs, most of which can never reach
min support.  A-Priori's downward-closure property prunes BEFORE the
expensive join: a pair can only be frequent if both items are, so pass 1
counts single items (one map-side-combinable aggregate) and only
frequent items enter the per-basket self-join.  The same
candidates-then-verify economics as the LSH families, driven by an
anti-monotone bound instead of a hash family.

All counts are exact integers; the lift ratio rounds with the repo's
half-up-floor so the oracle replays every cell.

Scale posture: pass 1 shuffles (item, partial count); the pair join is
per-basket (bounded by basket size, not corpus size) and only over
frequent items; the pair aggregate is map-side combinable.  A
pathological basket with 10^5 frequent items would still blow up --
real miners cap basket width; ``max_basket_items`` applies that cap
deterministically (keep the lexicographically smallest items).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import round_half_up


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
    max_basket_items: int | None = 1000,
) -> DataFrame:
    """Item pairs co-occurring in >= ``min_support`` baskets, with exact
    counts and lift.  Output: ``item_a, item_b, n_ab, n_a, n_b, lift``
    (item_a < item_b; lift = n_ab * N / (n_a * n_b), 6dp half-up).
    """
    from .dedup import hold_pinned, release_sig_cache

    # The distinct item table feeds THREE consumers (the basket count,
    # the item counts, and the pruned grouping) -- checkpoint it once so
    # the full-input distinct runs a single time, not per consumer.  The
    # pinned frame registers under this operator's key (superseded by
    # the next call, dropped by release_caches()).
    items = (
        df.select(F.col(basket_col).alias("basket"), F.col(item_col).alias("item"))
        .distinct()
        # Lazy (r13): the basket count right below is the first action
        # and materializes the checkpoint -- one job, not two.
        .localCheckpoint(eager=False)
    )
    # Superseding the previous checkpoint invalidates any itemcf pair
    # cache rooted in it: evicted cached partitions would recompute
    # through a dead checkpoint and fail with missing blocks (r15
    # advice).  Drop the dependent entry BEFORE its root goes, so no
    # reader of it can race the release.
    release_sig_cache("mining.itemcf_pairs")
    hold_pinned("mining.frequent_pairs", items)
    n_baskets = items.select("basket").distinct().count()
    item_counts = items.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n_i"))
    frequent = item_counts.filter(F.col("n_i") >= min_support)
    pruned = items.join(frequent.select("item"), "item")  # A-Priori pruning
    # Pair generation WITHOUT a per-basket self-join: collect each
    # basket's (pruned, sorted) item array in one aggregate, cap it with
    # slice, and expand i<j pairs with a nested SQL lambda (the
    # delete2_variants codegen pattern).  One shuffle for the grouping,
    # one for the pair counts; the self-join formulation re-shuffled the
    # item table twice and paid a window for the cap (1.6x slower at
    # sf0.1).
    # slice()'s length is IntegerType: INT_MAX is the "no cap" value
    # (2^31 overflows the cast), and an explicit 0 must mean an EMPTY
    # cap, not the falsy no-cap a bare `or` would make it.
    cap = (1 << 31) - 1 if max_basket_items is None else max_basket_items
    arr = F.slice(F.sort_array(F.collect_set("item")), 1, cap)
    grouped = pruned.groupBy("basket").agg(arr.alias("its"))
    pair_expr = (
        "flatten(transform(sequence(1, size(its) - 1), "
        "  i -> transform(sequence(i + 1, size(its)), "
        "    j -> struct(its[i - 1] AS item_a, its[j - 1] AS item_b))))"
    )
    pairs = grouped.filter(F.size("its") >= 2).select(
        F.explode(F.expr(pair_expr)).alias("p")
    ).select("p.item_a", "p.item_b")
    counted = (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    na = item_counts.select(F.col("item").alias("item_a"), F.col("n_i").alias("n_a"))
    nb = item_counts.select(F.col("item").alias("item_b"), F.col("n_i").alias("n_b"))
    enriched = counted.join(na, "item_a").join(nb, "item_b")
    lift = round_half_up(
        F.col("n_ab") * F.lit(float(n_baskets)) / (F.col("n_a") * F.col("n_b")), 6
    )
    return enriched.select("item_a", "item_b", "n_ab", "n_a", "n_b", lift.alias("lift"))


def itemcf_topk(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
    k: int,
    max_basket_items: int | None = 1000,
) -> DataFrame:
    """Item-item collaborative filtering: top-``k`` neighbors per item
    by co-occurrence cosine ``n_ab / sqrt(n_a * n_b)`` -- the classic
    "customers who bought X also bought Y" recommender, built on the
    A-Priori pair counts (``frequent_pairs``) so only pairs that clear
    ``min_support`` are ever scored.

    Determinism: counts are exact BIGINTs; the cosine rounds half-up to
    micro units ONCE (sqrt is correctly rounded per IEEE-754 on every
    engine); neighbor rank breaks ties on (cosine desc, neighbor asc).
    The ``n_a * n_b`` product is computed in doubles -- exact while
    counts stay below 2^26 each (any realistic per-item basket count;
    document-scale corpora with billions of baskets per item would
    need the log-domain variant).

    Scale shape: inherits frequent_pairs' economics (A-Priori pruning,
    per-basket capped pair expansion, map-side-combinable counts); the
    symmetrization doubles a support-pruned pair list, and the top-k
    window partitions by item -- nothing scales with raw row count
    after the pair aggregate.

    Output: ``item, neighbor, n_ab, cos_micro, rank`` (rank 1..k).
    """
    from pyspark.sql import Window

    from .dedup import _cache_aged

    # The symmetrization union below reads ``pairs`` TWICE; uncached,
    # the whole A-Priori pipeline (grouping shuffle, pair explode, pair
    # count, two enrichment joins) ran once per branch (r15; the plan
    # showed 34 Exchanges with zero reuse).  The frame is support-pruned
    # -- small by construction -- so the cache is cheap.
    pairs = _cache_aged(
        "mining.itemcf_pairs",
        frequent_pairs(df, basket_col, item_col, min_support, max_basket_items),
    )
    sym = pairs.select(
        F.col("item_a").alias("item"),
        F.col("item_b").alias("neighbor"),
        "n_ab",
        F.col("n_a").alias("n_i"),
        F.col("n_b").alias("n_j"),
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"),
            F.col("item_a").alias("neighbor"),
            "n_ab",
            F.col("n_b").alias("n_i"),
            F.col("n_a").alias("n_j"),
        )
    )
    scored = sym.withColumn(
        "cos_micro",
        F.expr(
            "CAST(FLOOR(CAST(n_ab AS DOUBLE)"
            " / sqrt(CAST(n_i AS DOUBLE) * CAST(n_j AS DOUBLE))"
            " * 1000000.0D + 0.5D) AS BIGINT)"
        ),
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cos_micro"), F.asc("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("item", "neighbor", "n_ab", "cos_micro", "rank")
    )
