"""r16 pins: the graph-loop action-folding must stick.

The r15 loops ran one-to-two Python-side ACTIONS per round (eager
checkpoint materializations, per-round convergence counts, trailing
finalization counts), each a synchronous job barrier.  r16 folds them:
pagerank chains rounds lazily into one final materialization, bfs/sssp/
kcore check convergence every 2nd round, temporal reachability
materializes its whole round chain in one job, and HITS drops the seed
checkpoint + the two trailing count() jobs.  Results are pinned
byte-identical by the existing coverage tests + oracles; THESE tests
pin the scheduling shape -- the number of driver-side actions one
operator call issues -- so a refactor that quietly reintroduces
per-round actions fails here first.

The counter is ``conftest.DriverActions``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def chain_edges(spark):
    # Symmetrized 8-node chain: every node has out-edges (pagerank
    # precondition); BFS from node 1 keeps adding nodes for 4+ rounds so
    # no early exit masks the per-round action count.
    rows = [(i, i + 1) for i in range(1, 8)]
    e = spark.createDataFrame(rows, "src long, dst long")
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


@pytest.fixture(scope="module")
def seeds(spark):
    return spark.createDataFrame([(1,)], "node long")


def _released(spark):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.dedup import (
        release_caches,
    )

    release_caches()


def test_pagerank_actions(spark, chain_edges, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.graph import (
        pagerank_fixedpoint,
    )

    c = driver_actions
    pagerank_fixedpoint(chain_edges, iterations=5)
    _released(spark)
    # 3 = combined probe/stats collect + the cadence checkpoint at round
    # 4 (checkpoint_every=4) + the final checkpoint materializing the
    # lazily-chained tail.  r15 ran 8 (separate dangling count, stats
    # collect, eager zero-rows checkpoint, and an eager checkpoint per
    # round).
    assert c.n == 3, f"pagerank issued {c.n} actions; per-round actions are back"


def test_bfs_actions(spark, chain_edges, seeds, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.graph import (
        bfs_distances,
    )

    c = driver_actions
    bfs_distances(chain_edges, seeds, max_depth=4).collect()
    _released(spark)
    # 3 = convergence checks at rounds 2 and 4 + the caller's collect.
    # r15 ran 6 (eager seed checkpoint + one check per round + collect).
    assert c.n == 3, f"bfs issued {c.n} actions; per-round checks are back"


def test_sssp_actions(spark, chain_edges, seeds, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.graph import (
        shortest_paths_bounded,
    )

    c = driver_actions
    shortest_paths_bounded(
        chain_edges.withColumn("w", F.lit(2)), seeds, rounds=4
    ).collect()
    _released(spark)
    # Same shape as BFS: 3 on r16 vs 6 on r15.
    assert c.n == 3, f"sssp issued {c.n} actions; per-round checks are back"


def test_kcore_actions(spark, chain_edges, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.graph import (
        kcore_bounded,
    )

    c = driver_actions
    kcore_bounded(chain_edges, k=2, rounds=4).collect()
    _released(spark)
    # 5 = one survivor count per round (check_every=1 -- a peel round
    # costs far more than a count job, so kcore keeps the earliest
    # sound early exit; the chain fixture never converges, so all 4
    # rounds count) + collect.  r15 ran 7 (eager initial checkpoint +
    # exact initial count + one count per round + collect): what r16
    # drops is the baseline pair, not the per-round checks.
    assert c.n == 5, f"kcore issued {c.n} actions; the baseline count is back"


def test_temporal_actions(spark, chain_edges, seeds, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.graph import (
        temporal_reachability,
    )

    c = driver_actions
    temporal_reachability(
        chain_edges.select(
            "src",
            "dst",
            F.lit("2024-01-01").alias("avail"),
            F.lit("2024-01-02").alias("arr"),
        ),
        seeds.select("node", F.lit("2024-01-01").alias("d")),
        rounds=3,
    )
    _released(spark)
    # 1 = the single count that materializes the whole 3-round lazy
    # chain.  r15 ran 4 (eager seed checkpoint + one eager checkpoint
    # per round).
    assert c.n == 1, f"temporal issued {c.n} actions; per-round checkpoints are back"


def test_hits_actions(spark, chain_edges, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.graph import (
        hits_fixedpoint,
    )

    c = driver_actions
    hits_fixedpoint(chain_edges, iterations=3)
    _released(spark)
    # 6 = one max collect per half-step (the L-inf normalization IS the
    # algorithm; it cannot fold).  r15 ran 9 (plus the eager seed
    # checkpoint and two trailing finalization counts).
    assert c.n == 6, f"hits issued {c.n} actions; seed/finalization actions are back"


# ---------------------------------------------------------------------------
# The six other checkpoint-chain loops.  Counts recorded before those loops
# moved onto operators/loop.py; the move keeps every one of them.


@pytest.fixture(scope="module")
def chain_pairs(spark):
    # An 8-doc chain (pointer jumping needs several rounds) + an isolated pair.
    rows = [(i, i + 1) for i in range(1, 8)] + [(10, 11)]
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11) / 10.0 for j in range(4)]) for i in range(1, 13)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [("low lower lowest",), ("newer newest new",), ("wider widest low",)]
    return spark.createDataFrame(rows, "text string")


def test_connected_components_actions(spark, chain_pairs, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.dedup import (
        connected_components,
    )

    c = driver_actions
    connected_components(chain_pairs).collect()
    _released(spark)
    # 5 = one convergence agg per round (4 rounds: the third changes the
    # last label, the fourth confirms the fixpoint) + the caller's collect.
    assert c.n == 5, f"connected_components issued {c.n} actions"


def test_hierarchy_actions(spark, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.graph import (
        hierarchy_flatten,
    )

    nodes = spark.createDataFrame(
        [(i, i // 2 if i > 1 else None) for i in range(1, 16)], "node long, parent long"
    )
    c = driver_actions
    hierarchy_flatten(nodes).collect()
    _released(spark)
    # 6 = the eager seed checkpoint + one moved-count per doubling round
    # (3 rounds on a depth-3 tree) + the cycle count + the caller's collect.
    assert c.n == 6, f"hierarchy_flatten issued {c.n} actions"


def test_kcenter_greedy_actions(spark, vectors, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.clustering import (
        kcenter_greedy_fixedpoint,
    )

    c = driver_actions
    kcenter_greedy_fixedpoint(vectors, k=4, dim=4, scale=100)
    _released(spark)
    # 4 = the seed-row collect + one farthest-point collect per added
    # center (k - 1 = 3).
    assert c.n == 4, f"kcenter_greedy_fixedpoint issued {c.n} actions"


def test_kcenter_batched_actions(spark, vectors, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.clustering import (
        kcenter_batched_fixedpoint,
    )

    c = driver_actions
    kcenter_batched_fixedpoint(vectors, k=5, dim=4, scale=100, batch=2)
    _released(spark)
    # 4 = the seed-row collect + one candidate collect per pass (3 passes
    # certify the 4 further centers 2 at a time or fewer).
    assert c.n == 4, f"kcenter_batched_fixedpoint issued {c.n} actions"


def test_power_iteration_actions(spark, vectors, driver_actions):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.similarity import (
        gram_fixedpoint,
        power_iteration_topvec,
    )

    cells = gram_fixedpoint(vectors, scale=100, dim=4)
    c = driver_actions
    c.reset()  # count the operator's actions only, not gram_fixedpoint's
    power_iteration_topvec(cells, iterations=3).collect()
    _released(spark)
    # 4 = one eager checkpoint per iteration + the caller's collect.
    assert c.n == 4, f"power_iteration_topvec issued {c.n} actions"


@pytest.mark.parametrize("return_symbols", [False, True])
def test_bpe_learned_merges_actions(spark, corpus, driver_actions, return_symbols):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.trainprep import (
        bpe_learn_merges,
    )

    c = driver_actions
    bpe_learn_merges(corpus, "text", rounds=3, return_symbols=return_symbols)
    _released(spark)
    # 4 = one top-pair collect per round + the count that materializes the
    # final symbol table before its parents are released (both modes).
    assert c.n == 4, f"bpe_learn_merges issued {c.n} actions"
