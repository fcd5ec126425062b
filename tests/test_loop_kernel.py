"""The checkpoint chain (``operators/loop.py``) under every loop operator.

Each of the twelve iterative operators runs its rounds on one
``CheckpointChain``.  These tests pin what that buys:

- a successful call followed by ``release_caches()`` leaves no new
  persisted RDD (the final frame is pinned under the operator's key,
  never left unregistered);
- a driver action that fails at ANY point of an operator call leaves no
  persisted RDD behind once ``release_caches()`` has run -- the chain
  released every frame it held on the way out;
- no module outside ``loop.py`` checkpoints or releases checkpoint frames
  by hand, except the named non-loop staging and pinning sites.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators import (
    clustering,
    dedup,
    graph,
    similarity,
    trainprep,
)

PKG = pathlib.Path(clustering.__file__).resolve().parents[1]


def _chain_edges(spark):
    e = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], "src long, dst long")
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _seeds(spark):
    return spark.createDataFrame([(1,)], "node long")


def _vectors(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11) / 10.0 for j in range(4)]) for i in range(1, 13)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _pagerank(spark):
    graph.pagerank_fixedpoint(_chain_edges(spark), iterations=5).collect()


def _hierarchy(spark):
    nodes = spark.createDataFrame(
        [(i, i // 2 if i > 1 else None) for i in range(1, 16)], "node long, parent long"
    )
    graph.hierarchy_flatten(nodes).collect()


def _bfs(spark):
    graph.bfs_distances(_chain_edges(spark), _seeds(spark), max_depth=4).collect()


def _temporal(spark):
    edges = _chain_edges(spark).select(
        "src", "dst", F.lit("2024-01-01").alias("avail"), F.lit("2024-01-02").alias("arr")
    )
    seeds = _seeds(spark).select("node", F.lit("2024-01-01").alias("d"))
    graph.temporal_reachability(edges, seeds, rounds=3).collect()


def _sssp(spark):
    edges = _chain_edges(spark).withColumn("w", F.lit(2))
    graph.shortest_paths_bounded(edges, _seeds(spark), rounds=4).collect()


def _kcore(spark):
    graph.kcore_bounded(_chain_edges(spark), k=2, rounds=4).collect()


def _hits(spark):
    hubs, auths = graph.hits_fixedpoint(_chain_edges(spark), iterations=2)
    hubs.collect()
    auths.collect()


def _connected_components(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)] + [(10, 11)], "doc_a long, doc_b long"
    )
    dedup.connected_components(pairs).collect()


def _kcenter_greedy(spark):
    clustering.kcenter_greedy_fixedpoint(_vectors(spark), k=4, dim=4, scale=100)


def _kcenter_batched(spark):
    clustering.kcenter_batched_fixedpoint(_vectors(spark), k=5, dim=4, scale=100, batch=2)


def _bpe(spark):
    corpus = spark.createDataFrame(
        [("low lower lowest",), ("newer newest new",), ("wider widest low",)], "text string"
    )
    _, symbols = trainprep.bpe_learn_merges(corpus, "text", rounds=2, return_symbols=True)
    symbols.collect()


def _power_iteration(spark):
    cells = similarity.gram_fixedpoint(_vectors(spark), scale=100, dim=4)
    similarity.power_iteration_topvec(cells, iterations=3).collect()


LOOPS = {
    "pagerank_fixedpoint": _pagerank,
    "hierarchy_flatten": _hierarchy,
    "bfs_distances": _bfs,
    "temporal_reachability": _temporal,
    "shortest_paths_bounded": _sssp,
    "kcore_bounded": _kcore,
    "hits_fixedpoint": _hits,
    "connected_components": _connected_components,
    "kcenter_greedy_fixedpoint": _kcenter_greedy,
    "kcenter_batched_fixedpoint": _kcenter_batched,
    "bpe_learn_merges": _bpe,
    "power_iteration_topvec": _power_iteration,
}


def _persistent(spark) -> set[int]:
    # Ids, not a count: the ContextCleaner may free an earlier test's
    # unreachable RDD mid-test, which must not offset a new one.
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("name", sorted(LOOPS))
def test_loop_releases_every_frame(spark, name, driver_actions):
    """A successful call, then the same call failing at each of its driver
    actions in turn (the first, every one inside the loop, and the reads
    of the result); after each, ``release_caches()`` must leave no
    persisted RDD that was not persisted before the call."""
    spark.catalog.clearCache()  # earlier tests' cached frames stay out of the count
    dedup.release_caches()
    before = _persistent(spark)
    driver_actions.reset()
    LOOPS[name](spark)
    dedup.release_caches()
    left = _persistent(spark) - before
    assert not left, f"{name} left {len(left)} RDDs release_caches() cannot free"
    total = driver_actions.n
    assert total >= 2, f"{name}: the fixture must run more than one action"
    for fail_at in range(1, total + 1):
        driver_actions.reset(fail_at)
        with pytest.raises(RuntimeError, match="injected failure"):
            LOOPS[name](spark)
        dedup.release_caches()
        leaked = _persistent(spark) - before
        assert not leaked, f"{name}: failing action {fail_at}/{total} leaked {len(leaked)} RDDs"


# Calls that create or release checkpoint frames outside loop.py, by
# (module, innermost enclosing function, callee).  The non-loop sites:
# the streaming HLL merge stages each micro-batch through a checkpoint and
# drops it once written; frequent_pairs checkpoints its item table once
# and pins it; the dedup registry releases superseded and pinned finals.
ALLOWED_CHECKPOINT_SITES = {
    ("streaming/ingest.py", "_merge", "localCheckpoint"),
    ("streaming/ingest.py", "_merge", "_unpersist_checkpoint"),
    ("operators/mining.py", "frequent_pairs", "localCheckpoint"),
    ("operators/dedup.py", "release_pinned", "_unpersist_checkpoint"),
    ("operators/dedup.py", "hold_pinned", "_unpersist_checkpoint"),
}


class _CheckpointCalls(ast.NodeVisitor):
    CALLEES = {"localCheckpoint", "_unpersist_checkpoint"}

    def __init__(self, module: str):
        self.module, self.scope, self.sites = module, ["<module>"], set()

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name in self.CALLEES:
            self.sites.add((self.module, self.scope[-1], name))
        self.generic_visit(node)


def test_checkpoint_frames_are_managed_only_by_loop_module():
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        module = path.relative_to(PKG).as_posix()
        if module == "operators/loop.py":
            continue
        visitor = _CheckpointCalls(module)
        visitor.visit(ast.parse(path.read_text(encoding="utf-8")))
        sites |= visitor.sites
    assert sites - ALLOWED_CHECKPOINT_SITES == set(), (
        "hand-rolled checkpoint handling outside operators/loop.py; run the "
        "loop on loop.CheckpointChain instead"
    )
    assert ALLOWED_CHECKPOINT_SITES - sites == set(), "stale allow-list entry"
