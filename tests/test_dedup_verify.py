"""The exact-Jaccard verify stage: prefix-filtered pairs at every shingle
width, and the hash-keyed shape of its intersection join."""

from __future__ import annotations

import re

import pytest

from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.dedup import (
    jaccard_pairs,
    jaccard_pairs_prefix,
    jaccard_verify_pairs,
    release_caches,
)

_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river",
    "a quick brown fox jumps over the lazy dog near the river bank",
    "shipments left the depot late because the truck broke down",
    "shipments left the depot late because the truck broke down twice",
    "completely unrelated words about weather and rain today",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(list(enumerate(_TEXTS, 1)), "doc_id long, text string")


@pytest.mark.parametrize("n", [2, 3, 4])
def test_prefix_pairs_match_jaccard_pairs(docs, n):
    want = sorted(jaccard_pairs(docs, "doc_id", "text", 0.5, n).collect())
    got = sorted(jaccard_pairs_prefix(docs, "doc_id", "text", 0.5, n=n).collect())
    release_caches()
    assert want, f"fixture has no pair at n={n}"
    assert got == want


def _joins(plan):
    """Every physical join node under ``plan`` (py4j SparkPlan)."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName().endswith("JoinExec"):
            out.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_verify_join_keys_on_shingle_hashes(spark, docs):
    cands = spark.createDataFrame([(1, 2), (4, 5)], "doc_a long, doc_b long")
    out = jaccard_verify_pairs(docs, cands, "doc_id", "text", 0.5)
    plan = out._jdf.queryExecution().sparkPlan()
    inter = [
        j for j in _joins(plan)
        if "hs_a" in j.leftKeys().toString() + j.rightKeys().toString()
    ]
    release_caches()
    assert len(inter) == 1, "no join keyed on the xxhash64 shingle columns"
    keys = inter[0].leftKeys().toString() + inter[0].rightKeys().toString()
    assert "hs_b" in keys
    # The shingle strings stay out of the key list (the hash replaced
    # them there) and are compared as the residual condition instead.
    assert not re.search(r"\bs_[ab]#", keys), f"string shingle is a join key: {keys}"
    cond = inter[0].condition().toString()
    assert re.search(r"\bs_a#\d+ <= s_b#\d+", cond), cond
    assert re.search(r"\bs_a#\d+ >= s_b#\d+", cond), cond
