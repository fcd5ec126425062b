"""Connected components over string doc ids: the canonical label of every
component is its minimum doc id."""

from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators.dedup import (
    connected_components,
)


def _pairs(spark):
    # Two chains (diameter > 1, forces pointer jumping) + one triangle
    # + an isolated pair; mixed component shapes.
    edges = (
        [(f"a{i}", f"a{i+1}") for i in range(6)]
        + [(f"b{i}", f"b{i+1}") for i in range(3)]
        + [("t0", "t1"), ("t1", "t2"), ("t0", "t2"), ("x", "y")]
    )
    return spark.createDataFrame(edges, "doc_a string, doc_b string")


def test_canonical_labels_default_path(spark):
    labels = {
        (r.doc, r.canonical)
        for r in connected_components(_pairs(spark)).collect()
    }
    assert {c for _, c in labels} == {"a0", "b0", "t0", "x"}


def test_earlier_result_survives_a_later_call(spark):
    """One query can hold several CC results at once (a cohort digest
    unions five): a later call must not release an earlier result's
    pinned labels before it is read."""
    first = connected_components(_pairs(spark))
    second = connected_components(
        spark.createDataFrame([("p", "q"), ("q", "r")], "doc_a string, doc_b string")
    )
    assert {r.canonical for r in first.collect()} == {"a0", "b0", "t0", "x"}
    assert {r.canonical for r in second.collect()} == {"p"}
