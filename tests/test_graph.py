"""Connected components (min-label propagation) — the dedup clustering step."""

import pytest

from tsdat_spark.graph import connected_components


def test_components_chains_and_isolated(spark):
    # components: {1,2,3,4} (chain), {10,11}, isolated {20}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 20)], "doc_id bigint")
    got = {r["node"]: r["cluster_id"]
           for r in connected_components(edges, nodes=nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_components_default_nodes_and_diameter(spark):
    # a 12-node chain exercises multi-round propagation (diameter 11)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "doc_a bigint, doc_b bigint"
    )
    got = {r["node"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert set(got) == set(range(100, 112))
    assert set(got.values()) == {100}


def test_components_nonconvergence_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(50, 58)],
                                  "doc_a bigint, doc_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2, method="propagation")


def test_components_nodes_missing_endpoint(spark):
    """An edge endpoint absent from a caller-supplied node list must still
    participate (previously an inner join silently split the component)."""
    edges = spark.createDataFrame([(1, 2), (2, 9)], "doc_a bigint, doc_b bigint")
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "doc_id bigint")  # 9 missing
    got = {r["node"]: r["cluster_id"]
           for r in connected_components(edges, nodes=nodes).collect()}
    assert got == {1: 1, 2: 1, 9: 1, 3: 3}


def test_components_int_nodes_bigint_edges(spark):
    """An ``int`` node list with ``bigint`` edge endpoints: the isolated
    nodes rejoin the propagated labels through a union, which must widen
    both output columns to bigint and keep every label."""
    edges = spark.createDataFrame([(1, 2), (2, 5), (7, 8)], "doc_a bigint, doc_b bigint")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 8, 9)], "doc_id int")
    out = connected_components(edges, nodes=nodes)
    assert out.schema.simpleString() == "struct<node:bigint,cluster_id:bigint>"
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 5: 1, 7: 7, 8: 7, 3: 3, 9: 9}


def test_contraction_matches_propagation_on_mixed_graph(spark):
    from tsdat_spark.graph import connected_components_contraction

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (7, 2)],
        "doc_a bigint, doc_b bigint",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 7, 10, 11, 12, 99)], "doc_id bigint"
    )
    prop = {r["node"]: r["cluster_id"]
            for r in connected_components(edges, nodes=nodes, method="propagation").collect()}
    cont = {r["node"]: r["cluster_id"]
            for r in connected_components_contraction(edges, nodes=nodes).collect()}
    assert cont == prop
    assert cont[99] == 99


def test_contraction_handles_adversarial_chain(spark):
    """A 120-node chain (diameter 119): plain propagation cannot converge
    in 25 rounds; large-star/small-star contraction must — and 'auto' must
    reach the same answer by falling back instead of raising."""
    from tsdat_spark.graph import connected_components_contraction

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1000, 1119)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=25, method="propagation")
    got = {r["node"]: r["cluster_id"]
           for r in connected_components_contraction(edges).collect()}
    assert set(got) == set(range(1000, 1120))
    assert set(got.values()) == {1000}
    auto = {r["node"]: r["cluster_id"]
            for r in connected_components(edges, max_iter=5, method="auto").collect()}
    assert auto == got


def test_contraction_reversed_id_chain(spark):
    """Chain built high-to-low (worst case for min-hanging orientation)."""
    from tsdat_spark.graph import connected_components_contraction

    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(500, 560)], "doc_a bigint, doc_b bigint"
    )
    got = {r["node"]: r["cluster_id"]
           for r in connected_components_contraction(edges).collect()}
    assert set(got.values()) == {500}


def test_components_duplicate_caller_nodes(spark):
    """Duplicate ids in the caller node list must not duplicate output
    rows (the active-subgraph path dedupes the universe before the
    isolated-node anti-join, as _all_nodes always did)."""
    edges = spark.createDataFrame([(1, 2)], "doc_a bigint, doc_b bigint")
    nodes = spark.createDataFrame(
        [(1,), (2,), (5,), (5,), (6,)], "doc_id bigint")
    rows = connected_components(edges, nodes=nodes).collect()
    assert len(rows) == 4
    got = {r["node"]: r["cluster_id"] for r in rows}
    assert got == {1: 1, 2: 1, 5: 5, 6: 6}
