"""Connected components (operators/graph.py): chains collapse to one
cluster, isolated nodes stay singletons, labels are min-id, and the
result is identical across input partitionings."""

from __future__ import annotations

from detecting_and_addressing_change_spark.operators.graph import (
    connected_components_star,
    dedup_clusters,
)


def _star_labels(nodes, edges):
    labels, _ = connected_components_star(
        nodes, edges, "doc_id", "a_id", "b_id"
    )
    return labels


def test_chain_and_isolated(spark):
    nodes = spark.createDataFrame([(i,) for i in range(7)], ["doc_id"])
    # chain 1-2-3-4 (diameter 3), pair 5-6, node 0 isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], ["a_id", "b_id"]
    )
    got = {r.node: r.lbl for r in _star_labels(nodes, edges).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


def test_dedup_clusters_canonical_flag(spark):
    nodes = spark.createDataFrame([(i,) for i in range(4)], ["doc_id"])
    edges = spark.createDataFrame([(0, 2), (2, 3)], ["a_id", "b_id"])
    rows = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup_clusters(nodes, edges).collect()
    }
    assert rows == {
        0: (0, True),
        1: (1, True),
        2: (0, False),
        3: (0, False),
    }


def test_partitioning_invariance(spark):
    nodes = spark.createDataFrame([(i,) for i in range(20)], ["doc_id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 18, 2)] + [(1, 19)], ["a_id", "b_id"]
    )
    a = _star_labels(nodes, edges)
    b = _star_labels(nodes.repartition(7), edges.repartition(5))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


from hypothesis import given, settings
from hypothesis import strategies as st


def _union_find(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id label per component
    return {i: find(i) for i in range(n)}


@given(
    st.integers(min_value=2, max_value=12).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.tuples(
                    st.integers(0, n - 1), st.integers(0, n - 1)
                ).filter(lambda e: e[0] != e[1]),
                max_size=15,
            ),
        )
    )
)
@settings(max_examples=8, deadline=None)
def test_cc_matches_union_find(spark, graph):
    n, edges = graph
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    if edges:
        edf = spark.createDataFrame(edges, ["a_id", "b_id"])
    else:
        edf = spark.createDataFrame([], "a_id long, b_id long")
    got = {r.node: r.lbl for r in _star_labels(nodes, edf).collect()}
    assert got == _union_find(n, edges)


def test_star_cc_path_graph_olog_rounds(spark):
    """VERDICT r3 #7: a 64-node path (diameter 63) must converge in
    O(log n) large/small-star rounds, not diameter-many, with
    every node labeled by the component minimum."""
    import math

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["a_id", "b_id"]
    )
    labels, rounds = connected_components_star(
        nodes, edges, "doc_id", "a_id", "b_id"
    )
    got = {r.node: r.lbl for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    # 2 star rounds per loop iteration; O(log n) loop iterations plus the
    # stability-confirmation pass. log2(64)=6 -> comfortably under 2*(6+2)
    assert rounds <= 2 * (int(math.log2(n)) + 2), rounds


def test_star_cc_empty_edges(spark):
    nodes = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
    edges = spark.createDataFrame([], "a_id long, b_id long")
    labels, rounds = connected_components_star(
        nodes, edges, "doc_id", "a_id", "b_id"
    )
    assert {r.node: r.lbl for r in labels.collect()} == {
        i: i for i in range(5)
    }


def test_dedup_clusters_star_algorithm(spark):
    """Above the small-graph threshold dedup_clusters runs the star loop."""
    nodes = spark.createDataFrame([(i,) for i in range(4)], ["doc_id"])
    edges = spark.createDataFrame([(0, 2), (2, 3)], ["a_id", "b_id"])
    got = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in dedup_clusters(
            nodes, edges, small_graph_threshold=0
        ).collect()
    }
    assert got == {
        (0, 0, True),
        (1, 1, True),
        (2, 0, False),
        (3, 0, False),
    }


def test_small_graph_gate_matches_distributed(spark):
    """The adaptive driver union-find path (default threshold) and the
    forced-distributed path (threshold=0) produce bit-identical
    (cluster_id, is_canonical) labelings on a graph mixing chains, stars,
    and isolated nodes."""
    import random

    rng = random.Random(7)
    n = 200
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)], "doc_id bigint"
    )
    edge_rows = [(i, i + 1) for i in range(0, 20)]  # 21-node chain
    edge_rows += [(50, 50 + j) for j in range(1, 8)]  # star
    edge_rows += [
        (rng.randrange(60, 120), rng.randrange(60, 120)) for _ in range(40)
    ]
    edges = spark.createDataFrame(edge_rows, "a_id bigint, b_id bigint")

    def labels(**kw):
        return sorted(
            (r["doc_id"], r["cluster_id"], r["is_canonical"])
            for r in dedup_clusters(nodes, edges, **kw).collect()
        )

    gated = labels()
    assert gated == labels(small_graph_threshold=0)


def test_small_graph_route_boundary(spark):
    """The route probe fetches threshold+1 edges as Arrow columns: a graph
    of exactly ``threshold`` distinct edges takes the driver union-find
    (its label table is a LocalRelation leaf), one edge more takes the
    distributed loop, and both label like the forced-distributed path."""
    nodes = spark.range(40).withColumnRenamed("id", "doc_id")
    # 12 distinct edges once normalized: reversed and self pairs drop out
    edge_rows = [(i, i + 1) for i in range(0, 8)] + [(20, 21), (21, 22)]
    edge_rows += [(30, 31), (33, 32), (31, 30), (35, 35)]
    edges = spark.createDataFrame(edge_rows, "a_id int, b_id int")
    n_edges = 12

    def run(threshold):
        out = dedup_clusters(nodes, edges, small_graph_threshold=threshold)
        plan = out._jdf.queryExecution().analyzed().toString()
        rows = sorted(
            (r["doc_id"], r["cluster_id"], r["is_canonical"])
            for r in out.collect()
        )
        return "LocalRelation" in plan, rows

    small, at = run(n_edges)
    distributed, above = run(n_edges - 1)
    _, forced = run(0)
    assert small and not distributed
    assert at == above == forced
    assert dict((d, c) for d, c, _ in forced)[8] == 0
