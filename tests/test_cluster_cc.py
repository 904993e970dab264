"""Connected-components correctness on adversarial graphs vs a
union-find oracle (SURVEY §5.2.2), plus stable-id properties."""

import numpy as np
from pyspark.sql import functions as F

from codedup.stages.cluster import connected_components


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {k: find(k) for k in parent}


def _check(spark, edges: list[tuple[int, int]]):
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["file_id"]: r["cluster_id"] for r in connected_components(df).collect()}
    exp = _uf_components(edges)
    assert got == exp, f"expected {exp}, got {got}"


def test_chain(spark):
    _check(spark, [(i, i + 1) for i in range(1, 30)])


def test_star(spark):
    _check(spark, [(100, i) for i in range(1, 30)])


def test_two_components_one_bridge(spark):
    e = [(1, 2), (2, 3), (10, 11), (11, 12)]
    _check(spark, e)
    _check(spark, e + [(3, 10)])  # bridge merges them


def test_duplicate_and_reversed_edges(spark):
    _check(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2)])


def test_random_graph_vs_union_find(spark):
    rng = np.random.default_rng(7)
    nodes = rng.integers(0, 200, size=(150, 2)).tolist()
    edges = [(int(u), int(v)) for u, v in nodes if u != v]
    _check(spark, edges)


def test_cluster_id_is_component_min(spark):
    df = spark.createDataFrame([(5, 9), (9, 3), (20, 21)], "u long, v long")
    got = connected_components(df).toPandas()
    c1 = got[got.file_id.isin([3, 5, 9])]
    assert (c1.cluster_id == 3).all()
    c2 = got[got.file_id.isin([20, 21])]
    assert (c2.cluster_id == 20).all()


def test_partitioning_invariance(spark):
    edges = [(i, i + 1) for i in range(1, 40)] + [(100 + i, 100 + i + 1) for i in range(0, 20, 2)]
    df = spark.createDataFrame(edges, "u long, v long")
    a = connected_components(df).toPandas().sort_values("file_id", ignore_index=True)
    b = (
        connected_components(df.repartition(13))
        .toPandas()
        .sort_values("file_id", ignore_index=True)
    )
    assert a.equals(b)


def test_negative_ids(spark):
    """file_id = xxhash64 is signed; CC must work below zero."""
    _check(spark, [(-5, 2), (2, -9), (7, 8)])


def test_local_fast_path_equals_star_rounds(spark):
    """The size-gated single-task union-find (r6 fast path) must
    produce exactly the distributed large-star/small-star membership;
    local_max_edges=0 forces the star rounds for the comparison."""
    rng = np.random.default_rng(11)
    nodes = rng.integers(-300, 300, size=(400, 2)).tolist()
    edges = [(int(u), int(v)) for u, v in nodes if u != v]
    df = spark.createDataFrame(edges, "u long, v long")
    fast = connected_components(df) \
        .toPandas().sort_values("file_id", ignore_index=True)
    star = connected_components(df, local_max_edges=0) \
        .toPandas().sort_values("file_id", ignore_index=True)
    assert fast.equals(star)
    # and both match the reference union-find
    exp = _uf_components(edges)
    got = {r.file_id: r.cluster_id for r in fast.itertuples()}
    assert got == exp
