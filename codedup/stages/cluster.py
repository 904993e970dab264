"""Stage 7 — connected components: iterative large-star/small-star.

The reference's grouping is greedy seed-absorption in a single loop
(dedup.py:204-240); at cluster scale the equivalent (coarsening —
every greedy group lands inside one component, SURVEY §5.2 note) is
connected components over the verified-pair graph.  Implemented as the
alternating large-star / small-star DataFrame self-joins of Kiveris et
al., "Connected Components in MapReduce and Beyond" (SOCC'14) — a
public algorithm, O(log n) rounds, no GraphFrames jar needed.

Each round is two shuffles; ``localCheckpoint(eager=True)`` after each
round cuts lineage so the plan does not grow exponentially (SURVEY
§4.2.4).  Convergence = (edge count, xxhash64 checksum) fixpoint.

Stable ids: the final root of every component IS min(file_id) of the
component, so cluster ids are deterministic across reruns, partition
counts and cluster sizes (north_rule; W5 — the reference's
incrementing group_id counter, classifier.py:448, is NOT stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITERS = 50
# edge sets at/below this run CC as a single-task union-find (the
# graded-response fast path); larger graphs take the distributed
# large-star/small-star rounds
LOCAL_MAX_EDGES = 1_000_000


def _large_star(e: DataFrame) -> DataFrame:
    """Symmetrize; for each node u attach strictly-larger neighbors to
    min(N(u) ∪ {u}).  Emits (child > parent) rows."""
    nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Input rows (u > v); for each u attach all smaller neighbors and u
    itself to the minimum neighbor."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        e.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    selfe = mins.select(F.col("u"), F.col("m").alias("v"))
    return moved.unionByName(selfe)


def _components_local(e: DataFrame) -> DataFrame:
    """Single-task union-find over a small edge set (same membership
    contract: cluster_id = min(file_id) of the component).  The
    size-gated fast path of connected_components: at catalog scale the
    star iteration is ~30 tiny Spark jobs of pure scheduling overhead
    for a graph that fits one task with room to spare — the same
    graded-response pattern as the hot-bucket 'auto' mode.  Equivalence
    to the star path is pinned in tests/test_cluster_cc.py."""
    import pandas as pd

    def uf(it):
        import numpy as np

        us, vs = [], []
        for pdf in it:
            us.append(pdf["u"].to_numpy())
            vs.append(pdf["v"].to_numpy())
        u = np.concatenate(us) if us else np.empty(0, dtype=np.int64)
        v = np.concatenate(vs) if vs else np.empty(0, dtype=np.int64)
        if u.size == 0:
            yield pd.DataFrame({"file_id": pd.array([], dtype="int64"),
                                "cluster_id": pd.array([], dtype="int64")})
            return
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        parent = np.arange(nodes.size, dtype=np.int64)

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:       # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(inv[: u.size], inv[u.size:]):
            ra, rb = find(a), find(b)
            if ra != rb:
                # union toward the smaller node id keeps roots = the
                # minimum member, since `nodes` is sorted ascending
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        roots = np.fromiter((find(i) for i in range(nodes.size)),
                            dtype=np.int64, count=nodes.size)
        yield pd.DataFrame({"file_id": nodes, "cluster_id": nodes[roots]})

    return e.coalesce(1).mapInPandas(uf, schema="file_id long, cluster_id long")


def connected_components(edges: DataFrame,
                         local_max_edges: int | None = None) -> DataFrame:
    """edges(u,v) undirected -> membership(file_id, cluster_id).

    Every node that appears in an edge is assigned cluster_id =
    min(file_id) of its component.  Singletons (no edges) are absent —
    they are not duplicates of anything.

    ``local_max_edges`` (default LOCAL_MAX_EDGES): edge sets at or
    below this size run as a single-task union-find instead of the
    O(log n) star rounds — identical membership, ~10x less scheduling
    overhead for small graphs.  Pass 0 to force the distributed path."""
    e = (
        edges.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    cap = LOCAL_MAX_EDGES if local_max_edges is None else local_max_edges
    if cap:
        # lazy: the count is the action that materializes the blocks
        e = e.localCheckpoint(eager=False)
        if e.count() <= cap:
            return _components_local(e)
    prev = None
    for _ in range(MAX_ITERS):
        e = _small_star(_large_star(e).distinct()).distinct()
        e = e.localCheckpoint(eager=True)
        # decimal(38,0) sum: exact and overflow-proof under ANSI mode
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        cur = (sig["n"], sig["h"])
        if cur == prev:
            break
        prev = cur
    roots = e.select(F.col("v").alias("u"), F.col("v")).distinct()
    return (
        e.unionByName(roots)
        .distinct()
        .select(F.col("u").alias("file_id"), F.col("v").alias("cluster_id"))
    )
