"""The full-scale ANN forms (cell-cogrouped IVF search, cell-local
SemDeDup gram, argmin assignment) must agree with the oracle-gated
relational forms on the sf tables — the scale path and the correctness
path are the same algorithm, different physical plan."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def assigned(spark, emb):
    from codedup.ann import golden_centroids, probe_cells

    return probe_cells(emb, golden_centroids(), 1).localCheckpoint(eager=True)


def test_argmin_assignment_matches_ranked_cells(spark, emb, assigned):
    """probe_cells(nprobe=1) (the one-pass argmin job) and _ranked_cells
    rank-1 (the windowed relational twin the oracle uses) assign every
    vector to the same cell."""
    from codedup.ann import _ranked_cells, golden_centroids
    from pyspark.sql import functions as F

    rel = (
        _ranked_cells(emb, golden_centroids(), "vec_id", "embedding")
        .filter(F.col("rn") == 1).select("vec_id", "cell")
    )
    a = {r.vec_id: r.cell for r in assigned.select("vec_id", "cell").collect()}
    b = {r.vec_id: r.cell for r in rel.collect()}
    assert a == b


def test_ivf_blocks_equals_expression_form(spark, emb, assigned):
    from codedup.ann import golden_centroids, ivf_topk, ivf_topk_blocks
    from pyspark.sql import functions as F

    cent = golden_centroids()
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    want = ivf_topk(assigned, cent, probes, k=5, nprobe=6).toPandas()
    got = ivf_topk_blocks(assigned, cent, probes, k=5, nprobe=6).toPandas()
    key = lambda df: sorted(map(tuple, df[["query_id", "neighbor_id", "rank"]].values))
    assert key(got) == key(want)


def test_semantic_dedup_cells_equals_relational(spark, assigned):
    """The per-cell gram kernel equals the oracle's relational form:
    DuckDB running SQL_SEMANTIC_DEDUP (within-cell pair join) over the
    same embeddings."""
    import duckdb

    from codedup.ann import semantic_dedup_cells
    from codedup.queries import SQL_SEMANTIC_DEDUP

    got = semantic_dedup_cells(assigned, 0.45).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF}/embeddings.parquet')")
    want = con.execute(SQL_SEMANTIC_DEDUP).fetchdf()
    g = sorted(map(tuple, got[["vec_id", "cell", "kept"]].values))
    w = sorted(map(tuple, want[["vec_id", "cell", "kept"]].values))
    assert g == w


def test_embedding_fixture_deterministic_and_planted():
    from codedup.fixtures import generate_embeddings
    import numpy as np

    t1 = generate_embeddings(2000, seed=7)
    t2 = generate_embeddings(2000, seed=7)
    assert np.array_equal(np.stack(t1["embeddings"].embedding.to_numpy()),
                          np.stack(t2["embeddings"].embedding.to_numpy()))
    truth = t1["truth_dups"]
    assert len(truth) == 100   # dup_frac 0.05
    emb = np.stack(t1["embeddings"].embedding.to_numpy()).astype(np.float64)
    n = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    cos = (n[truth.a.to_numpy()] * n[truth.b.to_numpy()]).sum(axis=1)
    assert cos.min() > 0.99    # planted dups really are near-dups


def test_multiprobe_semantic_dedup_superset_and_boundary_recovery(spark):
    """Multi-probe SemDeDup (nprobe=2) drops a SUPERSET of the
    single-cell drops (same rule, more shared cells), and recovers a
    constructed near-dup pair that single-cell assignment splits
    across a Voronoi boundary."""
    import numpy as np
    import pandas as pd
    from codedup.ann import (probe_cells, semantic_dedup_cells,
                             semantic_dedup_multiprobe)

    # two centroids on the x axis; a near-dup pair straddling the
    # y-axis boundary between them, plus filler vectors deep in
    # each cell
    dim = 4
    cents = [[-2.0, 0, 0, 0], [2.0, 0, 0, 0]]
    rows = [
        (0, [-0.05, 1.0, 0.0, 0.0]),   # boundary pair, cell 0 side
        (1, [0.05, 1.0, 0.0, 0.0]),    # boundary pair, cell 1 side (cos~0.995)
        (2, [-3.0, 0.2, 0.0, 0.0]),    # deep in cell 0
        (3, [3.0, -0.2, 0.0, 0.0]),    # deep in cell 1
    ]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [np.asarray(r[1], dtype=np.float32) for r in rows]}))
    single = semantic_dedup_cells(probe_cells(emb, cents, 1), 0.98).toPandas()
    multi = semantic_dedup_multiprobe(emb, cents, 0.98, nprobe=2).toPandas()
    s_drop = set(single[single.kept == 0].vec_id)
    m_drop = set(multi[multi.kept == 0].vec_id)
    assert s_drop == set()          # boundary pair split across cells: missed
    assert m_drop == {1}            # multi-probe shares a cell: caught
    assert s_drop <= m_drop
    # primary cell reported is the nearest cell either way
    assert dict(zip(multi.vec_id, multi.cell)) == dict(zip(single.vec_id, single.cell))


def test_ivf_blocks_tie_at_kth_keeps_lowest_ids(spark):
    """ADVICE r4: when >k members of a cell tie at the k-th similarity
    (exact-duplicate vectors), the cell-local top-k must keep the
    LOWEST neighbor ids — the order the global window and the DuckDB
    oracle rank by — not an arbitrary argpartition selection."""
    import numpy as np
    import pandas as pd
    from codedup.ann import ivf_topk_blocks, probe_cells

    cents = [[0.0, 0.0], [10.0, 10.0]]
    dup = np.asarray([1.0, 0.0], dtype=np.float32)
    rows = [(0, np.asarray([0.8, 0.6], dtype=np.float32))]  # the probe
    rows += [(i, dup.copy()) for i in range(1, 9)]          # 8 exact dups
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]}))
    assigned = probe_cells(emb, cents, 1)
    probes = emb.filter("vec_id = 0")
    got = ivf_topk_blocks(assigned, cents, probes, k=3, nprobe=1).toPandas()
    got = got.sort_values("rank")
    # all 8 neighbors tie at cos(probe, dup): survivors are ids 1,2,3
    assert list(got.neighbor_id) == [1, 2, 3]
    assert list(got["rank"]) == [1, 2, 3]


def test_probe_cells_rounded_tie_resolves_to_lowest_cell(spark):
    """ADVICE r4: cell assignment ranks by (round(dist, 6), cell id)
    like the relational twin/oracle — a vector equidistant from two
    centroids must land in the LOWER cell id, and the nprobe=2 probe
    order must also put the lower cell first."""
    import numpy as np
    import pandas as pd
    from codedup.ann import _ranked_cells, probe_cells
    from pyspark.sql import functions as F

    # exact tie: the midpoint of two centroids (dists identical even
    # in floating point), plus a <5e-7 perturbation case that rounds
    # equal at 6 decimals but whose true argmin is the HIGHER cell
    cents = [[-1.0, 0.0], [1.0, 0.0]]
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": [0, 1],
        "embedding": [np.asarray([0.0, 5.0], dtype=np.float32),
                      np.asarray([1e-8, 5.0], dtype=np.float32)],
    }))
    got = {r.vec_id: r.cell for r in probe_cells(emb, cents, 1).collect()}
    rel = {r.vec_id: r.cell for r in
           _ranked_cells(emb, cents, "vec_id", "embedding")
           .filter(F.col("rn") == 1).select("vec_id", "cell").collect()}
    assert got == rel == {0: 0, 1: 0}
    # probe order for nprobe=2: lower cell id first on the tie
    multi = probe_cells(emb, cents, 2).toPandas()
    assert list(multi[multi.vec_id == 0].cell) == [0, 1]


def test_semantic_dedup_custom_id_col(spark):
    """ADVICE r4: both SemDeDup forms honor a non-default id_col in
    their output schema and join keys."""
    import numpy as np
    import pandas as pd
    from codedup.ann import (probe_cells, semantic_dedup_cells,
                             semantic_dedup_multiprobe)

    cents = [[-2.0, 0.0], [2.0, 0.0]]
    emb = spark.createDataFrame(pd.DataFrame({
        "file_id": [10, 11, 12],
        "embedding": [np.asarray(v, dtype=np.float32)
                      for v in ([-2.0, 0.1], [-2.0, 0.1], [2.0, -0.3])],
    }))
    cells = semantic_dedup_cells(
        probe_cells(emb, cents, 1, id_col="file_id"), 0.99,
        id_col="file_id").toPandas()
    multi = semantic_dedup_multiprobe(
        emb, cents, 0.99, nprobe=2, id_col="file_id").toPandas()
    for out in (cells, multi):
        assert set(out.columns) == {"file_id", "cell", "kept"}
        assert dict(zip(out.file_id, out.kept)) == {10: 1, 11: 0, 12: 1}
