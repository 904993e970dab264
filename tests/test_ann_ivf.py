"""IVF ANN: recall@k vs the exact brute-force top-k, plan pruning, and
index determinism.  IVF recall is probabilistic by design (cell
boundaries), hence a recall gate rather than a value-exact oracle."""

import pytest
from pyspark.sql import functions as F

from codedup.ann import build_ivf, ivf_topk, probe_cells

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ivf(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned, centroids = build_ivf(emb, n_cells=16, seed=42)
    return {"emb": emb, "assigned": assigned.localCheckpoint(eager=True),
            "centroids": centroids}


def test_ivf_recall_vs_brute_force(spark, ivf):
    from codedup.queries import q_ann_topk_cosine

    probes = ivf["emb"].filter(F.col("vec_id") % 50 == 0)
    got = ivf_topk(ivf["assigned"], ivf["centroids"], probes, k=5, nprobe=6)
    got_pairs = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    want_pairs = {(r["query_id"], r["neighbor_id"])
                  for r in q_ann_topk_cosine(spark, SF).collect()}
    recall = len(got_pairs & want_pairs) / len(want_pairs)
    assert recall >= 0.8, f"IVF recall@5 {recall:.3f} (nprobe=6/16)"
    # every probe still answers k rows (cells are never empty enough to starve)
    n_probes = probes.count()
    assert got.count() == 5 * n_probes


def test_ivf_actually_prunes(spark, ivf):
    """Candidate count per probe ~ n * nprobe / n_cells, not n — the
    pruning claim, measured (not just asserted on the plan)."""
    probes = ivf["emb"].filter(F.col("vec_id") % 50 == 0)
    px = probe_cells(probes, ivf["centroids"], nprobe=4)
    cand_per_probe = (
        px.join(ivf["assigned"].select("vec_id", "cell"), "cell")
        .groupBy(px["vec_id"]).count().agg(F.avg("count")).first()[0]
    )
    n = ivf["emb"].count()
    assert cand_per_probe < 0.6 * n, f"avg candidates {cand_per_probe} of {n}"


def test_ivf_plans_hash_join(spark, ivf):
    probes = ivf["emb"].filter(F.col("vec_id") % 50 == 0)
    df = ivf_topk(ivf["assigned"], ivf["centroids"], probes, k=5, nprobe=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in
               ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))


def test_golden_centroids_reproduce(ivf):
    """The committed quantizer golden (codedup/golden/ivf_centroids
    .json) must be exactly what KMeans(seed=42, k=16) trains at sf0.01
    — ties the offline training half to the oracle-checked search half
    (tools/make_ivf_centroids.py regenerates on intended change)."""
    from codedup.ann import golden_centroids

    trained = [[round(float(x), 6) for x in c] for c in ivf["centroids"]]
    assert trained == golden_centroids()


def test_relational_ivf_recall_vs_brute_force(spark, ivf):
    """The oracle-checked catalog query ann_ivf_topk (pinned centroids,
    probe_cells assignment, cell-cogrouped ivf_topk_blocks search) must
    keep the same recall gate as the KMeans-trained path."""
    from codedup.config import AnnParams
    from codedup.queries import q_ann_ivf_topk, q_ann_topk_cosine

    got = q_ann_ivf_topk(spark, SF, AnnParams(ivf_nprobe=6))
    got_pairs = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    want_pairs = {(r["query_id"], r["neighbor_id"])
                  for r in q_ann_topk_cosine(spark, SF).collect()}
    recall = len(got_pairs & want_pairs) / len(want_pairs)
    assert recall >= 0.8, f"catalog IVF recall@5 {recall:.3f}"


def test_ivf_index_deterministic(spark, ivf):
    emb = ivf["emb"]
    a2, c2 = build_ivf(emb, n_cells=16, seed=42)
    assert c2 == ivf["centroids"]
    left = ivf["assigned"].select("vec_id", "cell")
    right = a2.select(F.col("vec_id"), F.col("cell").alias("cell2"))
    diff = left.join(right, "vec_id").filter("cell != cell2").count()
    assert diff == 0
