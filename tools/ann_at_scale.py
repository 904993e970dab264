"""ANN/SemDeDup at the 10^6-vector tier (VERDICT r3 missing #1: the
embedding operators' scale rules were asserted, never demonstrated).

Pipeline measured, in the exact shapes DESIGN_AT_SCALE.md claims:

  1. train    KMeans coarse quantizer on a 100k SAMPLE (cells ~ sqrt(n),
              per the ann.IVF_N_CELLS rule) — offline-quantizer shape;
  2. assign   full table in ONE Arrow argmin pass (probe_cells nprobe=1
              — the path VERDICT r3 #4 mandated for the full-table job,
              NOT the windowed _ranked_cells form);
  3. search   1,000 probes, nprobe cells each, via the cell-cogrouped
              block-matmul form (ivf_topk_blocks); recall@10 vs exact
              brute-force truth computed independently in numpy;
  4. dedup    SemDeDup over the same assignment (semantic_dedup_cells);
              drop-rate checked against the PLANTED near-dup truth.

Prints one JSON line; results go to the embedding-tier section of
BENCH/BASELINE.md.

Usage: python tools/ann_at_scale.py [n] [dir] [cores] [dim]
       (default n=1_000_000, dir=/tmp/codedup_emb_1m, dim=64; the
       768-dim tier models CLIP/sentence-transformer width — VERDICT
       r4 #3)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SEM_TAU = 0.99   # planted dups are cos >= 0.99; cluster siblings ~0.94


def brute_truth(emb_path: str, probe_mod: int, k: int):
    """Exact top-k per probe, blocked numpy over the parquet bytes —
    independent of every Spark code path under test."""
    import numpy as np
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(emb_path)
    ids_all, vecs = [], []
    for batch in pf.iter_batches(batch_size=200_000, columns=["vec_id", "embedding"]):
        ids_all.append(batch.column("vec_id").to_numpy())
        vecs.append(np.stack(batch.column("embedding").to_pylist()).astype(np.float32))
    ids = np.concatenate(ids_all)
    V = np.concatenate(vecs)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    pm = ids % probe_mod == 0
    Q, qids = Vn[pm], ids[pm]
    truth = {}
    # blocked over the corpus side; merge running top-k
    best_sim = np.full((len(Q), k), -np.inf, dtype=np.float32)
    best_id = np.full((len(Q), k), -1, dtype=np.int64)
    for lo in range(0, len(Vn), 200_000):
        S = Q @ Vn[lo:lo + 200_000].T
        bid = ids[lo:lo + 200_000]
        S[qids[:, None] == bid[None, :]] = -np.inf          # self
        kk = min(k, S.shape[1])
        idx = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
        rows = np.repeat(np.arange(len(Q)), kk)
        cand_sim = np.concatenate([best_sim, S[rows, idx.reshape(-1)].reshape(len(Q), kk)], axis=1)
        cand_id = np.concatenate([best_id, bid[idx]], axis=1)
        pick = np.argsort(-cand_sim, axis=1, kind="stable")[:, :k]
        best_sim = np.take_along_axis(cand_sim, pick, axis=1)
        best_id = np.take_along_axis(cand_id, pick, axis=1)
    for i, q in enumerate(qids):
        truth[int(q)] = set(int(x) for x in best_id[i] if x >= 0)
    return truth


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/codedup_emb_1m"
    cores = sys.argv[3] if len(sys.argv) > 3 else "32"
    dim = int(sys.argv[4]) if len(sys.argv) > 4 else 64
    probe_mod, k, nprobe = max(n // 1000, 1), 10, 10
    n_cells = max(int(math.sqrt(n)), 4)

    from codedup.fixtures import write_embeddings
    from codedup.session import build_session

    emb_path = os.path.join(out_dir, "embeddings.parquet")
    if not os.path.exists(emb_path):
        print(f"# generating {n} x {dim} embeddings ...", file=sys.stderr, flush=True)
        t0 = time.time()
        write_embeddings(out_dir, n, dim=dim)
        print(f"# generated in {time.time() - t0:.1f}s", file=sys.stderr, flush=True)

    # 768-dim x 1M = ~3 GB of raw vectors resident through assignment/
    # SemDeDup + 32 concurrent parquet list-column decoders: the 8g
    # default heap OOMs (measured) — size the single-JVM heap like the
    # sum of executors it stands in for
    spark = build_session(f"local[{cores}]", app_name="ann-at-scale",
                          shuffle_partitions=max(int(cores), 8),
                          extra={"spark.driver.memory": "48g"})
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    from codedup.ann import build_ivf, ivf_topk_blocks, probe_cells, semantic_dedup_cells

    emb = spark.read.parquet(emb_path)

    # 1. train on a sample (quantizers are robust to sampling)
    t0 = time.time()
    sample = emb.sample(fraction=min(100_000 / n, 1.0), seed=42)
    _, centroids = build_ivf(sample, n_cells=n_cells, seed=42)
    train_s = time.time() - t0

    # 2. assign the FULL table through the one-pass argmin path
    t0 = time.time()
    assigned = probe_cells(emb, centroids, 1).localCheckpoint(eager=True)
    n_assigned = assigned.count()
    assign_s = time.time() - t0
    cell_sizes = assigned.groupBy("cell").count()
    stats = cell_sizes.agg(
        F.count("*").alias("cells"), F.max("count").alias("max_cell"),
        F.expr("percentile(count, 0.5)").alias("med_cell")).collect()[0]

    # 3. IVF search: 1,000 probes, nprobe cells, cell-cogrouped gemm
    probes = emb.filter(F.col("vec_id") % probe_mod == 0)
    t0 = time.time()
    got = ivf_topk_blocks(assigned, centroids, probes, k=k, nprobe=nprobe).collect()
    search_s = time.time() - t0
    by_q: dict[int, set] = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)

    # pruning factor: candidates actually scored / full scan
    px = probe_cells(probes, centroids, nprobe).select("vec_id", "cell")
    n_cand = px.join(cell_sizes, "cell").agg(F.sum("count")).collect()[0][0]
    n_probes = probes.count()
    scan_frac = n_cand / (n_probes * n)

    # per-cell peak memory of the cogroup gemm (VERDICT r4 #3: state
    # the memory math, don't imply it): the largest single task holds
    # members (m x d f64) + probes (p x d f64) + the sim block (p x m
    # f64); every cell's bound is computable from the assignment stats
    probe_per_cell = px.groupBy("cell").agg(F.count("*").alias("np_"))
    peak = (cell_sizes.join(probe_per_cell, "cell")
            .select(((F.col("count") * dim * 8) + (F.col("np_") * dim * 8)
                     + (F.col("np_") * F.col("count") * 8)).alias("bytes"))
            .agg(F.max("bytes")).collect()[0][0]) or 0

    # recall@10 vs independent numpy truth
    print("# computing brute-force truth ...", file=sys.stderr, flush=True)
    t0 = time.time()
    truth = brute_truth(emb_path, probe_mod, k)
    truth_s = time.time() - t0
    hits = sum(len(by_q.get(q, set()) & t) for q, t in truth.items())
    total = sum(len(t) for t in truth.values())
    recall = hits / total if total else 1.0
    print(f"# recall@{k} = {recall:.4f} (search {search_s:.1f}s, "
          f"scan_frac {scan_frac:.5f})", file=sys.stderr, flush=True)

    # 4. SemDeDup over the same assignment; drop-rate vs planted truth
    t0 = time.time()
    sem = semantic_dedup_cells(assigned, SEM_TAU).localCheckpoint(eager=True)
    n_dropped = sem.filter("kept = 0").count()
    sem_s = time.time() - t0
    truth_dups = spark.read.parquet(os.path.join(out_dir, "truth_dups.parquet"))
    # a planted pair is catchable iff both sides landed in one cell
    ac = assigned.select(F.col("vec_id").alias("a"), F.col("cell").alias("ca"))
    bc = assigned.select(F.col("vec_id").alias("b"), F.col("cell").alias("cb"))
    tp = truth_dups.join(ac, "a").join(bc, "b").localCheckpoint(eager=True)
    n_truth = tp.count()
    n_colocated = tp.filter("ca = cb").count()
    dropped_ids = sem.filter("kept = 0").select("vec_id")
    n_caught = (tp.filter("ca = cb").join(
        dropped_ids.withColumnRenamed("vec_id", "b"), "b", "left_semi").count())

    # multi-probe SemDeDup: recover the planted pairs that straddle a
    # cell boundary (the single-cell miss mode)
    from codedup.ann import semantic_dedup_multiprobe

    t0 = time.time()
    sem2 = semantic_dedup_multiprobe(emb, centroids, SEM_TAU, nprobe=2) \
        .localCheckpoint(eager=True)
    n_dropped2 = sem2.filter("kept = 0").count()
    sem2_s = time.time() - t0
    dropped2 = sem2.filter("kept = 0").select("vec_id")
    n_caught2 = (truth_dups.join(
        dropped2.withColumnRenamed("vec_id", "b"), "b", "left_semi").count())

    print(json.dumps({
        "n": n, "dim": dim, "n_cells": n_cells, "nprobe": nprobe, "k": k,
        "train_s": round(train_s, 1),
        "assign_s": round(assign_s, 1),
        "assigned_rows": n_assigned,
        "cells": stats.cells, "max_cell": stats.max_cell,
        "median_cell": float(stats.med_cell),
        "search_s": round(search_s, 1), "n_probes": n_probes,
        "scan_frac": round(scan_frac, 5),
        "peak_cogroup_task_mb": round(peak / 1e6, 1),
        "recall_at_10": round(recall, 4),
        "truth_numpy_s": round(truth_s, 1),
        "semdedup_s": round(sem_s, 1),
        "sem_tau": SEM_TAU,
        "n_dropped": n_dropped,
        "planted_pairs": n_truth,
        "planted_colocated": n_colocated,
        "planted_caught": n_caught,
        "planted_catch_rate": round(n_caught / n_colocated, 4) if n_colocated else 1.0,
        "multiprobe_s": round(sem2_s, 1),
        "multiprobe_dropped": n_dropped2,
        "multiprobe_caught": n_caught2,
        "multiprobe_catch_rate_all_planted":
            round(n_caught2 / n_truth, 4) if n_truth else 1.0,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
