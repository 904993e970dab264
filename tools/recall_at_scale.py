"""Recall/precision vs constructed truth at bench scale.

Usage: python tools/recall_at_scale.py <corpus_dir> [work_dir] [cores]
           [--margin M] [--lcs-cap N] [--no-lcs] [--pairs]
           [--shuffle N] [--driver-mem G]

--shuffle (default 128) sizes the session's shuffle partitions to the
tier; --driver-mem (default 8g) raises the local-mode heap for tiers
past ~4M files (the 768-dim ANN tier taught that 8g dies on wide
concurrent parquet decodes — same lesson applies as file count grows).

--margin / --lcs-cap override DedupConfig.minhash_prefilter_margin and
.lcs_max_chars — the two verify-stage budget knobs (VERDICT r3 #1:
verify is ~70% of large-tier wall; tools/sweep_verify.py drives this
script across a margin x cap grid and reports verify wall vs recall).

corpus_dir must contain files.parquet + truth_clusters.parquet (written
by codedup.fixtures.write_corpus).  Runs the pipeline, resuming from
work_dir if given (else fresh, in a temporary directory removed at
exit), then scores the clustering against truth:

    truth co-membership: keys sharing a truth_cluster_id
    pred  co-membership: truth keys sharing a predicted cluster_id
    recall    = |pred ∩ truth| / |truth|
    precision = |pred ∩ truth| / |pred restricted to truth keys|

The DEFAULT accounting is COUNTING-BASED and EXACT (VERDICT r4 #1): a
pair is in both sets iff its two keys share a (truth_cluster,
pred_cluster) contingency cell, so

    |pred ∩ truth| = sum over cells (t, c) of C(n_tc, 2)
    |truth|        = sum over truth clusters  of C(n_t, 2)
    |pred|_truthk  = sum over pred clusters   of C(m_c, 2)

— one key-equi-join + two groupBy counts, O(files) shuffle rows.  The
previous pair-materializing self-joins (O(sum n^2) rows — 314M at the
1.78M tier, >600M at 3.55M) ran the sandbox out of shuffle disk at the
3.55M tier; the counting form needs no pair rows at all, so it is the
form a 10^12-file validation job would run.  ``--pairs`` keeps the old
pair-join accounting for cross-checking (tests assert the two agree).

Prints one JSON line with stage walls from the run's manifests.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def co_pairs(df, key_col: str, cid_col: str):
    """Co-membership pairs with keys HASHED to longs (xxhash64): at the
    888k tier the pair sets are ~79M rows — 16-byte long pairs stay
    memory-resident where 50-byte string keys would not."""
    from pyspark.sql import functions as F

    h = df.select(F.xxhash64(F.col(key_col)).alias("k"), F.col(cid_col).alias("c"))
    a = h.select(F.col("k").alias("ka"), "c")
    b = h.select(F.col("k").alias("kb"), "c")
    return a.join(b, "c").filter(F.col("ka") < F.col("kb")).select("ka", "kb")


def _choose2_sum(df, *group_cols):
    """sum over groups of C(n, 2) — the number of unordered
    co-membership pairs, without materializing any.  Counts are bigint;
    the sum is bounded by C(n_files, 2) < 2^63 for any corpus that fits
    a filesystem, so plain bigint arithmetic is safe under ANSI."""
    from pyspark.sql import functions as F

    per = df.groupBy(*group_cols).agg(F.count("*").alias("n"))
    row = per.select(
        F.sum(F.expr("n * (n - 1) DIV 2")).cast("long").alias("p")
    ).collect()[0]
    return row.p or 0


def score_counting(truth, members):
    """(n_truth, n_pred, n_inter) via the contingency-count identity —
    exact, O(files) shuffle rows, zero pair rows (see module doc)."""
    from pyspark.sql import functions as F

    # one equi-join on key: every truth key with its predicted cluster
    joined = truth.select("key", "truth_cluster_id").join(
        members.select("key", "cluster_id"), "key").localCheckpoint(eager=True)
    n_truth = _choose2_sum(truth, "truth_cluster_id")
    n_pred = _choose2_sum(joined, "cluster_id")
    n_inter = _choose2_sum(joined, "truth_cluster_id", "cluster_id")
    return n_truth, n_pred, n_inter


def score_pairs(truth, members):
    """(n_truth, n_pred, n_inter) via materialized pair self-joins —
    the legacy cross-check path (O(sum n^2) shuffle rows)."""
    truth_cc = co_pairs(truth, "key", "truth_cluster_id").localCheckpoint(eager=True)
    members_t = members.join(truth.select("key"), "key", "left_semi")
    pred = co_pairs(members_t, "key", "cluster_id").localCheckpoint(eager=True)
    n_truth = truth_cc.count()
    n_pred = pred.count()
    n_inter = pred.join(truth_cc, ["ka", "kb"], "left_semi").count()
    return n_truth, n_pred, n_inter


def main() -> int:
    argv = list(sys.argv[1:])
    kw = {}
    if "--margin" in argv:
        i = argv.index("--margin")
        kw["minhash_prefilter_margin"] = float(argv[i + 1])
        del argv[i:i + 2]
    if "--lcs-cap" in argv:
        i = argv.index("--lcs-cap")
        kw["lcs_max_chars"] = int(argv[i + 1])
        del argv[i:i + 2]
    if "--no-lcs" in argv:
        kw["lcs_signal"] = False
        argv.remove("--no-lcs")
    use_pairs = "--pairs" in argv
    if use_pairs:
        argv.remove("--pairs")
    shuffle = 128
    if "--shuffle" in argv:
        i = argv.index("--shuffle")
        shuffle = int(argv[i + 1])
        del argv[i:i + 2]
    driver_mem = "8g"
    if "--driver-mem" in argv:
        i = argv.index("--driver-mem")
        driver_mem = argv[i + 1]
        del argv[i:i + 2]
    corpus = argv[0]
    work = argv[1] if len(argv) > 1 else None
    cores = argv[2] if len(argv) > 2 else "32"

    from codedup import pipeline
    from codedup.config import DedupConfig
    from codedup.session import build_session

    cfg = DedupConfig(**kw)
    spark = build_session(f"local[{cores}]", app_name="recall-at-scale",
                          shuffle_partitions=shuffle,
                          extra={"spark.driver.memory": driver_mem})
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.read.parquet(f"{corpus}/files.parquet").count()

    with contextlib.nullcontext(work) if work else tempfile.TemporaryDirectory() as run_dir:
        t0 = time.time()
        res = pipeline.run(spark, [f"{corpus}/files.parquet"], cfg,
                           work_dir=run_dir, run_id="recall", resume=bool(work))
        wall = time.time() - t0

        truth = spark.read.parquet(f"{corpus}/truth_clusters.parquet")
        t_score = time.time()
        score = score_pairs if use_pairs else score_counting
        n_truth, n_pred, n_inter = score(truth, res.members)
        score_wall = time.time() - t_score

        stages = {}
        for m in glob.glob(os.path.join(run_dir, "runs", "recall", "*.manifest.json")):
            with open(m) as f:
                d = json.load(f)
            stages[d["stage"]] = round(d["wall_ms"] / 1000, 1)

    print(json.dumps({
        "files": n,
        "margin": cfg.minhash_prefilter_margin,
        "lcs_cap": cfg.lcs_max_chars,
        "lcs_signal": cfg.lcs_signal,
        "wall_s": round(wall, 1),
        "files_per_sec": round(n / wall, 1),
        "accounting": "pairs" if use_pairs else "counting",
        "score_wall_s": round(score_wall, 1),
        "truth_pairs": n_truth,
        "pred_pairs": n_pred,
        "inter_pairs": n_inter,
        "recall": round(n_inter / n_truth, 9) if n_truth else 1.0,
        "precision": round(n_inter / n_pred, 9) if n_pred else 1.0,
        "stages": stages,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
