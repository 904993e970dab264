"""Streaming == batch at a real tier (VERDICT r3 #4).

The reference's core promise is incremental resume (cache.py:20-26);
the streaming twin (IncrementalDedup) had replay/crash/compaction tests
only at toy scale.  This runs the 355k-file bench corpus through
IncrementalDedup in ~N_BATCHES ordered drops, then asserts the
cumulative verified pair set equals the BATCH pipeline's pair set
byte-for-byte at the content level (streaming elects first-seen
representatives, batch elects min-file_id — sha256 pairs are the
invariant), and reports per-batch wall + state size so compaction's
growth bound is visible.

Prints one JSON line; feeds the streaming section of BENCH/BASELINE.md.

Usage: python tools/streaming_at_scale.py <corpus_dir> [n_batches]
       [cores] [--work DIR] [--stream-shuffle N] [--driver-mem G]
       (pass --driver-mem 32g at the 3.55M tier — 8 g OOMs ~batch 12)

--stream-shuffle sizes the STREAMING side's shuffle width to the
per-batch data volume (measured at 355k/20: width 128 -> 24 s/batch,
64 -> 19 s, 32 -> 14-18 s steady state; the batch leg keeps 128).  At
10^12 scale the same rule applies per executor-count: width follows
the micro-batch, not the corpus.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def dir_size(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def main() -> int:
    argv = list(sys.argv[1:])
    work_root = None
    if "--work" in argv:
        i = argv.index("--work")
        work_root = argv[i + 1]
        del argv[i:i + 2]
    stream_shuffle = 128
    if "--stream-shuffle" in argv:
        i = argv.index("--stream-shuffle")
        stream_shuffle = int(argv[i + 1])
        del argv[i:i + 2]
    # heap rule: 8 g (default) holds through 1.78M/20 batches; the
    # 3.55M tier OOMs at ~batch 12 (accumulated foreachBatch state +
    # compaction inputs) — pass 32g there
    driver_mem = None
    if "--driver-mem" in argv:
        i = argv.index("--driver-mem")
        driver_mem = argv[i + 1]
        del argv[i:i + 2]
    corpus = argv[0]
    n_batches = int(argv[1]) if len(argv) > 1 else 20
    cores = argv[2] if len(argv) > 2 else "32"

    from pyspark.sql import functions as F

    from codedup import pipeline
    from codedup.config import DedupConfig
    from codedup.session import build_session
    from codedup.streaming import IncrementalDedup

    cfg = DedupConfig()
    spark = build_session(f"local[{cores}]", app_name="streaming-at-scale",
                          shuffle_partitions=128,
                          extra={"spark.driver.memory": driver_mem}
                          if driver_mem else None)
    spark.sparkContext.setLogLevel("ERROR")

    tmp = work_root or tempfile.mkdtemp(prefix="stream_scale_")
    drops_dir = os.path.join(tmp, "drops")
    stream_work = os.path.join(tmp, "stream_work")
    batch_work = os.path.join(tmp, "batch_work")

    files = spark.read.parquet(f"{corpus}/files.parquet")
    n_files = files.count()

    # ordered drops: split by a deterministic hash so every batch mixes
    # repos (the arrival pattern a crawler produces)
    if not os.path.isdir(drops_dir):
        os.makedirs(drops_dir)
        bucket = (F.abs(F.xxhash64("repo", "path", "commit")) % n_batches)
        staged = files.withColumn("_b", bucket).localCheckpoint(eager=True)
        for b in range(n_batches):
            staged.filter(F.col("_b") == b).drop("_b").coalesce(4) \
                .write.mode("overwrite").parquet(os.path.join(drops_dir, f"d{b:03d}"))

    spark.conf.set("spark.sql.shuffle.partitions", str(stream_shuffle))
    inc = IncrementalDedup(spark, stream_work, cfg, compact_every=8)
    batch_walls, state_sizes = [], []
    t_stream0 = time.time()
    for b in range(n_batches):
        t0 = time.time()
        inc.process_batch(spark.read.parquet(os.path.join(drops_dir, f"d{b:03d}")), b)
        batch_walls.append(round(time.time() - t0, 1))
        state_sizes.append(dir_size(inc.root))
        print(f"# batch {b}: {batch_walls[-1]}s state={state_sizes[-1]/1e6:.0f}MB",
              file=sys.stderr, flush=True)
    stream_wall = time.time() - t_stream0

    # release the streaming batches' checkpoint blocks before the batch
    # leg (20+ batches of dead eager-checkpoint refs otherwise sit in
    # storage memory until the ContextCleaner happens to run — measured
    # GCLocker-starvation OOM in the comparison leg at 355k/20x128)
    import gc
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    spark.conf.set("spark.sql.shuffle.partitions", "128")

    # batch pipeline over the SAME corpus
    t0 = time.time()
    res = pipeline.run(spark, [f"{corpus}/files.parquet"], cfg,
                       work_dir=batch_work, run_id="b", resume=False)
    batch_wall = time.time() - t0

    # Compare CLUSTERS, not raw pair sets: the hot-bucket star policy
    # pairs a bucket member with the bucket MINIMUM AT ARRIVAL TIME, so
    # the streamed pair set legitimately differs from batch mode inside
    # star-affected buckets while the transitive closure is the same —
    # cluster assignment is the reference's contract (north_rule).
    # Clusters are compared as co-membership pair sets over content
    # sha256 (key-level ids differ only by exact-dup representative
    # election), entirely in Spark.
    from codedup.stages.cluster import connected_components
    from codedup.stages.fingerprint import fingerprint

    stream_fp = fingerprint(files).localCheckpoint(eager=True)
    stream_edges = (
        inc.pairs().filter(F.col("kind") != "fault")
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
    )
    stream_cc = connected_components(stream_edges).localCheckpoint(eager=True)

    # COUNTING-based co-membership compare (same identity as
    # tools/recall_at_scale.py): |pairs| = sum C(n,2) over cluster
    # (or contingency-cell) sha counts — O(files) shuffle rows instead
    # of materializing tens of millions of pair rows (the old pair-join
    # form OOMed the 8g driver at the 888k tier).  Each side's total is
    # counted over its OWN membership (not the joined table), so a sha
    # clustered by only one side still contributes its pairs.
    def sha_members(members_df, fp_df, cid_col, out):
        sh = fp_df.select("file_id", "sha256")
        return (members_df.join(sh, "file_id")
                .select("sha256", F.col(cid_col).alias(out)).distinct())

    def c2(df, *cols):
        per = df.groupBy(*cols).agg(F.count("*").alias("n"))
        return (per.select(F.sum(F.expr("n * (n - 1) DIV 2"))
                           .cast("long").alias("p")).collect()[0].p or 0)

    sm = sha_members(stream_cc, stream_fp, "cluster_id", "cs") \
        .localCheckpoint(eager=True)
    bm = sha_members(res.clusters, res.fingerprints, "cluster_id", "cb") \
        .localCheckpoint(eager=True)
    joined = sm.join(bm, "sha256").localCheckpoint(eager=True)
    n_got, n_want = c2(sm, "cs"), c2(bm, "cb")
    n_inter = c2(joined, "cs", "cb")
    equal = n_got == n_want == n_inter

    print(json.dumps({
        "files": n_files,
        "n_batches": n_batches,
        "stream_shuffle": stream_shuffle,
        "stream_wall_s": round(stream_wall, 1),
        "batch_wall_s": round(batch_wall, 1),
        "stream_files_per_sec": round(n_files / stream_wall, 1),
        "batch_files_per_sec": round(n_files / batch_wall, 1),
        "pairs_stream": n_got, "pairs_batch": n_want,
        "pair_sets_equal": equal,
        "batch_walls_s": batch_walls,
        "state_mb": [round(s / 1e6, 1) for s in state_sizes],
        "work_dir": tmp,
    }))
    if not work_root:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return 0 if equal else 1


if __name__ == "__main__":
    raise SystemExit(main())
