"""DSIR importance sampling at the 10^6-file tier: score a full
source-code corpus against a small curated target sample through the
same ``dsir_scores`` core the catalog query uses (codedup/queries.py),
and check that the selection actually concentrates the target domain.

Setup mirrors the published use (Xie et al. 2023, arXiv:2302.03169):
the target sample is the python files of ~1/32 of repos (a few
thousand docs — "curated set"), the raw pool is every other file in
the corpus.  Selection quality = fraction of HELD-OUT python files
(same language, repos the model never saw) inside the top-10%
selection, against their base rate in the pool — DSIR should
concentrate them several-fold if the hashed-ngram model carries the
domain signal.

Prints one JSON line; results go to the data-selection section of
BENCH/BASELINE.md.

Usage: python tools/dsir_at_scale.py [corpus_dir] [cores] [shuffle] [mem]
       (default /tmp/codedup_bench_1000000, 32 cores, shuffle 128,
       mem 32g — use 48g at >= 3.5M files, same heap rule as
       tools/recall_at_scale.py)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

TARGET_REPO_MOD = 32          # repos with xxhash64(repo) % 32 == 0 donate
TOP_FRAC = 0.10               # selection budget


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/codedup_bench_1000000"
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    shuffle = int(sys.argv[3]) if len(sys.argv) > 3 else 128
    mem = sys.argv[4] if len(sys.argv) > 4 else "32g"

    from pyspark.sql import functions as F

    from codedup.queries import dsir_mix_hash, dsir_scores
    from codedup.session import build_session

    spark = build_session(
        f"local[{cores}]", app_name="dsir-at-scale",
        shuffle_partitions=shuffle,
        extra={
            "spark.driver.memory": mem,
            # keep the protected storage fraction low so execution can
            # evict cached blocks instead of starving the aggregates
            # (UNABLE_TO_ACQUIRE_MEMORY at the 7.1M tier otherwise)
            "spark.memory.storageFraction": "0.25",
        },
    )
    work = tempfile.mkdtemp(prefix="dsir_scale_", dir="/tmp")
    try:
        files = spark.read.parquet(os.path.join(corpus, "files.parquet"))
        docs = files.select(
            F.xxhash64("repo", "path", "commit").alias("doc_id"),
            F.col("lang"),
            F.col("content").alias("text"),
            (F.pmod(F.xxhash64("repo"), F.lit(TARGET_REPO_MOD)) == 0)
            .alias("tgt_repo"),
        )
        is_target = F.col("tgt_repo") & (F.col("lang") == "python")
        n_docs = docs.count()
        n_target = docs.filter(is_target).count()

        t0 = time.time()
        scored = dsir_scores(docs, is_target, feature_hash=dsir_mix_hash)
        out_path = os.path.join(work, "dsir_scores.parquet")
        scored.write.mode("overwrite").parquet(out_path)
        wall = time.time() - t0

        # selection quality over the written table (post-hoc, untimed)
        ranked = spark.read.parquet(out_path)
        n_raw = ranked.count()
        k = int(n_raw * TOP_FRAC)
        meta = docs.select("doc_id", "lang", "tgt_repo")
        sel = ranked.filter(F.col("sel_rank") <= k).join(meta, "doc_id")
        held_out_sel = sel.filter(
            (F.col("lang") == "python") & ~F.col("tgt_repo")).count()
        pool = ranked.join(meta, "doc_id")
        held_out_pool = pool.filter(
            (F.col("lang") == "python") & ~F.col("tgt_repo")).count()
        top_frac = held_out_sel / max(k, 1)
        base_frac = held_out_pool / max(n_raw, 1)

        print(json.dumps({
            "tier": "dsir",
            "corpus": corpus,
            "n_docs": n_docs,
            "n_target": n_target,
            "n_raw": n_raw,
            "wall_s": round(wall, 1),
            "docs_per_s": round(n_raw / wall, 0),
            "top_frac_python_heldout": round(top_frac, 4),
            "base_frac_python_heldout": round(base_frac, 4),
            "lift": round(top_frac / max(base_frac, 1e-9), 2),
            "cores": cores,
            "shuffle": shuffle,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
