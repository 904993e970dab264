"""Benchmark harness.

Default mode (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default 32) and print ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Scaling mode (--scaling): run the dedup pipeline on the same input at
1, 4, 8 and 32 cores (legs above the host's core count are skipped)
and report throughput + scaling efficiency
(BASELINE.md sandbox protocol for the N vs 4N executors criterion);
results are appended to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the FULL query catalog is timed (VERDICT r1 #8: partial coverage hid
# 5 queries from round-over-round comparison); resolved at run time so
# new catalog entries are benched automatically
def headline_names() -> list[str]:
    from codedup.queries import QUERIES

    return list(QUERIES)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_headline() -> None:
    from codedup.queries import QUERIES
    from codedup.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = build_session(f"local[{cpus}]", app_name="codedup-bench",
                          shuffle_partitions=max(int(cpus), 8))
    spark.sparkContext.setLogLevel("ERROR")

    # untimed warmup at the tiny tier (VERDICT r2 #1 'what's wrong'):
    # first-query numbers otherwise absorb one-time JVM codegen, Arrow
    # python-worker fork and BLAS thread-pool init, so whichever catalog
    # query runs first looks regressed round-over-round.  doc_fingerprint
    # warms scan+codegen; ann_topk_cosine warms the Arrow+numpy path.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        t0 = time.time()
        QUERIES["doc_fingerprint"](spark, warm_dir).count()
        QUERIES["ann_topk_cosine"](spark, warm_dir).count()
        print(f"# warmup (untimed): {time.time() - t0:.2f}s", file=sys.stderr)

    timings: dict[str, float] = {}
    total = 0.0
    for name in headline_names():
        fn = QUERIES[name]
        t0 = time.time()
        n = fn(spark, sf_dir).count()  # count() forces full execution
        dt = time.time() - t0
        timings[name] = round(dt, 3)
        total += dt
        print(f"# {name}: {dt:.2f}s rows={n}", file=sys.stderr)

    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
    }))
    spark.stop()


def run_scaling(n_files: int = 20000) -> None:
    """Same dedup job, same input, same config (incl. shuffle
    partitions) at up to four parallelism levels: 1, 4, 8, 32 cores,
    capped at the host's core count (an oversubscribed leg measures
    contention, not scaling).  Efficiency = (thr_4N / thr_N) / 4
    (BASELINE.md protocol), reported for two N->4N readings, each only
    when both of its legs ran:

      * 1 -> 4   (primary): cores AND memory bandwidth both scale —
        the faithful analog of adding executors on a real cluster,
        where each executor brings its own memory subsystem;
      * 8 -> 32  (reported): thread-scaling on one shared socket; the
        32-thread leg saturates this host's memory bandwidth AND runs
        32 JVM threads + 32 Python workers on 32 cores, so it measures
        machine contention on top of job scaling.

    Throughput is files/sec over the MinHash+LSH window (signatures ->
    banding -> candidates -> verify -> cluster, per BASELINE.json's
    'files/sec MinHash+LSH') from stage manifests; full-pipeline
    numbers are reported alongside.

    Each leg runs in its OWN subprocess: re-creating a SparkContext in
    one JVM/python process degrades later legs (stale executor threads,
    GC pressure) and corrupts the comparison."""
    import subprocess
    import tempfile

    from codedup.fixtures import write_corpus

    corpus_dir = os.path.join(tempfile.gettempdir(), f"codedup_bench_{n_files}")
    if not os.path.exists(os.path.join(corpus_dir, "files.parquet")):
        print(f"# generating bench corpus n_base={n_files} ...", file=sys.stderr)
        write_corpus(corpus_dir, "bench", n_base=n_files)

    results = {}
    for cores in [c for c in (1, 4, 8, 32) if c <= (os.cpu_count() or 1)]:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scaling-leg",
             str(cores), corpus_dir],
            capture_output=True, text=True, check=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        results[cores] = json.loads(out.stdout.strip().splitlines()[-1])
        r = results[cores]
        print(f"# local[{cores}]: total {r['wall_s']:.1f}s ({r['files_per_sec']:.0f} f/s); "
              f"LSH window {r['lsh_window_s']:.1f}s ({r['lsh_files_per_sec']:.0f} f/s)",
              file=sys.stderr)

    def eff(lo: int, hi: int, key: str) -> float:
        return round(results[hi][key] / results[lo][key] / (hi / lo), 3)

    out = {"metric": "scaling_efficiency_N_to_4N", "unit": "ratio"}
    if 4 in results:
        out["value"] = eff(1, 4, "lsh_files_per_sec")
        out["value_full_pipeline_1_to_4"] = eff(1, 4, "files_per_sec")
    if 32 in results:
        out["value_lsh_8_to_32"] = eff(8, 32, "lsh_files_per_sec")
        out["value_full_pipeline_8_to_32"] = eff(8, 32, "files_per_sec")
    out["n_files"] = n_files
    out["legs"] = {str(c): results[c] for c in results}
    print(json.dumps(out))


def run_scaling_leg(cores: int, corpus_dir: str) -> None:
    """One leg of the scaling comparison in a fresh process; prints one
    JSON line consumed by run_scaling."""
    import glob
    import tempfile

    from codedup.config import DedupConfig
    from codedup.session import build_session
    from codedup import pipeline

    window = ("signatures", "candidates", "verified", "clusters")
    cfg = DedupConfig()
    spark = build_session(f"local[{cores}]", app_name=f"codedup-scale-{cores}",
                          shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    n_input = spark.read.parquet(f"{corpus_dir}/files.parquet").count()
    with tempfile.TemporaryDirectory() as work:
        t0 = time.time()
        pipeline.run(spark, [f"{corpus_dir}/files.parquet"], cfg,
                     work_dir=work, run_id="bench", resume=False)
        dt = time.time() - t0
        stage_wall = {}
        for m in glob.glob(os.path.join(work, "runs", "bench", "*.manifest.json")):
            with open(m) as f:
                d = json.load(f)
            stage_wall[d["stage"]] = d["wall_ms"] / 1000.0
    lsh_s = sum(stage_wall.get(s, 0.0) for s in window)
    print(json.dumps({
        "wall_s": round(dt, 2),
        "files_per_sec": round(n_input / dt, 1),
        "lsh_window_s": round(lsh_s, 2),
        "lsh_files_per_sec": round(n_input / lsh_s, 1),
        "stages": {k: round(v, 2) for k, v in sorted(stage_wall.items())},
    }))
    spark.stop()


if __name__ == "__main__":
    if "--scaling-leg" in sys.argv:
        i = sys.argv.index("--scaling-leg")
        run_scaling_leg(int(sys.argv[i + 1]), sys.argv[i + 2])
    elif "--scaling" in sys.argv:
        i = sys.argv.index("--scaling")
        n = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 else 50000
        run_scaling(n)
    else:
        run_headline()
