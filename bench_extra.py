"""Extra benchmarks for optimization work (guide §1.4): per-query
noop-sink isolation so the computation is timed without the count()
short-circuit, plus `.explain("formatted")` capture.

NOT part of the driver contract — bench.py stays the frozen
measurement harness.  Usage:

    python bench_extra.py [query ...]              # noop-time listed queries
    python bench_extra.py --plans OUTDIR [query ...]  # dump plans only
    python bench_extra.py --all                    # noop-time the catalog

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), CODEDUP_BENCH_REPEAT (default 1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def main() -> None:
    from codedup.queries import QUERIES, clear_pairs_cache
    from codedup.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    repeat = int(os.environ.get("CODEDUP_BENCH_REPEAT", "1"))

    args = [a for a in sys.argv[1:]]
    plans_dir = None
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i:i + 2]
        os.makedirs(plans_dir, exist_ok=True)
    names = list(QUERIES) if ("--all" in args or not args) else args
    names = [n for n in names if n != "--all"]

    spark = build_session(f"local[{cpus}]", app_name="codedup-bench-extra",
                          shuffle_partitions=max(int(cpus), 8))
    spark.sparkContext.setLogLevel("ERROR")

    if plans_dir:
        for name in names:
            p = plan_of(QUERIES[name](spark, sf_dir))
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(p)
            print(f"# wrote plan {name}")
        spark.stop()
        return

    # warmup (same rationale as bench.py)
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm):
        QUERIES["doc_fingerprint"](spark, warm).count()
        QUERIES["ann_topk_cosine"](spark, warm).count()

    timings: dict[str, list[float]] = {}
    for name in names:
        timings[name] = []
        for _ in range(repeat):
            clear_pairs_cache()
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            timings[name].append(round(dt, 3))
            print(f"# {name}: {dt:.2f}s", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": sf_dir, "noop_timings": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
