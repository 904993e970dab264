"""Pin the catalog workload's expected results.

For every catalog query this records the row count and the canonical
digest of the DuckDB oracle's answer on a shipped sf tier, and reports
any query whose Spark result digests differently (such a query then
fails the benchmark's correctness gate until the engine is fixed; the
oracle's answer stays pinned).

Usage, from the repository root:
    python3 perfbench/pin_catalog.py sf0.01 sf0.001
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def main(tiers: list[str]) -> int:
    import duckdb

    import run
    run.hygiene(os.path.join(ROOT, ".perfbench_tmp", f"pin-{os.getpid()}"))
    import sysmon
    import workloads
    from codedup.queries import ORACLES, QUERIES
    from codedup.session import build_session
    from tools.check_oracles import TABLES

    spark = build_session(f"local[{run.cores()}]", app_name="perfbench-pin")
    spark.sparkContext.setLogLevel("ERROR")
    disagree = 0
    try:
        for tier in tiers:
            sf_dir = os.path.join(workloads.DATA, tier)
            con = duckdb.connect()
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            pinned = {}
            for name, fn in QUERIES.items():
                got = fn(spark, sf_dir).toArrow().to_pandas()
                if name in ORACLES:
                    want = con.sql(ORACLES[name]).df()
                    pinned[name] = {"rows": len(want), "digest": workloads.digest(want)}
                    same = workloads.digest(got) == pinned[name]["digest"]
                else:
                    pinned[name] = {"rows": len(got), "digest": None}
                    same = True
                disagree += not same
                print(f"{'OK  ' if same else 'DIFF'} {tier} {name} rows={pinned[name]['rows']}",
                      file=sys.stderr)
            os.makedirs(workloads.EXPECTED, exist_ok=True)
            with open(workloads.expected_path(tier), "w") as f:
                json.dump(pinned, f, indent=1)
                f.write("\n")
    finally:
        sysmon.stop_spark(spark)
        run.cleanup()
    return 1 if disagree else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:] or ["sf0.01", "sf0.001"]))
