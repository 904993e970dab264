"""codedup benchmark: one workload per process.

    python3 perfbench/run.py --workload {catalog,batch_dedup} --seed N \\
        --seconds S --trace {0,1} [--size {bench,smoke}] \\
        [--plant {wrong_digest,dropped_shard}]

Runs single-process Spark on local[<cores>] with the product's defaults
(``build_session``, ``DedupConfig()``).  Set-up (interpreter start,
session, warm-up) is measured first, in CPU seconds; the workload's
inputs are made from the seed outside every timed region; then whole
units of work run until the next one would end past ``--seconds`` (at
least one; a unit takes longer than ten seconds today, so a run
measures one).  Every unit's output is checked.

--trace 0 reports the end-to-end metrics (and prints the wall time to
stderr).  --trace 1 enables Spark's event log, records spans around the
calls into the product, runs one unit and reports the per-layer ledger
(ledger.py).  The tracing overhead is the traced run's trace.wall_s
minus an untraced run's wall_s; perfbench/selfcheck.py --ledger
measures it.

The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Human-readable lines go to stderr.  The exit code is 1 when any output
is wrong or any unit failed.  All scratch files live under
.perfbench_tmp/ in the repository root and are removed at exit; seeded
corpora are cached under .perfbench_cache/.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import ledger  # noqa: E402
import sysmon  # noqa: E402

# Both are CPU seconds of this process, the Spark JVM and its Python
# workers: cpu_s over the timed work, setup_s from process start through
# the warm-up, less input generation.  Wall times are printed to stderr
# only: on a VM whose host steals 5-20% of its CPU time, wall time varied
# 9-29% between runs of the same input, CPU time 2-8%.
END_TO_END = [("cpu_s", "s"), ("setup_s", "s")]
WALL = [("wall_s", "s"), ("items_per_s", "1/s"), ("setup_wall_s", "s")]

_TMP: list[str] = []


def cores() -> int:
    return len(os.sched_getaffinity(0))


def hygiene(tmp: str) -> None:
    """Keep every file the run writes under ``tmp`` and make the product
    importable by Spark's Python workers.  Must run before pyspark
    starts the JVM."""
    import tempfile

    os.makedirs(tmp, exist_ok=True)
    _TMP.append(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # timings measure real compute: no cross-session pair spill
    os.environ["CODEDUP_QUERY_CACHE"] = "off"


def cleanup() -> None:
    for tmp in _TMP:
        shutil.rmtree(tmp, ignore_errors=True)
    parent = os.path.join(ROOT, ".perfbench_tmp")
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["catalog", "batch_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["bench", "smoke"], default="bench")
    p.add_argument("--plant", choices=["wrong_digest", "dropped_shard"], default=None,
                   help="inject a fault the correctness gate must catch")
    return p.parse_args(argv)


def measure(args, proc_start: float) -> tuple[dict, int, list[str], object]:
    import workloads
    from codedup.session import build_session

    tmp = _TMP[-1]
    wl = workloads.WORKLOADS[args.workload](args.size, args.seed, tmp, args.plant)
    c0, t0 = sysmon.tree_cpu_s(), time.time()
    wl.prepare_inputs()
    gen_s, gen_cpu = time.time() - t0, sysmon.tree_cpu_s() - c0

    log_dir = os.path.join(tmp, "eventlog")
    extra = ledger.event_log_conf(log_dir) if args.trace else None
    errors: list[str] = []
    attempted = 0
    # memory is sampled only when traced: it is a per-layer metric
    with sysmon.PeakRss() if args.trace else contextlib.nullcontext() as rss:
        t0 = time.time()
        spark = build_session(f"local[{cores()}]", app_name=f"perfbench-{args.workload}",
                              extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.time() - t0
        try:
            t0 = time.time()
            workloads.warmup(spark)
            warmup_s = time.time() - t0
            setup_wall_s = time.time() - proc_start - gen_s
            setup_s = sysmon.tree_cpu_s() - gen_cpu

            tracer = ledger.Tracer(bool(args.trace))
            t_meas = time.time()
            while True:
                attempted += wl.ops_per_unit
                try:
                    took = wl.unit(spark, tracer)
                except Exception:
                    errors.append(traceback.format_exc())
                    break
                # one traced unit is enough: the ledger attributes its jobs
                if args.trace or time.time() - t_meas + took > args.seconds:
                    break
        finally:
            sysmon.stop_spark(spark)

    if errors:
        return {}, attempted, errors, wl
    if not args.trace:
        m = wl.end_to_end()
        m["setup_s"], m["setup_wall_s"] = setup_s, setup_wall_s
        return m, attempted, errors, wl

    layers = ledger.attribute(tracer.spans, log_dir)
    span_sum = sum(s.seconds for s in tracer.spans)
    all_stages = [st for lay in layers.values() for st in lay.stages]
    m = {name: 0.0 for name in workloads.per_layer_names()}
    m.update({
        "session.start_s": start_s, "session.warmup_s": warmup_s,
        "session.peak_rss_mb": rss.peak / ledger.MB,
        "trace.wall_s": took, "trace.span_sum_s": span_sum,
        "kernels.to_python_mb": sum(s.to_python_mb for s in all_stages),
        "kernels.from_python_mb": sum(s.from_python_mb for s in all_stages),
        "kernels.python_run_s": sum(s.python_run_s for s in all_stages),
        "spark.cpu_s": sum(s.cpu_s for s in all_stages),
        "spark.shuffle_mb": sum(s.shuffle_mb for s in all_stages),
        "spark.spill_mb": sum(s.spill_mb for s in all_stages),
    })
    m.update(wl.layer_metrics(layers))
    return m, attempted, errors, wl


def main(argv: list[str]) -> int:
    proc_start = sysmon.process_start_time()
    args = parse_args(argv)
    hygiene(os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}"))
    try:
        import workloads

        metrics, attempted, errors, wl = measure(args, proc_start)
    finally:
        cleanup()

    wrong = wl.failures()
    failed = len(errors) + len(wrong)
    for e in errors:
        print(e, file=sys.stderr)
    for w in wrong:
        print(f"# CHECK FAILED: {w}", file=sys.stderr)
    if errors:
        return 1  # no result line: the run did not complete
    if hasattr(wl, "report"):
        print(f"# {wl.report()}", file=sys.stderr)
    print(f"# wrong_results={len(wrong)} error_rate={failed / attempted:.4f} "
          f"attempted={attempted}", file=sys.stderr)
    if args.trace:
        names = [(n, workloads.unit_of(n)) for n in workloads.per_layer_names()]
    else:
        names = END_TO_END
        for n, u in WALL:
            print(f"# {n} = {metrics[n]:.4f} {u} (stderr only)", file=sys.stderr)
    out = {n: {"value": float(metrics[n]), "unit": u} for n, u in names}
    for n, u in names:
        print(f"# {n} = {metrics[n]:.4f} {u}", file=sys.stderr)
    correct = not wrong
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
