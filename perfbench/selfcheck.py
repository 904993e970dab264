"""Self-check of the benchmark.

    python3 perfbench/selfcheck.py             # smoke mode, a few minutes
    python3 perfbench/selfcheck.py --ledger 3 [workload ...]  # tracing overhead

Smoke mode runs each workload on tiny inputs (the sf0.001 tier and the
``tiny`` fixture tier), untraced and traced, and asserts that the result
line names every metric BENCHMARK.json lists, with its unit.  It then
plants a wrong expected digest (catalog) and drops one input shard in
eight (batch_dedup) and asserts that both runs fail.

Ledger mode runs N seeds per workload at bench size, each once untraced
and once traced, and prints the tracing overhead (traced trace.wall_s
minus the untraced wall_s, which run.py prints to stderr) and how the traced run's layer spans compare with
the untraced wall_s (the ledger should cover it within 10%).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, seed: int, trace: int, *extra: str) -> tuple[int, dict | None]:
    """-> (exit code, result line); the result also gets an "info" key
    with the numbers printed to stderr as ``# name = value unit``."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None
    if res is not None:
        res["info"] = {m[1]: float(m[2]) for m in
                       re.finditer(r"^# (\S+) = (\S+) ", p.stderr, re.MULTILINE)}
    return p.returncode, res


def smoke(spec: dict) -> list[str]:
    problems = []
    for workload in [w["name"] for w in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = bench(workload, 1, trace, "--size", "smoke")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: m["unit"] for n, m in (res or {}).get("metrics", {}).items()}
            if code != 0 or not res or not res["correct"]:
                problems.append(f"{workload} trace={trace}: run failed (exit {code})")
            elif got != want:
                problems.append(f"{workload} trace={trace}: metrics differ from "
                                f"BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
            else:
                print(f"ok   {workload} trace={trace}: {len(got)} metrics with units")
    for workload, plant in (("catalog", "wrong_digest"), ("batch_dedup", "dropped_shard")):
        code, res = bench(workload, 1, 0, "--size", "smoke", "--plant", plant)
        # the gate must catch it: a result line reading correct=false, not a crash
        if code == 0 or not res or res["correct"]:
            problems.append(f"{workload} with planted {plant} was not caught")
        else:
            print(f"ok   {workload}: planted {plant} fails the run (exit {code})")
    return problems


def ledger(spec: dict, n: int, only: list[str]) -> list[str]:
    problems = []
    for workload in only or [w["name"] for w in spec["workloads"]]:
        walls, traced, spans = [], [], []
        for seed in range(1, n + 1):
            _, plain = bench(workload, seed, 0)
            _, tr = bench(workload, seed, 1)
            if not plain or not tr:
                problems.append(f"{workload} seed {seed}: run failed")
                continue
            walls.append(plain["info"]["wall_s"])
            traced.append(tr["metrics"]["trace.wall_s"]["value"])
            spans.append(tr["metrics"]["trace.span_sum_s"]["value"])
            print(f"  {workload} seed {seed}: untraced {walls[-1]:.2f} s, traced {traced[-1]:.2f} s")
        if not walls:
            continue
        w, t, s = (statistics.median(x) for x in (walls, traced, spans))
        print(f"{workload}: untraced wall_s {w:.2f} s, traced wall {t:.2f} s, tracing "
              f"overhead {t - w:+.2f} s ({t / w - 1:+.1%}); layer spans {s:.2f} s = "
              f"{s / w:.1%} of untraced wall_s (medians of {len(walls)} seeds)")
        if abs(s / w - 1) > 0.10:
            problems.append(f"{workload}: layer spans off the untraced wall_s by more than 10%")
    return problems


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if argv[:1] == ["--ledger"]:
        problems = ledger(spec, int(argv[1]) if len(argv) > 1 else 3, argv[2:])
    else:
        problems = smoke(spec)
    for p in problems:
        print(f"FAIL {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
