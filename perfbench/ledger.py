"""Per-layer ledger for traced runs: spans recorded around calls into the
product, joined with Spark's JSON event log.

A span is (layer, start, end) in wall-clock seconds.  Every Spark job is
attributed to the span whose interval contains the job's submission
time; the job's stages then contribute their task metrics to that span's
layer.  Spans of one traced unit tile its wall time, so a layer's self
time is simply the sum of its spans' durations.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1e6

# Python-worker SQL metrics as Spark names them in stage accumulables.
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


@dataclass
class Span:
    layer: str
    start: float
    end: float
    rows: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class StageStats:
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    to_python_mb: float = 0.0
    from_python_mb: float = 0.0
    python_run_s: float = 0.0
    task_s: list[float] = field(default_factory=list)

    @property
    def skew(self) -> float:
        """max / median task time (1.0 for a single task)."""
        if not self.task_s:
            return 0.0
        med = statistics.median(self.task_s)
        return max(self.task_s) / med if med > 0 else 1.0


@dataclass
class LayerStats:
    seconds: float = 0.0
    rows: int = 0
    stages: list[StageStats] = field(default_factory=list)

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages)

    @property
    def skew(self) -> float:
        """Skew of the layer's heaviest multi-task Spark stage."""
        multi = [s for s in self.stages if len(s.task_s) > 1]
        if not multi:
            return 1.0 if self.stages else 0.0
        return max(multi, key=lambda s: sum(s.task_s)).skew


class Tracer:
    """Collects spans in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, layer: str, start: float, end: float, rows: int = 0) -> None:
        if self.enabled:
            self.spans.append(Span(layer, start, end, rows))


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for one plain-JSON event-log file per application."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # task metrics are logged once, not again as accumulator copies
        "spark.eventLog.includeTaskMetricsAccumulators": "false",
    }


def _events(log_dir: str):
    """Events of the finished applications logged under ``log_dir``."""
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(log_dir: str) -> tuple[list[tuple[float, list[int]]], dict[int, StageStats]]:
    """-> ([(job submission time s, stage ids)], {stage id: StageStats})."""
    jobs: list[tuple[float, list[int]]] = []
    stages: dict[int, StageStats] = defaultdict(StageStats)
    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append((e["Submission Time"] / 1000.0, list(e["Stage IDs"])))
        elif kind == "SparkListenerTaskEnd":
            st = stages[e["Stage ID"]]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            st.shuffle_mb += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                              + wr.get("Shuffle Bytes Written", 0)) / MB
            st.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages[info["Stage ID"]]
            for acc in info.get("Accumulables", []):
                name, value = acc.get("Name"), float(acc.get("Value") or 0)
                if name == _PY_SENT:
                    st.to_python_mb += value / MB
                elif name == _PY_RECV:
                    st.from_python_mb += value / MB
                elif name == _PY_RUN:
                    st.python_run_s += value / 1000.0
    return jobs, stages


def attribute(spans: list[Span], log_dir: str) -> dict[str, LayerStats]:
    """Group span time and the Spark stages of the jobs each span
    submitted by layer.  Jobs outside every span are not counted."""
    layers: dict[str, LayerStats] = defaultdict(LayerStats)
    for s in spans:
        layers[s.layer].seconds += s.seconds
        layers[s.layer].rows += s.rows
    jobs, stages = read_event_log(log_dir)
    seen: set[int] = set()
    for submitted, stage_ids in jobs:
        owner = next((s for s in spans if s.start <= submitted <= s.end), None)
        if owner is None:
            continue
        for sid in stage_ids:
            # a stage reused by a later job (skipped) is counted once
            if sid in stages and sid not in seen:
                seen.add(sid)
                layers[owner.layer].stages.append(stages[sid])
    return layers
