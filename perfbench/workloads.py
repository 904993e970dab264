"""The benchmark's workloads.

Each workload prepares its inputs from the seed, warms the session up,
runs timed units of work, checks every unit's output, and turns the
measurements into metrics.  Product code is only imported and called,
always with its defaults (``DedupConfig()``).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import time
import zlib

import numpy as np

import ledger
import sysmon
from codedup.storage import ParquetStorage

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected")

# n_base of the batch_dedup corpus per size (the fixture adds exact and
# near copies: ~1.8 files per base file)
CORPUS_N_BASE = {"bench": 500, "smoke": None}
CATALOG_TIER = {"bench": "sf0.01", "smoke": "sf0.001"}

RECALL_MIN = 0.99
PRECISION_MIN = 0.999

# pipeline stage -> layer (module of codedup/stages that builds it)
STAGE_LAYER = {
    "errors": "ingest", "fingerprint": "fingerprint", "id_errors": "fingerprint",
    "exact_edges": "exact", "reps": "exact", "signatures": "signatures",
    "bands": "banding", "candidates": "candidates", "verified": "verify",
    "clusters": "cluster", "members": "report", "actions": "report",
}
STAGE_LAYERS = ["ingest", "fingerprint", "exact", "signatures", "banding",
                "candidates", "verify", "cluster", "report"]
ROWS_OUT_LAYERS = ["candidates", "verify", "cluster"]
# catalog layers: a query counts toward a layer when it calls one of the
# layer's public functions
CATALOG_LAYERS = {
    "operators.sweep_s": ("codedup.operators", ["blocked_jaccard_join_text"]),
    "ann.s": ("codedup.ann", None),  # None: every public function
    "apply.plan_moves_s": ("codedup.apply", ["plan_moves"]),
}


# The timed catalog: every query that calls into a layer only the catalog
# runs (the blocked sweep of codedup.operators, codedup.ann, the block
# sizes of the brute-force ANN, codedup.apply), plus short relational
# queries that expose the fixed per-job and plan cost.  The other
# catalog queries are left out so that a cold pass fits the benchmark's
# time budget on a 4-core host; the MinHash stage chain is measured by
# batch_dedup.
CATALOG_QUERIES = ("dedup_exact", "dedup_ngram_jaccard", "ann_topk_cosine",
                   "ann_ivf_topk", "apply_plan_moves", "pricing_summary",
                   "top_orders_per_customer", "revenue_by_nation")


def query_names() -> list[str]:
    from codedup.queries import QUERIES

    return [q for q in QUERIES if q in CATALOG_QUERIES]


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, on every workload."""
    names = ["session.start_s", "session.warmup_s", "session.peak_rss_mb",
             "trace.wall_s", "trace.span_sum_s"]
    for layer in STAGE_LAYERS:
        names += [f"stages.{layer}.{m}" for m in ("s", "cpu_s", "shuffle_mb", "skew")]
    names += [f"stages.{layer}.rows_out" for layer in ROWS_OUT_LAYERS]
    names += ["stages.verify.useful_ratio",
              "storage.bytes_written_mb", "storage.stored_bytes_ratio"]
    names += [f"queries.{q}.s" for q in query_names()]
    names += list(CATALOG_LAYERS)
    names += ["kernels.to_python_mb", "kernels.from_python_mb", "kernels.python_run_s",
              "spark.cpu_s", "spark.shuffle_mb", "spark.spill_mb",
              "quality.recall", "quality.precision"]
    return names


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_mb"):
        return "MB"
    if last == "rows_out":
        return "count"
    if last in ("skew", "useful_ratio", "stored_bytes_ratio", "recall", "precision"):
        return "ratio"
    return "s"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# --- canonical result digests (catalog correctness gate) -----------------

def _cell(v) -> str:
    """One value of a canonical frame as text (canon has already turned
    object columns into str)."""
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "null"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return f"{v:.9e}"  # 1e-9 relative
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


def digest(pdf) -> str:
    """Order-insensitive digest of a result frame, canonicalized like
    tools/check_oracles.canon with floats rounded to 1e-9 relative."""
    from tools.check_oracles import canon

    df = canon(pdf)
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


def expected_path(tier: str) -> str:
    return os.path.join(EXPECTED, f"catalog_{tier}.json")


# --- workloads -------------------------------------------------------------

def warmup(spark) -> None:
    """The same small job for every workload: JVM scan, codegen and the
    Arrow collect path get exercised once before anything is timed.
    Code paths particular to a workload stay in its first timed unit:
    a fresh production job pays for them too, and warming them up costs
    about as much time as they take (a cold pipeline run takes ~28 s on
    the tiny tier and ~13 s warm), which the time budget of a run does
    not allow."""
    from codedup.queries import QUERIES

    QUERIES["doc_fingerprint"](spark, os.path.join(DATA, "sf0.001")).toArrow()


class Catalog:
    """The CATALOG_QUERIES in catalog order on a fixed sf tier, each
    timed through an Arrow collect of its full result."""

    def __init__(self, size: str, seed: int, tmp: str, plant: str | None):
        self.tier = CATALOG_TIER[size]
        self.sf_dir = os.path.join(DATA, self.tier)
        with open(expected_path(self.tier)) as f:
            self.expected = json.load(f)
        if plant == "wrong_digest":
            self.expected[query_names()[0]]["digest"] = "0" * 64
        self.times: dict[str, list[float]] = {}
        self.cpus: dict[str, list[float]] = {}
        self.wrong: list[str] = []
        self.ops_per_unit = len(query_names())  # an operation is one query

    def prepare_inputs(self) -> None:
        pass  # the sf tier ships with the benchmark

    def unit(self, spark, tracer: ledger.Tracer) -> float:
        """One pass over the catalog; returns the summed query time."""
        from codedup.queries import QUERIES

        total = 0.0
        with _LayerMarks(tracer) as marks:
            for name in query_names():
                fn = QUERIES[name]
                marks.current = name
                c0, t0 = sysmon.tree_cpu_s(), time.time()
                tbl = fn(spark, self.sf_dir).toArrow()
                t1, c1 = time.time(), sysmon.tree_cpu_s()
                tracer.add(f"queries.{name}", t0, t1, rows=tbl.num_rows)
                self.times.setdefault(name, []).append(t1 - t0)
                self.cpus.setdefault(name, []).append(c1 - c0)
                total += t1 - t0
                self._check(name, tbl)
        self.marks = marks.hits
        return total

    def _check(self, name: str, tbl) -> None:
        exp = self.expected.get(name)
        ok = exp is not None and tbl.num_rows == exp["rows"]
        if ok and exp.get("digest"):
            ok = digest(tbl.to_pandas()) == exp["digest"]
        if not ok:
            self.wrong.append(name)

    def failures(self) -> list[str]:
        return [f"wrong result: {q}" for q in self.wrong]

    def end_to_end(self) -> dict[str, float]:
        wall = sum(statistics.median(v) for v in self.times.values())
        cpu = sum(statistics.median(v) for v in self.cpus.values())
        return {"cpu_s": cpu, "wall_s": wall, "items_per_s": len(self.times) / wall}

    def layer_metrics(self, layers: dict[str, ledger.LayerStats]) -> dict[str, float]:
        out = {f"queries.{q}.s": layers[f"queries.{q}"].seconds
               for q in self.times if f"queries.{q}" in layers}
        for layer in CATALOG_LAYERS:
            hit = self.marks.get(layer, set())
            out[layer] = sum(layers[f"queries.{q}"].seconds for q in hit
                             if f"queries.{q}" in layers)
        return out


class _LayerMarks:
    """Wraps the public functions of the catalog layers so a traced pass
    learns which queries call into which layer; restores them on exit."""

    def __init__(self, tracer: ledger.Tracer):
        self.enabled = tracer.enabled
        self.current: str | None = None
        self.hits: dict[str, set[str]] = {}
        self._saved: list[tuple[object, str, object]] = []

    def __enter__(self) -> "_LayerMarks":
        if not self.enabled:
            return self
        import importlib

        for layer, (modname, names) in CATALOG_LAYERS.items():
            mod = importlib.import_module(modname)
            if names is None:
                names = [n for n, f in vars(mod).items()
                         if callable(f) and not n.startswith("_")
                         and getattr(f, "__module__", None) == modname]
            for n in names:
                orig = getattr(mod, n)
                self._saved.append((mod, n, orig))
                setattr(mod, n, self._wrap(layer, orig))
        return self

    def _wrap(self, layer: str, fn):
        def marked(*args, **kw):
            self.hits.setdefault(layer, set()).add(self.current)
            return fn(*args, **kw)
        return marked

    def __exit__(self, *exc) -> None:
        for mod, n, orig in self._saved:
            setattr(mod, n, orig)


class BatchDedup:
    """``pipeline.run(resume=False)`` over a seeded fixture corpus, scored
    against the generator's truth clusters."""

    def __init__(self, size: str, seed: int, tmp: str, plant: str | None):
        self.size, self.seed, self.tmp, self.plant = size, seed, tmp, plant
        self.cache = os.path.join(os.path.dirname(HERE), ".perfbench_cache")
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.scores: list[tuple[float, float]] = []
        self.stored_ratio: list[float] = []
        self.bad: list[str] = []
        self.n_runs = 0
        self.store = None
        self.ops_per_unit = 1  # an operation is one pipeline run

    def _corpus(self, tier: str, n_base: int | None) -> str:
        from codedup.fixtures import write_corpus

        out = os.path.join(self.cache, f"{tier}_n{n_base}_s{self.seed}")
        if not os.path.exists(os.path.join(out, "truth_clusters.parquet")):
            part = f"{out}.tmp{os.getpid()}"
            shutil.rmtree(part, ignore_errors=True)
            write_corpus(part, tier, seed=self.seed, n_base=n_base)
            shutil.rmtree(out, ignore_errors=True)
            os.rename(part, out)
        return out

    def prepare_inputs(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tier = "bench" if self.size == "bench" else "tiny"
        corpus = self._corpus(tier, CORPUS_N_BASE[self.size])
        self.source = os.path.join(corpus, "files.parquet")
        self.truth = os.path.join(corpus, "truth_clusters.parquet")
        files = pq.read_table(self.source)
        if self.plant == "dropped_shard":
            # lose one input shard in eight: recall must fall below the gate
            keep = [zlib.crc32(k.encode()) % 8 != 0 for k in files.column("path").to_pylist()]
            files = files.filter(keep)
            self.source = os.path.join(self.tmp, "dropped_shard.parquet")
            pq.write_table(files, self.source)
        self.n_files = files.num_rows
        self.content_bytes = pc.sum(pc.binary_length(
            files.column("content").cast("binary"))).as_py()

    def unit(self, spark, tracer: ledger.Tracer) -> float:
        from codedup import pipeline
        from codedup.config import DedupConfig

        cfg = DedupConfig()
        work = os.path.join(self.tmp, f"work{self.n_runs}")
        self.n_runs += 1
        store = (_TracedStorage(tracer, work, "bench", cfg.fingerprint())
                 if tracer.enabled else None)
        c0, t0 = sysmon.tree_cpu_s(), time.time()
        res = pipeline.run(spark, [self.source], cfg, work_dir=work, run_id="bench",
                           resume=False, storage=store)
        t1, c1 = time.time(), sysmon.tree_cpu_s()
        self.cpus.append(c1 - c0)
        if store is not None:
            store.tile(t0, t1)
            self.store = store
        self.walls.append(t1 - t0)
        self._check(spark, res, work)
        shutil.rmtree(work, ignore_errors=True)
        return t1 - t0

    def _check(self, spark, res, work: str) -> None:
        from tools.recall_at_scale import score_counting

        run_dir = os.path.join(work, "runs", "bench")
        if not os.path.exists(os.path.join(run_dir, "report.json")):
            self.bad.append("report.json missing")
        self.stored_ratio.append(dir_bytes(work) / self.content_bytes)
        truth = spark.read.parquet(self.truth)
        n_truth, n_pred, n_inter = score_counting(truth, res.members)
        recall = n_inter / n_truth if n_truth else 1.0
        precision = n_inter / n_pred if n_pred else 1.0
        self.scores.append((recall, precision))
        if recall < RECALL_MIN:
            self.bad.append(f"recall {recall:.6f} < {RECALL_MIN}")
        if precision < PRECISION_MIN:
            self.bad.append(f"precision {precision:.6f} < {PRECISION_MIN}")

    def failures(self) -> list[str]:
        return self.bad

    def end_to_end(self) -> dict[str, float]:
        wall = statistics.median(self.walls)
        return {"cpu_s": statistics.median(self.cpus), "wall_s": wall,
                "items_per_s": self.n_files / wall}

    def layer_metrics(self, layers: dict[str, ledger.LayerStats]) -> dict[str, float]:
        out = {}
        for layer in STAGE_LAYERS:
            st = layers.get(f"stages.{layer}", ledger.LayerStats())
            out[f"stages.{layer}.s"] = st.seconds
            out[f"stages.{layer}.cpu_s"] = st.total("cpu_s")
            out[f"stages.{layer}.shuffle_mb"] = st.total("shuffle_mb")
            out[f"stages.{layer}.skew"] = st.skew
        rows = {layer: layers.get(f"stages.{layer}", ledger.LayerStats()).rows
                for layer in ROWS_OUT_LAYERS}
        for layer in ROWS_OUT_LAYERS:
            out[f"stages.{layer}.rows_out"] = rows[layer]
        out["stages.verify.useful_ratio"] = (rows["verify"] / rows["candidates"]
                                             if rows["candidates"] else 0.0)
        out["storage.bytes_written_mb"] = self.store.bytes_written / ledger.MB
        out["storage.stored_bytes_ratio"] = statistics.median(self.stored_ratio)
        out["quality.recall"] = statistics.median(r for r, _ in self.scores)
        out["quality.precision"] = statistics.median(p for _, p in self.scores)
        return out

    def report(self) -> str:
        r = [f"{x:.6f}/{y:.6f}" for x, y in self.scores]
        return f"files={self.n_files} recall/precision={r}"


class _TracedStorage(ParquetStorage):
    """The pipeline's ``storage=`` hook: ParquetStorage that records when
    each stage committed, its rows and the bytes it wrote."""

    def __init__(self, tracer: ledger.Tracer, root: str, run_id: str, config_fp: str):
        super().__init__(root, run_id, config_fp)
        self.tracer = tracer
        self.commits: list[tuple[str, float, int]] = []
        self.bytes_written = 0

    def write(self, df, stage, extra=None, t_start=None):
        out = super().write(df, stage, extra, t_start)
        self.commits.append((stage, time.time(), self.manifest(stage)["rows"]))
        self.bytes_written += dir_bytes(self.stage_dir(stage))
        return out

    def tile(self, t0: float, t1: float) -> None:
        """Turn the commits into spans that tile [t0, t1]: a stage owns
        the time since the previous commit, and what follows the last
        commit (the summary report) belongs to the report stage."""
        prev = t0
        for stage, end, rows in self.commits:
            self.tracer.add(f"stages.{STAGE_LAYER[stage]}", prev, end, rows)
            prev = end
        self.tracer.add("stages.report", prev, t1)


WORKLOADS = {"catalog": Catalog, "batch_dedup": BatchDedup}
