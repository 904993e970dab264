"""Checkpoint/resume contract (north_rule: "resumes from the last
completed stage without recomputation"; reference analog: the SQLite
per-file cache, cache.py:20-26)."""

import json
import os

import pytest

from codedup import pipeline
from codedup.config import DedupConfig
from codedup.storage import ParquetStorage, SignatureCache


@pytest.fixture(scope="module")
def work(spark, tiny, cfg, tmp_path_factory):
    d = tmp_path_factory.mktemp("resume_work")
    r = pipeline.run(spark, [tiny["paths"]["files"]], cfg, work_dir=str(d), run_id="r")
    return {"dir": str(d), "first": r}


def test_first_run_computes_everything(work):
    assert work["first"].recomputed_stages == pipeline.STAGES


def test_full_resume_recomputes_nothing(spark, tiny, cfg, work):
    r2 = pipeline.run(spark, [tiny["paths"]["files"]], cfg, work_dir=work["dir"], run_id="r")
    assert r2.recomputed_stages == []
    # and the output is identical
    a = work["first"].clusters.toPandas().sort_values("file_id", ignore_index=True)
    b = r2.clusters.toPandas().sort_values("file_id", ignore_index=True)
    assert a.equals(b)


def test_partial_resume_from_failed_stage(spark, tiny, cfg, work):
    """Simulate a crash after 'candidates': delete later manifests; the
    rerun must recompute only verified -> clusters -> members -> actions."""
    for stage in ("verified", "clusters", "members", "actions"):
        os.remove(os.path.join(work["dir"], "runs", "r", f"{stage}.manifest.json"))
    r3 = pipeline.run(spark, [tiny["paths"]["files"]], cfg, work_dir=work["dir"], run_id="r")
    assert r3.recomputed_stages == ["verified", "clusters", "members", "actions"]


def test_manifests_record_lineage(work, cfg):
    store = ParquetStorage(work["dir"], "r", cfg.fingerprint())
    manifests = {m["stage"]: m for m in store.all_manifests()}
    for stage in pipeline.STAGES:
        m = manifests[stage]
        assert m["config_fp"] == cfg.fingerprint()
        assert m["rows"] == sum(m["partitions"].values())
        assert m["wall_ms"] >= 0
        assert m["n_partitions"] >= 1


def test_partition_ids_past_five_digits(tmp_path):
    """Spark pads part ids to at least 5 digits, so a stage written by
    more than 100,000 tasks has part-100000 beside part-10000: two
    partitions, every row counted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from codedup.storage import partition_rows

    for pid, n in (("10000", 2), ("100000", 3)):
        pq.write_table(pa.table({"x": list(range(n))}),
                       str(tmp_path / f"part-{pid}-5f1e-c000.snappy.parquet"))
    assert partition_rows(str(tmp_path)) == {"10000": 2, "100000": 3}


def test_signature_cache_incremental(spark, tiny, cfg, work):
    """File-level incrementality: signatures for already-seen file_ids
    are reused via anti-join (cache.py:63-126 analog)."""
    cache = SignatureCache(work["dir"], cfg.fingerprint())
    assert cache.exists()
    n_cached = cache.read(spark).select("file_id").distinct().count()
    from codedup.stages.exact import representatives
    from codedup.stages.fingerprint import fingerprint

    n_reps = representatives(
        fingerprint(spark.read.parquet(tiny["paths"]["files"]))
    ).count()
    assert n_cached == n_reps


def test_report_json_written(work):
    p = os.path.join(work["dir"], "runs", "r", "report.json")
    with open(p) as f:
        rep = json.load(f)
    assert "summary" in rep and rep["summary"]["duplicate_groups"] > 0


def test_config_change_invalidates(spark, tiny, cfg, work):
    """ST2 analog: a changed config fingerprint voids every checkpoint.
    (Runs last — it overwrites the shared work dir's manifests.)"""
    cfg2 = cfg.with_(jaccard_threshold=0.9)
    r4 = pipeline.run(spark, [tiny["paths"]["files"]], cfg2, work_dir=work["dir"], run_id="r")
    assert r4.recomputed_stages == pipeline.STAGES
