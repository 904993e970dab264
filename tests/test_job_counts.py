"""Spark jobs the pipeline starts.

On small inputs a run's cost is fixed overhead per job and per plan, not
rows, so job counts are pinned here: a committed stage reads back with
the schema its manifest records (no parquet footer-inference job), the
64-bit id-collision guard's aggregation runs once per run (it is not in
the lineage of the clean fingerprints), and one pipeline run stays
within a fixed number of jobs, as does one streaming batch.
"""

from __future__ import annotations

import contextlib
import json

import pytest
from pyspark.sql import types as T

from codedup import pipeline
from codedup.storage import ParquetStorage

# measured on the tiny corpus: a cold run starts 37 jobs and a full
# resume 6 (the collided-id read plus the summary's one aggregate
# action); 39 while the exact edges were a stage of their own (a second
# sha256 window), 41 and 7 while the summary ran two actions and the
# signature cache was appended from an eager checkpoint, 64 and 20
# before the guard ran once and reads carried their schema
COLD_RUN_MAX_JOBS = 37
RESUME_MAX_JOBS = 6
# measured on the tiny corpus's second of three drops: a streaming batch
# with history starts 40 jobs; 46 while the fingerprints were
# checkpointed and the new representatives (three readers) were not
STREAM_BATCH_MAX_JOBS = 40


@contextlib.contextmanager
def counted_jobs(spark, group: str):
    """Yields a list that holds, on exit, the ids of the Spark jobs the
    block started (run under their own job group; the thread's previous
    group is restored)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        # job-start events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


SCHEMA = T.StructType([
    T.StructField("file_id", T.LongType()),
    T.StructField("minhash", T.ArrayType(T.LongType())),
    T.StructField("key", T.StringType()),
])


def test_stage_read_back_starts_no_job(spark, cfg, tmp_path):
    df = spark.createDataFrame([(1, [1, 2], "a"), (2, [3], "b")], SCHEMA)
    with counted_jobs(spark, "plain-write") as plain:
        df.write.mode("overwrite").parquet(str(tmp_path / "plain"))
    store = ParquetStorage(str(tmp_path / "w"), "r", cfg.fingerprint())
    with counted_jobs(spark, "stage-write") as written:
        out = store.write(df, "s")
    assert len(written) == len(plain)        # the write's jobs, no read-back job
    with counted_jobs(spark, "stage-read") as read:
        again = ParquetStorage(str(tmp_path / "w"), "r", cfg.fingerprint()).read(spark, "s")
    assert read == []
    assert out.schema == again.schema == spark.read.parquet(store.stage_dir("s")).schema
    assert sorted(again.collect()) == sorted(df.collect())


def test_empty_stage_round_trips_with_schema(spark, cfg, tmp_path):
    store = ParquetStorage(str(tmp_path / "w"), "r", cfg.fingerprint())
    out = store.write(spark.createDataFrame([], SCHEMA), "empty")
    assert store.is_complete("empty")
    again = store.read(spark, "empty")
    assert out.schema == again.schema == SCHEMA
    assert again.count() == 0
    assert store.manifest("empty")["rows"] == 0


def test_manifest_without_schema_is_not_complete(spark, cfg, tmp_path):
    store = ParquetStorage(str(tmp_path / "w"), "r", cfg.fingerprint())
    store.write(spark.createDataFrame([(1, [1], "a")], SCHEMA), "s")
    m = store.manifest("s")
    del m["schema"]
    with open(store.manifest_path("s"), "w") as f:
        json.dump(m, f)
    assert not store.is_complete("s")


def test_guard_not_in_fingerprint_lineage(run_tiny):
    plan = run_tiny.fingerprints._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan, plan


def test_pipeline_job_counts(spark, tiny, cfg, tmp_path):
    work = str(tmp_path / "w")
    with counted_jobs(spark, "cold-run") as cold:
        first = pipeline.run(spark, [tiny["paths"]["files"]], cfg, work_dir=work, run_id="j")
    with counted_jobs(spark, "full-resume") as resumed:
        again = pipeline.run(spark, [tiny["paths"]["files"]], cfg, work_dir=work, run_id="j")
    assert first.recomputed_stages == pipeline.STAGES
    assert again.recomputed_stages == []
    assert len(cold) <= COLD_RUN_MAX_JOBS, f"cold run started {len(cold)} jobs"
    assert len(resumed) <= RESUME_MAX_JOBS, f"full resume started {len(resumed)} jobs"


def test_run_needs_a_store(spark, tiny, cfg):
    with pytest.raises(ValueError, match="work_dir.*storage"):
        pipeline.run(spark, [tiny["paths"]["files"]], cfg)


def test_streaming_batch_job_count(spark, tiny, cfg, tmp_path):
    from codedup.streaming import IncrementalDedup

    files = tiny["tables"]["files"]
    drops = []
    for i in range(2):
        p = str(tmp_path / f"drop_{i}.parquet")
        files.iloc[i::3].reset_index(drop=True).to_parquet(p, index=False)
        drops.append(p)
    inc = IncrementalDedup(spark, str(tmp_path / "w"), cfg)
    inc.process_batch(spark.read.parquet(drops[0]), 0)
    with counted_jobs(spark, "stream-batch") as batch:
        inc.process_batch(spark.read.parquet(drops[1]), 1)
    assert inc.pairs().count() > 0
    assert len(batch) <= STREAM_BATCH_MAX_JOBS, f"streaming batch started {len(batch)} jobs"
