"""Structured-Streaming incremental dedup: drops of new files must be
deduplicated against the full history, and the cumulative pair set must
equal the batch pipeline's verified pairs over the union of all drops.
"""

import os

import pytest
from pyspark.sql import functions as F

from codedup.config import DedupConfig
from codedup.fixtures import generate_corpus
from codedup.streaming import IncrementalDedup


@pytest.fixture(scope="module")
def drops(tmp_path_factory):
    """The tiny corpus split into 3 ordered parquet drops."""
    d = tmp_path_factory.mktemp("stream_src")
    files = generate_corpus("tiny")["files"]
    thirds = [files.iloc[i::3].reset_index(drop=True) for i in range(3)]
    paths = []
    for i, part in enumerate(thirds):
        p = str(d / f"drop_{i}.parquet")
        part.to_parquet(p, index=False)
        paths.append(p)
    return {"dir": str(d), "paths": paths, "files": files}


def test_incremental_equals_batch(spark, drops, cfg, tmp_path):
    inc = IncrementalDedup(spark, str(tmp_path / "stream_work"), cfg)
    # drive the stream over all drops (availableNow drains the source)
    q = inc.start(drops["dir"], checkpoint_dir=str(tmp_path / "chk"))
    q.awaitTermination(300)

    got = inc.pairs().toPandas()
    assert not got.duplicated(["a", "b"]).any(), "a pair verified twice across batches"

    # batch pipeline over the union of all drops
    from codedup import pipeline

    union_path = str(tmp_path / "all.parquet")
    drops["files"].to_parquet(union_path, index=False)
    res = pipeline.run(spark, [union_path], cfg, work_dir=str(tmp_path / "bwork"),
                       run_id="b", resume=False)
    want = res.verified.toPandas()

    # streaming elects first-seen representatives, batch elects min-file_id
    # — compare pairs at content (sha256) level
    fpdf = res.fingerprints.select("file_id", "sha256").toPandas()
    id2sha = dict(zip(fpdf.file_id, fpdf.sha256))
    got_keys = {frozenset((id2sha[a], id2sha[b])) for a, b in zip(got.a, got.b)}
    want_keys = {frozenset((id2sha[a], id2sha[b])) for a, b in zip(want.a, want.b)}
    assert got_keys == want_keys, (
        f"stream-only: {len(got_keys - want_keys)}, batch-only: {len(want_keys - got_keys)}"
    )


def test_streaming_state_tables_exist(spark, drops, cfg, tmp_path_factory):
    # state dirs created by the previous test's module-scoped stream work
    # are not shared (tmp_path differs); run a tiny standalone check
    work = tmp_path_factory.mktemp("sw")
    inc = IncrementalDedup(spark, str(work), cfg)
    q = inc.start(drops["dir"], checkpoint_dir=str(work / "chk"))
    q.awaitTermination(300)
    for sub in ("signatures", "bands", "pairs", "contents"):
        assert os.path.isdir(os.path.join(str(work), "stream", sub)), sub
    sigs = inc.signatures()
    assert sigs is not None
    # one signature per distinct content, never recomputed
    n_distinct = drops["files"].content.nunique()
    assert sigs.select("file_id").distinct().count() == n_distinct


def test_replay_of_committed_batch_is_noop(spark, drops, cfg, tmp_path):
    """foreachBatch is at-least-once: re-delivering an already-committed
    batch_id must not duplicate state (ADVICE r1)."""
    inc = IncrementalDedup(spark, str(tmp_path / "w"), cfg)
    b0 = spark.read.parquet(drops["paths"][0])
    inc.process_batch(b0, 0)
    pairs1 = inc.pairs().toPandas().sort_values(["a", "b"], ignore_index=True)
    sigs1 = inc.signatures().count()
    inc.process_batch(b0, 0)  # replay
    pairs2 = inc.pairs().toPandas().sort_values(["a", "b"], ignore_index=True)
    assert pairs1.equals(pairs2)
    assert inc.signatures().count() == sigs1


def test_replay_of_uncommitted_batch_recovers(spark, drops, cfg, tmp_path):
    """ADVICE r2 high: a crash AFTER staging but BEFORE the commit
    marker must not lose the batch on retry.  Simulated by running the
    batch fully, deleting the marker (= crash in the partial-commit
    window), and re-delivering: without the staged-dir purge the retry
    reads its own staged rows as history, anti-joins the batch away and
    overwrites the staging dirs with empty data."""
    inc = IncrementalDedup(spark, str(tmp_path / "w"), cfg)
    b0 = spark.read.parquet(drops["paths"][0])
    inc.process_batch(b0, 0)
    pairs1 = inc.pairs().toPandas().sort_values(["a", "b"], ignore_index=True)
    sigs1 = inc.signatures().toPandas().sort_values("file_id", ignore_index=True)
    assert len(sigs1) > 0

    os.remove(os.path.join(inc.marker_dir, "0"))  # crash window
    inc.process_batch(b0, 0)  # at-least-once retry

    sigs2 = inc.signatures().toPandas().sort_values("file_id", ignore_index=True)
    pairs2 = inc.pairs().toPandas().sort_values(["a", "b"], ignore_index=True)
    assert sigs2[["file_id", "simhash"]].equals(sigs1[["file_id", "simhash"]]), \
        "retry of an uncommitted batch dropped its signatures"
    assert pairs2.equals(pairs1)
    assert inc._is_committed(0)

    # and a subsequent batch still dedupes against the recovered history
    inc.process_batch(spark.read.parquet(drops["paths"][1]), 1)
    assert inc.signatures().count() > len(sigs1)


def test_auto_compaction_in_commit_path(spark, drops, cfg, tmp_path):
    """compact_every=2 must fold state inside foreachBatch commit after
    every 2nd committed batch, with pairs/signatures unchanged."""
    inc = IncrementalDedup(spark, str(tmp_path / "w"), cfg, compact_every=2)
    baseline = IncrementalDedup(spark, str(tmp_path / "b"), cfg, compact_every=None)
    for i, p in enumerate(drops["paths"]):
        b = spark.read.parquet(p)
        inc.process_batch(b, i)
        baseline.process_batch(b, i)
    # 3 batches, compact after batch idx 1 (2 committed): dirs 0,1 folded
    # into batch_id=-1; batch 2 staged on top
    subdirs = sorted(e for e in os.listdir(inc.sig_dir) if e.startswith("batch_id="))
    assert subdirs == ["batch_id=-1", "batch_id=2"], subdirs
    got = inc.pairs().toPandas().sort_values(["a", "b"], ignore_index=True)
    want = baseline.pairs().toPandas().sort_values(["a", "b"], ignore_index=True)
    assert got.equals(want)
    assert inc.signatures().count() == baseline.signatures().count()


def test_compaction_preserves_state_and_shrinks_files(spark, drops, cfg, tmp_path):
    inc = IncrementalDedup(spark, str(tmp_path / "w"), cfg)
    for i, p in enumerate(drops["paths"]):
        inc.process_batch(spark.read.parquet(p), i)
    before = inc.pairs().toPandas().sort_values(["a", "b"], ignore_index=True)
    sig_before = inc.signatures().toPandas().sort_values("file_id", ignore_index=True)

    stats = inc.compact()
    assert stats["pairs"]["files_after"] < stats["pairs"]["files_before"]
    assert stats["signatures"]["files_after"] < stats["signatures"]["files_before"]

    after = inc.pairs().toPandas().sort_values(["a", "b"], ignore_index=True)
    sig_after = inc.signatures().toPandas().sort_values("file_id", ignore_index=True)
    assert before.equals(after)
    assert sig_before[["file_id", "simhash"]].equals(sig_after[["file_id", "simhash"]])

    # post-compaction batches still land + dedupe against the snapshot
    inc.process_batch(spark.read.parquet(drops["paths"][0]), 99)
    assert inc.pairs().toPandas().sort_values(["a", "b"], ignore_index=True).equals(after)


# --- compact() crash recovery (ADVICE r3 medium) -------------------------

def _pair_set(inc):
    df = inc.pairs().toPandas()
    return set(zip(df.a, df.b))


@pytest.fixture()
def committed_stream(spark, drops, cfg, tmp_path):
    """Three committed batches, auto-compaction off; returns (inc, pairs)."""
    inc = IncrementalDedup(spark, str(tmp_path / "w"), cfg, compact_every=None)
    for i, p in enumerate(drops["paths"]):
        inc.process_batch(spark.read.parquet(p), i)
    return inc, _pair_set(inc)


def test_compact_crash_before_snapshot_move_restores_state(committed_stream):
    """Crash window: live dir renamed aside, snapshot not yet in place.
    The old compact() order (rmtree live, then rename snapshot) lost the
    whole table here; the rename-aside order must restore it."""
    inc, want = committed_stream
    assert want, "fixture must produce pairs"
    d = inc.pairs_dir
    os.rename(d, d + "._old")                      # crash right after rename-aside
    os.makedirs(d + "._compact")                   # half-written snapshot tmp
    with open(os.path.join(d + "._compact", "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    assert _pair_set(inc) == want                  # recovery restored ._old
    assert not os.path.isdir(d + "._old") and not os.path.isdir(d + "._compact")


def test_compact_crash_with_empty_live_dir_restores_state(committed_stream):
    """Crash one step later: empty live dir recreated, snapshot still in
    tmp.  The empty dir must not shadow the parked state."""
    inc, want = committed_stream
    d = inc.pairs_dir
    os.rename(d, d + "._old")
    os.makedirs(d)                                 # crash after makedirs
    assert _pair_set(inc) == want
    assert not os.path.isdir(d + "._old")


def test_compact_crash_after_snapshot_live_drops_leftover(committed_stream):
    """Crash after the snapshot moved in but before ._old cleanup: the
    snapshot wins, the parked copy is garbage-collected, content equal."""
    import shutil

    inc, want = committed_stream
    inc.compact()                                  # snapshot now live
    d = inc.pairs_dir
    shutil.copytree(d, d + "._old")                # simulate un-deleted parked dir
    assert _pair_set(inc) == want
    assert not os.path.isdir(d + "._old")


def test_compact_survives_crash_replay_loop(committed_stream, spark, drops):
    """compact -> simulated crash -> recovery -> compact again -> new
    batch: end-to-end the state is never lost or duplicated."""
    inc, want = committed_stream
    d = inc.pairs_dir
    os.rename(d, d + "._old")                      # crash mid-compact
    assert _pair_set(inc) == want                  # recovered
    inc.compact()                                  # clean compact succeeds
    assert _pair_set(inc) == want
    # replayed batch after all that is still a no-op
    inc.process_batch(spark.read.parquet(drops["paths"][0]), 0)
    assert _pair_set(inc) == want


def test_state_refuses_another_config(spark, drops, cfg, tmp_path):
    """Stream state is read only under the config that wrote it, like
    the batch stages' manifests: a fresh root records the fingerprint,
    the same config resumes, and another config — or state with no
    record — raises instead of mixing band hashes of two configs."""
    work = str(tmp_path / "w")
    inc = IncrementalDedup(spark, work, cfg)
    record = os.path.join(inc.root, "config_fp")
    with open(record) as f:
        assert f.read() == cfg.fingerprint()
    inc.process_batch(spark.read.parquet(drops["paths"][0]), 0)
    n_sigs = inc.signatures().count()

    resumed = IncrementalDedup(spark, work, cfg)
    assert resumed.signatures().count() == n_sigs

    other = cfg.with_(shingle_k=cfg.shingle_k + 1)
    with pytest.raises(ValueError, match=f"{cfg.fingerprint()}.*{other.fingerprint()}"):
        IncrementalDedup(spark, work, other)
    os.remove(record)
    with pytest.raises(ValueError, match="no config record"):
        IncrementalDedup(spark, work, cfg)


def test_fault_rows_never_reach_bands(spark, cfg, tmp_path, monkeypatch):
    """The chain's fault rule holds in streaming: a FAULT signature row
    (n_shingles = -1, empty MinHash) stays in the signatures state but
    gets no band rows — else every faulted file would share all of its
    buckets with every other one."""
    import pandas as pd

    bodies = ["POISON_MARKER one\n" * 30, "POISON_MARKER two\n" * 30,
              "def f():\n    return 1\n" * 30, "class A:\n    x = 2\n" * 30]
    files = pd.DataFrame(
        [("org/a", f"f{i}.py", f"{i}" * 40, "python", b) for i, b in enumerate(bodies)],
        columns=["repo", "path", "commit", "lang", "content"])
    src = str(tmp_path / "files.parquet")
    files.to_parquet(src, index=False)

    monkeypatch.setenv("CODEDUP_FAULT_INJECT", "POISON_MARKER")
    inc = IncrementalDedup(spark, str(tmp_path / "w"), cfg)
    inc.process_batch(spark.read.parquet(src), 0)

    sigs = inc.signatures().toPandas()
    assert len(sigs) == 4
    faulted = set(sigs.file_id[sigs.n_shingles < 0])
    assert len(faulted) == 2
    bands = inc._read_or_none(inc.bands_dir).toPandas()
    per_file = bands.groupby("file_id").size()
    assert set(per_file.index) == set(sigs.file_id) - faulted
    assert (per_file == cfg.bands).all()


def _mode_pairs(mode):
    """Hand-derived new-touching candidates for the planted buckets of
    test_incremental_candidates_policy_modes (cap 4, 3 salts)."""
    def touching(members, new):
        return {(a, b) for a in members for b in members
                if a < b and (a in new or b in new)}

    a = touching({0, 1, 2, 3}, {0})                          # size 4: small
    b_all = touching({5, 6, *range(10, 18)}, {5, 6})         # size 10
    c_all = touching({7, 50, *range(100, 130)}, {7, 50})     # size 32
    d = {(900, 901)}
    b_star = {(5, 6), (5, 10)}        # new rep 5 bridges to old rep 10
    c_star = {(7, 50), (7, 100)}      # new rep 7 bridges to old rep 100
    return {
        "star": a | b_star | c_star | d,          # every bucket > 4 is a star
        "salted": a | b_all | c_all | d,          # complete coverage everywhere
        "auto": a | b_all | c_star | d,           # star only above 4 * 3 = 12
    }[mode]


@pytest.mark.parametrize("mode,n_pairs", [("star", 8), ("salted", 82), ("auto", 23)])
def test_incremental_candidates_policy_modes(spark, tmp_path, mode, n_pairs):
    """The streaming bucket policy in all three hot-bucket modes: old
    band rows are persisted state, the new rows touch a small bucket, a
    medium and a giant hot bucket (each gaining a new min id, so the
    star regime must bridge new rep to old rep), a brand-new bucket and
    a singleton."""
    schema = "file_id long, band int, band_hash long"
    old = ([(i, 0, 1000) for i in (1, 2, 3)]
           + [(i, 1, 1001) for i in range(10, 18)]
           + [(i, 2, 1002) for i in range(100, 130)])
    new = [(0, 0, 1000), (5, 1, 1001), (6, 1, 1001), (50, 2, 1002), (7, 2, 1002),
           (900, 3, 1003), (901, 3, 1003), (902, 4, 1004)]
    mcfg = DedupConfig(band_bucket_cap=4, salt_buckets=3, hot_bucket_mode=mode)
    inc = IncrementalDedup(spark, str(tmp_path / mode), mcfg)
    old_bands = spark.createDataFrame(old, schema)
    old_bands.write.parquet(os.path.join(inc.bands_dir, "batch_id=0"))
    # every committed batch writes its bucket stats next to its bands
    old_bands.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("file_id").alias("rep")
    ).write.parquet(os.path.join(inc.stats_dir, "batch_id=0"))
    cands, _ = inc._incremental_candidates(
        spark.createDataFrame(new, schema), inc._read_or_none(inc.bands_dir))
    got = [(r.a, r.b) for r in cands.collect()]
    assert len(got) == len(set(got)) == n_pairs
    assert set(got) == _mode_pairs(mode)
