"""Per-row fault tolerance in the Arrow stages: one poisoned document
must not fail the job, must be visible as a FAULT sentinel in the
signatures checkpoint, and must not perturb results for other files."""

import pandas as pd

from codedup.config import DedupConfig


def test_signature_fault_is_routed_not_fatal(spark, tmp_path, monkeypatch):
    from codedup import pipeline

    files = pd.DataFrame(
        [
            ("org/a", "poison.py", "a" * 40, "python", "POISON_MARKER plus content " * 20),
            ("org/a", "x.py", "b" * 40, "python", "def f():\n    return 1\n" * 30),
            ("org/b", "x_copy.py", "c" * 40, "python", "def f():\n    return 1\n" * 30 + "# v2\n"),
        ],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    src = str(tmp_path / "files.parquet")
    files.to_parquet(src, index=False)

    monkeypatch.setenv("CODEDUP_FAULT_INJECT", "POISON_MARKER")
    cfg = DedupConfig()
    res = pipeline.run(spark, [src], cfg, work_dir=str(tmp_path / "w"),
                       run_id="f", resume=False)

    sigs = spark.read.parquet(str(tmp_path / "w" / "runs" / "f" / "signatures")).toPandas()
    faults = sigs[sigs.n_shingles < 0]
    assert len(faults) == 1, "poisoned row must surface as exactly one sentinel"

    # the healthy near-dup pair is still found
    m = res.members.toPandas()
    assert set(m.path) == {"x.py", "x_copy.py"}
    assert m.cluster_id.nunique() == 1

    # and without the fault hook the same corpus signs all three rows
    monkeypatch.delenv("CODEDUP_FAULT_INJECT")
    res2 = pipeline.run(spark, [src], cfg, work_dir=str(tmp_path / "w2"),
                        run_id="f2", resume=False)
    sigs2 = spark.read.parquet(str(tmp_path / "w2" / "runs" / "f2" / "signatures")).toPandas()
    assert (sigs2.n_shingles >= 0).all()

    # a healthy rerun in the FIRST run's work dir must re-sign the
    # poisoned row: the cross-run signature cache keeps no sentinels
    pipeline.run(spark, [src], cfg, work_dir=str(tmp_path / "w"),
                 run_id="f3", resume=False)
    sigs3 = spark.read.parquet(str(tmp_path / "w" / "runs" / "f3" / "signatures")).toPandas()
    assert len(sigs3) == 3 and (sigs3.n_shingles >= 0).all()


def test_verify_fault_recorded_not_fatal(spark, monkeypatch):
    """A pair that explodes inside verification becomes a kind='fault'
    row (visible, excluded from clustering) instead of a task failure."""
    from codedup.stages.verify import verify_pairs

    monkeypatch.setenv("CODEDUP_FAULT_INJECT", "VERIFY_POISON")
    cfg = DedupConfig()
    body = "def g():\n    return 42\n" * 20
    reps = spark.createDataFrame(
        [(1, body + "VERIFY_POISON\n"), (2, body + "VERIFY_POISON !\n"),
         (3, body), (4, body + "# ok\n")],
        "file_id long, content string",
    )
    import numpy as np

    from codedup import kernels as K

    def sig_row(fid, text):
        sh = K.shingle_hashes(text, cfg.shingle_k, cfg.normalize_ws)
        return (fid, int(sh.size),
                K.minhash_signature(sh, cfg.num_perm, cfg.minhash_seed).tolist(),
                K.simhash64(sh))

    sigs = spark.createDataFrame(
        [sig_row(f, t) for f, t in [(1, body), (2, body), (3, body), (4, body)]],
        "file_id long, n_shingles int, minhash array<long>, simhash long",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
    out = verify_pairs(pairs, reps, sigs, cfg).toPandas()
    faults = out[out.kind == "fault"]
    ok = out[out.kind != "fault"]
    assert len(faults) == 1 and set(faults[["a", "b"]].iloc[0]) == {1, 2}
    assert len(ok) == 1 and set(ok[["a", "b"]].iloc[0]) == {3, 4}
