"""Verified-pair reuse within a session: a second LSH query over the
same corpus and config must reuse the materialized pair table instead
of re-running signatures/LSH/verify, and the in-memory layer must stay
bounded."""

import os

import pytest

from codedup import queries as Q

SF = "/root/testdata/sf0.001"


def test_same_session_reuses_pairs_without_recompute(spark, monkeypatch):
    Q.clear_pairs_cache()
    want = (
        Q.q_dedup_minhash_lsh(spark, SF)
        .toPandas().sort_values(["a", "b"], ignore_index=True)
    )
    import codedup.pipeline as pipemod

    def boom(*a, **k):
        raise AssertionError("signatures recomputed despite the pairs cache")

    monkeypatch.setattr(pipemod, "compute_signatures", boom)
    got = (
        Q.q_dedup_minhash_lsh(spark, SF)
        .toPandas().sort_values(["a", "b"], ignore_index=True)
    )
    assert got.equals(want)
    # the patch does reach the stage chain: without the cached pairs the
    # same call recomputes signatures
    Q.clear_pairs_cache()
    with pytest.raises(AssertionError, match="recomputed"):
        Q.q_dedup_minhash_lsh(spark, SF)


def test_lsh_queries_share_the_sha_groups(spark, monkeypatch):
    """The documents' sha-group table is built once per session and
    corpus: after dedup_minhash_lsh, the token-shingle query runs its
    own chain on the same table without fingerprinting or grouping."""
    Q.clear_pairs_cache()
    Q.q_dedup_minhash_lsh(spark, SF).collect()
    import codedup.stages.exact as exact
    import codedup.stages.fingerprint as fpmod

    def boom(*a, **k):
        raise AssertionError("sha groups rebuilt despite the in-session table")

    monkeypatch.setattr(exact, "representatives", boom)
    monkeypatch.setattr(fpmod, "fingerprint", boom)
    assert Q.q_dedup_minhash_lsh_tokens(spark, SF).count() > 0
    Q.clear_pairs_cache()


def test_lsh_build_materializes_only_tables_read_twice(spark, monkeypatch):
    """One dedup_minhash_lsh build checkpoints the sha groups (read by
    signatures, verify, the re-expansion and the cluster edges), the
    signatures (read by banding and verify) and the verified rep pairs
    (memoized per config: read by the re-expansion and the cluster
    edges); candidates has one reader and stays lazy."""
    import codedup.pipeline as pipemod

    names = []
    real = pipemod.checkpoint_stage

    def recording(name, build):
        names.append(name)
        return real(name, build)

    monkeypatch.setattr(pipemod, "checkpoint_stage", recording)
    Q.clear_pairs_cache()
    assert Q.q_dedup_minhash_lsh(spark, SF).count() > 0
    assert sorted(names) == sorted(["reps", "signatures", Q.DOCS_CFG.fingerprint()])
    Q.clear_pairs_cache()


def test_in_memory_cache_bounded():
    Q.clear_pairs_cache()
    for i in range(2 * Q._PAIRS_CACHE_CAP):
        Q._cache_put(("app1", f"dir{i}", "cfg"), object())
    assert len(Q._PAIRS_CACHE) <= Q._PAIRS_CACHE_CAP
    # oldest evicted, newest kept
    assert ("app1", f"dir{2 * Q._PAIRS_CACHE_CAP - 1}", "cfg") in Q._PAIRS_CACHE
    assert ("app1", "dir0", "cfg") not in Q._PAIRS_CACHE
    # a new application id drops every other session's entries
    Q._cache_put(("app2", "dirX", "cfg"), object())
    assert list(Q._PAIRS_CACHE) == [("app2", "dirX", "cfg")]
    Q.clear_pairs_cache()


@pytest.mark.skipif(os.environ.get("CODEDUP_SLOW") != "1",
                    reason="multi-corpus churn sweep; set CODEDUP_SLOW=1")
def test_cache_churn_releases_executor_storage(spark, tmp_path):
    """VERDICT r4 #8: sweep >CAP corpora through the pairs-cached query
    path in ONE session (exercising the eviction unpersist), then
    clear_pairs_cache() — executor RDD storage must return to the
    pre-sweep baseline (no pinned CacheManager plans, no leaked
    localCheckpoint blocks once the references die)."""
    import gc
    import time

    import random

    sc = spark.sparkContext

    def stored_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    baseline = stored_ids()
    n_corpora = Q._PAIRS_CACHE_CAP + 3          # force evictions too
    for i in range(n_corpora):
        d = str(tmp_path / f"c{i}")
        rng = random.Random(1000 + i)
        base = ["".join(rng.choice("abcdefgh ") for _ in range(300))
                for _ in range(30)]
        texts = base + [t[:-3] + "zzz" for t in base[:10]]   # planted dups
        rows = [(j, "en", t) for j, t in enumerate(texts)]
        spark.createDataFrame(rows, "doc_id long, lang string, text string") \
            .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
        Q.QUERIES["dedup_minhash_lsh"](spark, d).collect()
    assert len(Q._PAIRS_CACHE) <= Q._PAIRS_CACHE_CAP   # cap held under churn

    Q.clear_pairs_cache()
    # localCheckpoint blocks are freed by the ContextCleaner only after
    # BOTH the python and JVM references are gone — poll under GC
    deadline = time.time() + 60
    leaked = None
    while time.time() < deadline:
        gc.collect()
        sc._jvm.System.gc()
        leaked = stored_ids() - baseline
        if not leaked:
            break
        time.sleep(1)
    assert not leaked, f"RDD storage not released after churn: {leaked}"
