"""Stage-level unit tests: fingerprint/exact/signatures/banding/candidates
(SURVEY §5.2.2)."""

import hashlib

import numpy as np
from pyspark.sql import functions as F

from codedup import kernels as K
from codedup.config import DedupConfig
from codedup.stages.banding import band_rows
from codedup.stages.candidates import candidate_pairs
from codedup.stages.exact import exact_edges, representatives
from codedup.stages.fingerprint import fingerprint
from codedup.stages.signatures import compute_signatures


def _fp(spark, tiny):
    return fingerprint(spark.read.parquet(tiny["paths"]["files"]))


def test_sha256_invariant_vs_source(spark, tiny):
    """Per-row invariant (BASELINE.json:15): Spark's sha2 must equal
    python hashlib over the same utf-8 bytes, for every row."""
    got = {r["key"]: r["sha256"] for r in _fp(spark, tiny).select("key", "sha256").collect()}
    f = tiny["tables"]["files"]
    for _, r in f.iterrows():
        key = f"{r.repo}/{r.path}@{r.commit}"
        assert got[key] == hashlib.sha256(r.content.encode()).hexdigest()


def test_file_id_stable_across_partitionings(spark, tiny):
    df = spark.read.parquet(tiny["paths"]["files"])
    a = fingerprint(df).select("key", "file_id").toPandas().set_index("key").file_id
    b = fingerprint(df.repartition(7)).select("key", "file_id").toPandas().set_index("key").file_id
    assert a.sort_index().equals(b.sort_index())


def test_exact_groups_match_oracle(spark, tiny, oracle_tiny):
    fp = _fp(spark, tiny)
    key = {r["file_id"]: r["key"] for r in fp.select("file_id", "key").collect()}
    groups = representatives(fp).filter(F.size("members") > 1).collect()
    spark_groups = {frozenset(key[m] for m in r["members"]) for r in groups}
    assert spark_groups == set(oracle_tiny.exact_groups)


def test_representatives_one_per_content(spark, tiny):
    fp = _fp(spark, tiny)
    reps = representatives(fp)
    assert reps.count() == fp.select("sha256").distinct().count()
    # representative = min file_id of its sha group (deterministic)
    chk = (
        reps.alias("r")
        .join(fp.groupBy("sha256").agg(F.min("file_id").alias("mn")), "sha256")
        .filter(F.col("file_id") != F.col("mn"))
    )
    assert chk.count() == 0


def test_exact_edges_star_shape(spark, tiny):
    fp = _fp(spark, tiny)
    e = exact_edges(representatives(fp)).toPandas()
    assert (e.u != e.v).all()
    # every v is a group-min => v < u
    assert (e.v < e.u).all()

    # a hot sha group: 2,000 byte-identical files are one reps row (its
    # member array is the per-row memory bound) and 1,999 star edges
    n = 2000
    hot = spark.createDataFrame(
        [("org/hot", f"vendor/{i}.py", "0" * 40, "python", "# vendored hot file\n")
         for i in range(n)],
        "repo string, path string, commit string, lang string, content string")
    hot_fp = fingerprint(hot)
    ids = sorted(r["file_id"] for r in hot_fp.select("file_id").collect())
    reps = representatives(fp.unionByName(hot_fp))
    hot_reps = reps.filter(F.size("members") == n)
    row, = hot_reps.collect()
    assert row["members"] == ids
    assert row["file_id"] == ids[0]
    he = exact_edges(hot_reps).toPandas()
    assert len(he) == n - 1
    assert (he.v == ids[0]).all()
    assert sorted(he.u) == ids[1:]


def test_signatures_match_kernels(spark, tiny, cfg):
    """The Arrow UDF must agree exactly with the direct kernel calls —
    and be invariant under repartitioning (MinHash determinism across
    partition counts, SURVEY §5.2.2)."""
    fp = _fp(spark, tiny)
    reps = representatives(fp).select("file_id", "content")
    out = compute_signatures(reps, cfg).toPandas().set_index("file_id")
    out7 = compute_signatures(reps.repartition(7), cfg).toPandas().set_index("file_id")
    rows = reps.collect()
    assert len(out) == len(rows)
    for r in rows:
        sh = K.shingle_hashes(r["content"], cfg.shingle_k, cfg.normalize_ws)
        exp_mh = K.minhash_signature(sh, cfg.num_perm, cfg.minhash_seed)
        got = out.loc[r["file_id"]]
        assert got["n_shingles"] == sh.size
        assert np.array_equal(np.array(got["minhash"]), exp_mh)
        assert got["simhash"] == K.simhash64(sh)
        got7 = out7.loc[r["file_id"]]
        assert np.array_equal(np.array(got7["minhash"]), exp_mh)


def test_banding_structure(spark, tiny, cfg):
    fp = _fp(spark, tiny)
    reps = representatives(fp).select("file_id", "content")
    sigs = compute_signatures(reps, cfg)
    bands = band_rows(sigs, cfg)
    n_reps = reps.count()
    assert bands.count() == n_reps * cfg.bands
    per_file = bands.groupBy("file_id").agg(F.countDistinct("band").alias("nb"))
    assert per_file.filter(F.col("nb") != cfg.bands).count() == 0
    # same slice <-> same band hash: two identical signatures must share all bands
    dup = sigs.limit(1)
    two = dup.unionByName(dup.withColumn("file_id", F.col("file_id") + 1))
    b2 = band_rows(two, cfg)
    assert b2.groupBy("band", "band_hash").count().filter("count = 2").count() == cfg.bands


def test_candidates_cover_oracle_pairs(spark, tiny, cfg, oracle_tiny):
    """LSH candidates must contain every oracle-verified pair (recall
    at the banding level; the tiny corpus is built above the s-curve)."""
    fp = _fp(spark, tiny)
    reps = representatives(fp)
    sigs = compute_signatures(reps.select("file_id", "content"), cfg)
    cands = candidate_pairs(band_rows(sigs, cfg), cfg)
    # Compare at content (sha256) level: the oracle elects first-seen
    # representatives, the pipeline elects min-file_id — same contents,
    # possibly different member keys.
    id2sha = {r["file_id"]: r["sha256"] for r in fp.select("file_id", "sha256").collect()}
    cand_shas = set()
    for r in cands.collect():
        cand_shas.add(frozenset((id2sha[r["a"]], id2sha[r["b"]])))
    key2sha = oracle_tiny.sha256
    for _, p in oracle_tiny.pairs.iterrows():
        want = frozenset((key2sha[p.a], key2sha[p.b]))
        assert want in cand_shas, f"LSH missed oracle pair {p.a} ~ {p.b} (j={p.jaccard:.3f})"


def test_candidates_hot_bucket_star_collapse(spark, cfg):
    """A bucket over the cap must emit O(k) star pairs, not O(k^2)."""
    small_cap = cfg.with_(band_bucket_cap=10)
    n = 50
    rows = [(i, 0, 12345) for i in range(n)]
    bands = spark.createDataFrame(rows, "file_id long, band int, band_hash long")
    pairs = candidate_pairs(bands, small_cap).toPandas()
    assert len(pairs) == n - 1          # star around min, not n*(n-1)/2
    assert (pairs.a == 0).all()         # rep = min file_id
    assert (pairs.a < pairs.b).all()


def test_candidates_salted_mode_complete_coverage(spark, cfg):
    """hot_bucket_mode='salted' must emit EVERY pair of a hot bucket
    exactly once (complete coverage, skew spread over salt tasks)."""
    salted_cfg = cfg.with_(band_bucket_cap=10, hot_bucket_mode="salted", salt_buckets=4)
    n = 40
    bands = spark.createDataFrame([(i, 0, 777) for i in range(n)],
                                  "file_id long, band int, band_hash long")
    pairs = candidate_pairs(bands, salted_cfg).toPandas()
    assert len(pairs) == n * (n - 1) // 2
    assert not pairs.duplicated(["a", "b"]).any()
    assert (pairs.a < pairs.b).all()


def test_candidates_auto_mode_grades_by_size(spark, cfg):
    """'auto': medium-hot bucket -> complete coverage; gigantic -> star."""
    auto = cfg.with_(band_bucket_cap=5, hot_bucket_mode="auto", salt_buckets=4)
    medium = [(i, 0, 111) for i in range(12)]            # 5 < 12 <= 20 -> salted
    giant = [(100 + i, 0, 222) for i in range(30)]       # 30 > 20 -> star
    bands = spark.createDataFrame(medium + giant, "file_id long, band int, band_hash long")
    pairs = candidate_pairs(bands, auto).toPandas()
    med = pairs[(pairs.a < 100) & (pairs.b < 100)]
    gia = pairs[(pairs.a >= 100) | (pairs.b >= 100)]
    assert len(med) == 12 * 11 // 2        # complete
    assert len(gia) == 30 - 1              # star around min
    assert (gia.a == 100).all()


def test_candidates_pair_dedup_across_bands(spark, cfg):
    """A pair colliding in many bands must be emitted once."""
    rows = [(fid, band, 99) for fid in (1, 2) for band in range(4)]
    bands = spark.createDataFrame(rows, "file_id long, band int, band_hash long")
    pairs = candidate_pairs(bands, cfg).toPandas()
    assert len(pairs) == 1
    assert (pairs.a[0], pairs.b[0]) == (1, 2)


def test_multi_format_ingest_identical(spark, tiny, tmp_path):
    """S1 source formats: the same corpus read from json/csv/orc must
    fingerprint identically to the parquet path (sha256 set equality —
    the per-row invariant across encodings)."""
    from codedup.stages.fingerprint import fingerprint
    from codedup.stages.ingest import read_files

    base = read_files(spark, tiny["paths"]["files"])
    want = {r["sha256"] for r in fingerprint(base).select("sha256").collect()}
    n = base.count()

    for fmt in ("json", "csv", "orc"):
        p = str(tmp_path / f"files_{fmt}")
        w = base.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            # Spark's CSV WRITER also trims field-edge whitespace by
            # default (ignore*WhiteSpace write-default is true) — that
            # silently corrupts content hashes, so both sides disable it
            w = w.options(header="true", escape='"',
                          ignoreLeadingWhiteSpace="false",
                          ignoreTrailingWhiteSpace="false",
                          nullValue="\\N")
        w.format(fmt).save(p)
        got_df = read_files(spark, p, fmt=fmt)
        assert got_df.count() == n, fmt
        got = {r["sha256"] for r in fingerprint(got_df).select("sha256").collect()}
        assert got == want, f"{fmt} round-trip changed content hashes"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unsupported source format"):
        read_files(spark, "x", fmt="avro")
