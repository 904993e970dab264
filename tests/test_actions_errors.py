"""Action-plan sink (S10) and errors side-channel tests."""

import os

from pyspark.sql import functions as F

from codedup.stages.ingest import FILES_SCHEMA, split_invalid


def test_action_plan_shape(run_tiny):
    plan = run_tiny.actions.toPandas()
    members = run_tiny.members.toPandas()
    assert len(plan) == len(members)
    assert set(plan.action.unique()) <= {"keep", "dedup", "review"}
    per_cluster = plan.groupby("cluster_id").action.apply(
        lambda s: (s == "keep").sum()
    )
    assert (per_cluster == 1).all(), "exactly one keep per cluster"
    # every dedup row is byte-identical to its cluster's kept file
    m = members.set_index("file_id")
    keep_sha = {r.cluster_id: m.loc[r.file_id].sha256
                for r in plan[plan.action == "keep"].itertuples()}
    for r in plan[plan.action == "dedup"].itertuples():
        assert m.loc[r.file_id].sha256 == keep_sha[r.cluster_id]
    for r in plan[plan.action == "review"].itertuples():
        assert m.loc[r.file_id].sha256 != keep_sha[r.cluster_id]


def test_split_invalid_routes_bad_rows(spark):
    rows = [
        ("org/a", "ok.py", "c" * 40, "python", "print(1)\n"),
        ("", "emptyrepo.py", "c" * 40, "python", "x"),
        ("org/a", "nullcontent.py", "d" * 40, "python", None),
        (None, "nullrepo.py", "e" * 40, "python", "y"),
    ]
    # nullable twin of FILES_SCHEMA: a real-world source can violate the
    # declared contract, which is exactly what the side-channel is for
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    good, errors = split_invalid(df)
    assert good.count() == 1
    e = errors.toPandas()
    assert len(e) == 3
    assert set(e.stage) == {"ingest"}
    assert (e.message.isin(["null content", "null/empty key column"])).all()


def test_errors_stage_persisted(spark, tiny, cfg, tmp_path):
    from codedup import pipeline

    res = pipeline.run(spark, [tiny["paths"]["files"]], cfg,
                       work_dir=str(tmp_path / "w"), run_id="e", resume=False)
    assert os.path.exists(str(tmp_path / "w" / "runs" / "e" / "errors.manifest.json"))
    assert res.recomputed_stages == pipeline.STAGES


def test_id_collision_guard_routes_to_errors(spark):
    """ADVICE r1: a 64-bit file_id held by two distinct keys (expected
    ~27k times at 10^12 files) must be excluded from dedup and surfaced,
    never silently merged."""
    from codedup.ids import split_id_collisions

    fp = spark.createDataFrame(
        [(100, "r1", "a.py", "c1", "k1"),
         (100, "r2", "b.py", "c2", "k2"),   # same id, different key -> collision
         (200, "r1", "c.py", "c1", "k3"),
         (200, "r1", "c.py", "c1", "k3")],  # same id, SAME key -> fine (dup row)
        "file_id long, repo string, path string, commit string, key string",
    )
    clean, collided = split_id_collisions(fp)
    assert {r["file_id"] for r in clean.collect()} == {200}
    assert {r["path"] for r in collided.collect()} == {"a.py", "b.py"}


def test_pipeline_has_id_errors_stage(run_tiny):
    from codedup import pipeline

    assert "id_errors" in pipeline.STAGES
    assert "id_errors" in run_tiny.recomputed_stages


def test_id_collision_guard_end_to_end(spark, tiny, cfg, run_tiny, tmp_path, monkeypatch):
    """Two real keys forced onto one 64-bit id: the pipeline routes both
    to id_errors, keeps them out of every dedup table, leaves every
    other file's cluster as the unpatched run has it, and a full resume
    excludes the same keys without recomputing a stage."""
    from pyspark.sql import Window

    from codedup import ids, pipeline

    # two files of one repo, each a non-minimal member of a different
    # exact group of >= 3 files: dropping them changes no representative
    # and no other file's cluster
    w = Window.partitionBy("sha256")
    cand = (
        run_tiny.fingerprints
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_min", F.min("file_id").over(w))
        .filter((F.col("_n") >= 3) & (F.col("file_id") != F.col("_min")))
        .select("file_id", "repo", "path", "commit", "sha256")
        .orderBy("repo", "path")
        .collect()
    )
    a, b = next((x, y) for i, x in enumerate(cand) for y in cand[i + 1:]
                if x["repo"] == y["repo"] and x["sha256"] != y["sha256"])
    chosen = {(r["repo"], r["path"], r["commit"]) for r in (a, b)}

    real_file_id_col = ids.file_id_col

    def colliding_file_id_col():
        hit = F.concat_ws("\x00", *ids.KEY_COLS).isin(
            *["\x00".join(k) for k in sorted(chosen)])
        return F.when(hit, F.lit(a["file_id"])).otherwise(real_file_id_col()).alias("file_id")

    monkeypatch.setattr(ids, "file_id_col", colliding_file_id_col)
    work = str(tmp_path / "w")

    def check_excluded(res):
        errs = spark.read.parquet(os.path.join(work, "runs", "c", "id_errors")).collect()
        assert {(r["repo"], r["path"], r["commit"]) for r in errs} == chosen
        assert {r["message"] for r in errs} == {"64-bit file_id collision"}
        keys = {f"{r}/{p}@{c}" for r, p, c in chosen}
        bad_ids = {a["file_id"], b["file_id"]}
        assert not bad_ids & {r["file_id"] for r in res.clusters.collect()}
        assert not keys & {r["key"] for r in res.members.collect()}
        assert not keys & {r["key"] for r in res.actions.collect()}
        assert not bad_ids & {x for r in res.verified.select("a", "b").collect() for x in r}
        before = {(r["file_id"], r["cluster_id"]) for r in run_tiny.clusters.collect()
                  if r["file_id"] not in bad_ids}
        assert {(r["file_id"], r["cluster_id"]) for r in res.clusters.collect()} == before

    first = pipeline.run(spark, [tiny["paths"]["files"]], cfg, work_dir=work, run_id="c")
    assert first.recomputed_stages == pipeline.STAGES
    check_excluded(first)
    again = pipeline.run(spark, [tiny["paths"]["files"]], cfg, work_dir=work, run_id="c")
    assert again.recomputed_stages == []
    check_excluded(again)
