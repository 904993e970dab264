"""Apply job: deterministic move planning + idempotent execution
(the consuming half of S10/S12; reference cli.py:240-282)."""

import pytest
from pyspark.sql import functions as F

from codedup.apply import apply_moves, plan_moves, post_apply_files


def _actions(spark, rows):
    return spark.createDataFrame(
        rows, "file_id long, key string, cluster_id long, rank int, action string"
    )


def test_plan_names_and_conflicts(spark):
    acts = _actions(spark, [
        (1, "r/a/keep.py@c", 10, 1, "keep"),        # rank 1 never moves
        (2, "r/a/dup.py@c", 10, 2, "dedup"),
        (3, "r/b/dup.py@c", 10, 3, "review"),       # same basename -> _1
        (4, "r/c/dup.py@c", 20, 2, "dedup"),        # third dup.py -> _2
        (5, "r/d/README@c", 20, 3, "review"),       # no dot -> README_1 style
        (6, "r/e/README@c", 30, 2, "dedup"),
    ])
    moves = {r["file_id"]: r["dest_path"]
             for r in plan_moves(acts, "/dest").collect()}
    assert 1 not in moves
    # iteration order: cluster asc, rank asc, file_id asc
    assert moves[2] == "/dest/dup.py"
    assert moves[3] == "/dest/dup_1.py"
    assert moves[4] == "/dest/dup_2.py"
    assert moves[5] == "/dest/README"
    assert moves[6] == "/dest/README_1"
    assert len(set(moves.values())) == len(moves)  # no dest collisions


def test_plan_probes_around_existing_names(spark):
    acts = _actions(spark, [
        (2, "r/a/dup.py@c", 10, 2, "dedup"),
        (3, "r/b/dup.py@c", 10, 3, "dedup"),
    ])
    existing = spark.createDataFrame(
        [("dup.py",), ("dup_2.py",), ("other.txt",)], "name string")
    moves = {r["file_id"]: r["dest_path"]
             for r in plan_moves(acts, "/dest", existing=existing).collect()}
    # plain and _2 are taken -> first free slots are _1 then _3
    assert moves[2] == "/dest/dup_1.py"
    assert moves[3] == "/dest/dup_3.py"


def test_apply_is_idempotent(spark, tmp_path):
    acts = _actions(spark, [
        (2, "r/a/x.py@c", 10, 2, "dedup"),
        (3, "r/b/y.py@c", 10, 3, "review"),
    ])
    moves = plan_moves(acts, "/dest")
    mdir = str(tmp_path / "manifest")

    dry = apply_moves(spark, moves, mdir, dry_run=True)
    assert dry == {"dry_run": True, "would_move": 2, "moved": 0}
    import os
    assert not os.path.isdir(os.path.join(mdir, "applied.parquet"))  # dry run writes nothing

    first = apply_moves(spark, moves, mdir)
    assert first["moved"] == 2
    again = apply_moves(spark, moves, mdir)
    assert again == {"dry_run": False, "would_move": 0, "moved": 0}


def test_e2e_pipeline_actions_apply(spark, run_tiny, tmp_path):
    """pipeline -> plan -> apply(dry) -> apply -> re-apply no-op, and
    the post-apply files table re-paths exactly the moved rows."""
    moves = plan_moves(run_tiny.actions, "/quarantine")
    n_movers = run_tiny.actions.filter(F.col("action") != "keep").count()
    assert moves.count() == n_movers
    assert moves.select("dest_path").distinct().count() == n_movers

    mdir = str(tmp_path / "m")
    assert apply_moves(spark, moves, mdir, dry_run=True)["would_move"] == n_movers
    assert apply_moves(spark, moves, mdir)["moved"] == n_movers
    assert apply_moves(spark, moves, mdir)["moved"] == 0

    after = post_apply_files(run_tiny.fingerprints, mdir, spark)
    moved = after.filter(F.col("path").startswith("/quarantine/")).count()
    assert moved == n_movers
    assert after.count() == run_tiny.fingerprints.count()


def test_plan_moves_properties_random(spark):
    """Property sweep without hypothesis-Spark overhead: random mover
    sets + random existing names must always yield (a) unique
    destinations, (b) no destination colliding with an existing name,
    (c) every mover assigned exactly once."""
    import numpy as np

    rng = np.random.default_rng(5)
    basenames = ["a.py", "a_1.py", "a_2.py", "a_1_1.py", "a_1_2.py", "b", "b_1",
                 "b_1_1", "c.tar.gz", "README", "x.py", "_1.py", "a.", "a._1"]
    for trial in range(8):
        movers = []
        fid = 0
        for b in basenames:
            for _ in range(int(rng.integers(0, 4))):
                fid += 1
                movers.append((fid, f"r/d{fid}/{b}@c", int(rng.integers(1, 4)) * 10,
                               int(rng.integers(2, 5)), "dedup"))
        if not movers:
            continue
        existing_names = list(rng.choice(
            ["a.py", "a_1.py", "a_2.py", "a_1_1.py", "b", "b_1", "c.tar.gz", "zzz",
             ".py", "a._1"],
            size=int(rng.integers(0, 5)), replace=False))
        acts = spark.createDataFrame(
            movers, "file_id long, key string, cluster_id long, rank int, action string")
        existing = (spark.createDataFrame([(n,) for n in existing_names], "name string")
                    if existing_names else None)
        got = plan_moves(acts, "/d", existing=existing).collect()
        dests = [r["dest_path"] for r in got]
        assert len(got) == len(movers), (trial, existing_names)
        assert len(set(dests)) == len(dests), (trial, dests)
        taken = {f"/d/{n}" for n in existing_names}
        assert not (set(dests) & taken), (trial, dests, existing_names)
