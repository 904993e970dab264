"""Serving-layer / report-sink operators closed in round 2:
K8 size formatter, S11 delete sink, S13 HTML sink, J8 reconciliation.
(P6/P7 keyset pagination is oracle-checked as `orders_keyset_page`.)"""

import pytest
from pyspark.sql import functions as F

from codedup.apply import apply_moves, plan_deletes, post_delete_files
from codedup.stages.report import (
    format_size, format_size_col, reconcile_members, render_html_report,
)


def test_cli_query_runner():
    """`python -m codedup query <name>` serves any catalog query as
    JSON lines; 'list' enumerates the catalog; unknown names error."""
    import json
    import subprocess
    import sys

    def run(*args):
        return subprocess.run(
            [sys.executable, "-m", "codedup", "query", *args],
            capture_output=True, text=True, cwd="/root/repo", timeout=300,
        )

    listed = run("list")
    assert listed.returncode == 0
    names = listed.stdout.split()
    from codedup.queries import QUERIES
    assert names == list(QUERIES)

    bad = run("no_such_query")
    assert bad.returncode == 2 and "unknown query" in bad.stderr

    out = run("pricing_summary", "--master", "local[4]", "--limit", "0")
    assert out.returncode == 0
    rows = [json.loads(line) for line in out.stdout.splitlines() if line]
    assert len(rows) == 6 and {"l_returnflag", "sum_qty"} <= set(rows[0])


def test_banding_flags_derive_num_perm(tmp_path):
    """num_perm is bands * rows_per_band, so --bands or --rows-per-band
    alone is a valid config: a missing source is the error (exit 2),
    and a non-positive band shape is rejected with exit 2 too."""
    from codedup import cli
    from codedup.config import DedupConfig

    assert DedupConfig(bands=32).num_perm == 256
    assert DedupConfig().num_perm == 128
    with pytest.raises(ValueError):
        DedupConfig(rows_per_band=0)
    args = ["--source", str(tmp_path / "missing"), "--work-dir", str(tmp_path)]
    assert cli.main(args + ["--bands", "32"]) == 2
    assert cli.main(args + ["--rows-per-band", "4"]) == 2
    assert cli.main(args + ["--bands", "0"]) == 2


def test_format_size_python_and_column_agree(spark):
    vals = [0, 17, 1023, 1024, 1536, 1048576, 3 * 1024 ** 3, 5 * 1024 ** 4]
    py = [format_size(v) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    col = [r["s"] for r in df.select(format_size_col(F.col("n")).alias("s"))
           .collect()]
    assert py == col
    assert format_size(1536) == "1.5 KB"
    assert format_size(17) == "17 B"
    assert format_size(3 * 1024 ** 3) == "3.0 GB"


def test_reconcile_members_statuses(spark):
    old = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 30)], "file_id long, cluster_id long")
    new = spark.createDataFrame(
        [(1, 10), (2, 20), (4, 40)], "file_id long, cluster_id long")
    got = {r["file_id"]: r["status"]
           for r in reconcile_members(old, new).collect()}
    assert got == {1: "unchanged", 2: "moved", 3: "removed", 4: "new"}


def test_delete_sink_plans_only_exact_dups_and_is_idempotent(spark, tmp_path):
    acts = spark.createDataFrame(
        [(1, "r/a/k.py@c", 10, 1, "keep"),
         (2, "r/a/d.py@c", 10, 2, "dedup"),
         (3, "r/b/n.py@c", 10, 3, "review")],
        "file_id long, key string, cluster_id long, rank int, action string",
    )
    dels = plan_deletes(acts)
    assert {r["file_id"] for r in dels.collect()} == {2}  # never review/keep

    mdir = str(tmp_path / "del_manifest")
    assert apply_moves(spark, dels, mdir)["moved"] == 1
    assert apply_moves(spark, dels, mdir)["moved"] == 0  # idempotent

    fp = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "file_id long, path string")
    after = post_delete_files(fp, mdir, spark)
    assert {r["file_id"] for r in after.collect()} == {1, 3}


def test_html_report_renders(run_tiny):
    from codedup.stages.report import reference_style_report

    rep = reference_style_report(run_tiny.report, run_tiny.members,
                                 run_tiny.verified)
    html = render_html_report(rep)
    assert html.startswith("<!doctype html>")
    assert "Exact duplicates" in html and "Similar groups" in html
    # every summary figure appears
    assert str(rep["summary"]["total_files"]) in html
    # member paths are escaped + listed
    some_path = rep["similar_groups"][0]["files"][0]["path"]
    import html as html_mod
    assert html_mod.escape(some_path) in html
