"""Command-line entry point.

Run locally:      python -m codedup --source <parquet> --work-dir <dir>
Run on a cluster: spark-submit --py-files codedup.zip -m ... (or package
                  the repo root on PYTHONPATH); no master is forced when
                  --master is omitted under spark-submit.

Reference analog: the click CLI (/root/reference/src/image_dedup/
cli.py:151-204) with scan flags --threshold/--hash-size/--no-cache;
here the tuning surface is DedupConfig and resume is the default.
"""

from __future__ import annotations

import argparse
import os
import json
import sys

from codedup.config import DedupConfig


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="codedup",
        description="PySpark-native near-duplicate detection & clustering for source code",
    )
    p.add_argument("--source", nargs="+", required=True,
                   help="parquet path(s) of files(repo,path,commit,lang,content)")
    p.add_argument("--work-dir", required=True, help="checkpoint/output directory")
    p.add_argument("--run-id", default="run")
    p.add_argument("--master", default=None,
                   help="Spark master (default: let spark-submit decide; "
                        "falls back to local[*] when run directly)")
    p.add_argument("--langs", nargs="*", default=None, help="optional lang filter")
    p.add_argument("--source-format", default="parquet",
                   choices=["parquet", "json", "csv", "orc"],
                   help="encoding of the source table(s) (default parquet)")
    p.add_argument("--no-resume", action="store_true",
                   help="recompute every stage even if checkpoints exist")
    p.add_argument("--full-report", action="store_true",
                   help="emit the reference-shaped report with per-group "
                        "member lists (cli.py:285-321 shape), not just the summary")
    p.add_argument("--html", action="store_true",
                   help="also write <work-dir>/runs/<run-id>/report.html "
                        "(S13 HTML sink, reference --format html analog)")
    p.add_argument("--jaccard-threshold", type=float, default=None)
    p.add_argument("--shingle-k", type=int, default=None)
    p.add_argument("--bands", type=int, default=None)
    p.add_argument("--rows-per-band", type=int, default=None)
    p.add_argument("--shuffle-partitions", type=int, default=32)
    return p


def query_main(argv: list[str]) -> int:
    """`python -m codedup query <name|list> [--sf-dir D] [--limit N]`:
    run any catalog query against a table directory and print JSON rows
    — the serving/CLI face of the queries() driver contract."""
    qp = argparse.ArgumentParser(prog="codedup query",
                                 description="run a catalog query")
    qp.add_argument("name", help="query name from the catalog, or 'list'")
    qp.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                    help="directory holding the parquet tables")
    qp.add_argument("--master", default="local[*]")
    qp.add_argument("--limit", type=int, default=20,
                    help="max rows printed (0 = all)")
    args = qp.parse_args(argv)

    from codedup.queries import QUERIES

    if args.name == "list":
        for name in QUERIES:
            print(name)
        return 0
    if args.name not in QUERIES:
        print(f"error: unknown query {args.name!r} (try 'list')", file=sys.stderr)
        return 2

    from codedup.session import build_session

    spark = build_session(args.master, app_name=f"codedup-query-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        df = QUERIES[args.name](spark, args.sf_dir)
        rows = df.limit(args.limit).collect() if args.limit else df.collect()
        for r in rows:
            json.dump(r.asDict(), sys.stdout, default=str)
            print()
        print(f"# {args.name}: printed {len(rows)} row(s)", file=sys.stderr)
        return 0
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "query":
        return query_main(argv[1:])
    args = build_parser().parse_args(argv)

    overrides = {
        k: v
        for k, v in {
            "jaccard_threshold": args.jaccard_threshold,
            "shingle_k": args.shingle_k,
            "bands": args.bands,
            "rows_per_band": args.rows_per_band,
        }.items()
        if v is not None
    }
    try:
        cfg = DedupConfig(**overrides)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2

    from codedup import pipeline
    from codedup.session import build_session

    master = args.master
    if master is None:
        from pyspark import SparkContext

        # under spark-submit a master is already configured; standalone we
        # default to all local cores
        master = None if SparkContext._active_spark_context else "local[*]"

    for p in args.source:
        probe = p.rstrip("/")
        if "://" not in probe and not os.path.exists(probe):
            print(f"error: source not found: {p}", file=sys.stderr)
            return 2

    spark = build_session(master, app_name=f"codedup-{args.run_id}",
                          shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("WARN")
    try:
        res = pipeline.run(
            spark,
            list(args.source),
            cfg,
            work_dir=args.work_dir,
            run_id=args.run_id,
            resume=not args.no_resume,
            langs=args.langs,
            source_format=args.source_format,
        )
        if args.full_report or args.html:
            from codedup.stages.report import reference_style_report

            full = reference_style_report(res.report, res.members, res.verified)
            out = full if args.full_report else dict(res.report)
        else:
            out = dict(res.report)
        if args.html:
            from codedup.stages.report import render_html_report

            html_path = os.path.join(args.work_dir, "runs", args.run_id, "report.html")
            os.makedirs(os.path.dirname(html_path), exist_ok=True)
            with open(html_path, "w") as f:
                f.write(render_html_report(full))
        out["config_fingerprint"] = cfg.fingerprint()
        out["recomputed_stages"] = res.recomputed_stages
        json.dump(out, sys.stdout, indent=1, sort_keys=True)
        print()
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
