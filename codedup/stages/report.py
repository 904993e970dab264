"""Stage 8/9 — exemplars, savings, report.

Reference analogs:
  W1 keep-best election (cli.py:29-30, 253-256; classifier.py:453-456)
      -> row_number window, rank 1 = exemplar (keep), rest = duplicates
  W2 composite score (classifier.py:764-786)
      -> configurable column expression; default = size desc (the scan
         pipeline's keep-largest rule) with deterministic file_id
         tie-break
  A2/A3/A4 savings + counters (dedup.py:32-74)
      -> hash aggregates per cluster + one global aggregate
  JSON report shape mirrors cli.py:285-321 / report1.json:4-17.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rank_members(clusters: DataFrame, fp: DataFrame, score: Column | None = None) -> DataFrame:
    """clusters(file_id, cluster_id) ⋈ fingerprints -> + rank (1 = keep).

    Default score = size (keep-largest, cli.py:29-30); ties broken by
    file_id so ranking is rerun-stable."""
    members = clusters.join(
        fp.select("file_id", "key", "repo", "path", "lang", "size", "sha256"), "file_id"
    )
    order = [F.desc("size"), F.asc("file_id")] if score is None else [F.desc(score), F.asc("file_id")]
    w = Window.partitionBy("cluster_id").orderBy(*order)
    return members.withColumn("rank", F.row_number().over(w))


def cluster_stats(ranked: DataFrame) -> DataFrame:
    """Per-cluster aggregates (group total/savings, dedup.py:32-44).

    A cluster whose members all share one sha256 is an exact group
    (match_type='exact', dedup.py:30); otherwise it contains true
    near-duplicates.  ``min = max`` decides it in the one hash
    aggregate, where a distinct count would plan a second one."""
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size").alias("total_size"),
        (F.sum("size") - F.max("size")).alias("potential_savings"),
        (F.min("sha256") == F.max("sha256")).alias("exact"),
    )


def cluster_samples(ranked: DataFrame, n: int = 5) -> DataFrame:
    """W3 first-N truncation, relationally (cli.py:130-133 shows the
    first 10 errors; classifier.py:286 samples paths[:5]): per cluster,
    the first ``n`` member keys in rank order — slice(sort_array(...))
    keeps the agg bounded and deterministic; the collect_list never
    leaves the executor."""
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.slice(
            F.sort_array(F.collect_list(F.struct("rank", "key"))), 1, n
        ).getField("key").alias("sample_keys"),
    )


def action_plan(ranked: DataFrame) -> DataFrame:
    """S10/S12 analog: the reference MOVES duplicate files to a review
    folder (cli.py:240-282) / organizes by category (classify_server.py:
    382-451).  The engine never mutates storage; it emits a declarative
    action table a downstream job can apply idempotently:

        keep    rank 1 (the exemplar)
        dedup   rank > 1, byte-identical to the exemplar's content
        review  rank > 1, near-duplicate (human-or-policy decision)
    """
    keep = ranked.filter(F.col("rank") == 1).select(
        "cluster_id", F.col("sha256").alias("_keep_sha")
    )
    return (
        ranked.join(keep, "cluster_id")
        .withColumn(
            "action",
            F.when(F.col("rank") == 1, F.lit("keep"))
            .when(F.col("sha256") == F.col("_keep_sha"), F.lit("dedup"))
            .otherwise(F.lit("review")),
        )
        .withColumn(
            "reason",
            F.when(F.col("rank") == 1, F.lit("largest member (keep-best election)"))
            .when(F.col("sha256") == F.col("_keep_sha"), F.lit("byte-identical to kept file"))
            .otherwise(F.lit("near-duplicate of kept file")),
        )
        .select("file_id", "key", "cluster_id", "rank", "action", "reason")
    )


_SIZE_UNITS = ["B", "KB", "MB", "GB", "TB", "PB"]


def format_size(n: int) -> str:
    """K8 human size formatter (reference utils: 1536 -> '1.5 KB').
    Driver-side twin of format_size_col for report dicts."""
    x = float(n)
    for u in _SIZE_UNITS:
        if abs(x) < 1024.0 or u == _SIZE_UNITS[-1]:
            return f"{int(x)} {u}" if u == "B" else f"{x:.1f} {u}"
        x /= 1024.0
    return f"{x:.1f} PB"


def format_size_col(col: Column) -> Column:
    """K8 as a JVM expression (no UDF): human-readable size string for
    report columns — log-bucketed unit + one decimal."""
    c = col.cast("double")
    # built smallest-unit-out, so the final CASE checks largest first;
    # B stays integer like the reference
    out = F.concat(col.cast("long").cast("string"), F.lit(" B"))
    scale = 1024.0
    for u in _SIZE_UNITS[1:]:
        out = F.when(c >= scale, F.concat(F.round(c / scale, 1).cast("string"),
                                          F.lit(" " + u))).otherwise(out)
        scale *= 1024.0
    return out


def reconcile_members(old: DataFrame, new: DataFrame) -> DataFrame:
    """J8 report-item reconciliation (MERGE shape): full outer join of
    two runs' member tables on file_id, per-row status:

        new        in the new run only (file appeared / newly grouped)
        removed    in the old run only
        moved      present in both, cluster changed
        unchanged  present in both, same cluster

    This is the relational core of the reference's report-item matching
    (server.py report reconciliation); an Iceberg deployment would
    express the same thing as MERGE INTO."""
    o = old.select(F.col("file_id"), F.col("cluster_id").alias("old_cluster"))
    n = new.select(F.col("file_id"), F.col("cluster_id").alias("new_cluster"))
    return (
        o.join(n, "file_id", "full_outer")
        .withColumn(
            "status",
            F.when(F.col("old_cluster").isNull(), "new")
            .when(F.col("new_cluster").isNull(), "removed")
            .when(F.col("old_cluster") != F.col("new_cluster"), "moved")
            .otherwise("unchanged"),
        )
    )


def render_html_report(report: dict) -> str:
    """S13 HTML sink: the reference writes an HTML report next to the
    JSON one (cli.py --format html).  Report-sized data, driver-side by
    design; structure mirrors reference_style_report's dict."""
    import html

    s = report.get("summary", {})
    rows = "".join(
        f"<tr><td>{html.escape(str(k))}</td><td>{html.escape(str(v))}</td></tr>"
        for k, v in sorted(s.items())
    )

    def group_rows(groups, id_key):
        out = []
        for g in groups[:1000]:  # W3 truncation guards the sink too
            files = ", ".join(html.escape(f["path"]) for f in g["files"][:5])
            more = f" (+{len(g['files']) - 5} more)" if len(g["files"]) > 5 else ""
            out.append(
                f"<tr><td>{html.escape(str(g.get(id_key, '')))}</td>"
                f"<td>{len(g['files'])}</td>"
                f"<td>{format_size(g['potential_savings'])}</td>"
                f"<td>{files}{more}</td></tr>"
            )
        return "".join(out)

    exact = group_rows(report.get("exact_duplicates", []), "hash")
    similar = group_rows(report.get("similar_groups", []), "group_id")
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        "<title>codedup report</title></head><body>"
        f"<h1>Deduplication report</h1><table>{rows}</table>"
        f"<h2>Exact duplicates</h2><table><tr><th>hash</th><th>files</th>"
        f"<th>savings</th><th>members</th></tr>{exact}</table>"
        f"<h2>Similar groups</h2><table><tr><th>group</th><th>files</th>"
        f"<th>savings</th><th>members</th></tr>{similar}</table>"
        "</body></html>"
    )


def greedy_groups(verified: DataFrame, order: DataFrame) -> list[list[str]]:
    """EXACT reference grouping semantics (dedup.py:204-240): iterate
    files in scan order; the first unmatched file seeds a group and
    absorbs every later unmatched file within threshold OF THE SEED.

    Connected components (the scalable default) are a coarsening of
    this; when byte-for-byte parity with the reference's similar-groups
    output is required, this driver-side pass over the (small) verified
    pair set reproduces it.  ``order`` supplies (file_id, key); scan
    order = ascending key, matching the oracle/reference enumeration.

    Driver-side by design: the pair set is tiny relative to the corpus
    (like the reference's in-memory match loop over scan survivors).

    Greedy grouping is ENUMERATION-ORDER dependent, so parity requires
    the same representative choice and scan order as the reference:
    each distinct content is represented by its first-seen member under
    the (repo, path, commit) TUPLE sort — NOT the concatenated key
    string, whose order flips when one path is a prefix of another
    ('a' vs 'a!x': '@' sorts after '!'; ADVICE r1) — and seeds iterate
    in the same tuple order."""
    verified = verified.filter(F.col("kind") != "fault")
    rows = order.select("file_id", "key", "sha256", "repo", "path", "commit").collect()
    id2sha = {r["file_id"]: r["sha256"] for r in rows}
    tup = {r["key"]: (r["repo"], r["path"], r["commit"]) for r in rows}
    canon: dict[str, str] = {}
    for r in rows:
        s = r["sha256"]
        if s not in canon or tup[r["key"]] < tup[canon[s]]:
            canon[s] = r["key"]

    adj: dict[str, set[str]] = {}
    for r in verified.select("a", "b").collect():
        ka = canon.get(id2sha.get(r["a"]))
        kb = canon.get(id2sha.get(r["b"]))
        if ka is None or kb is None or ka == kb:
            continue
        adj.setdefault(ka, set()).add(kb)
        adj.setdefault(kb, set()).add(ka)

    keys = sorted(adj, key=lambda k2: tup[k2])
    matched: set[str] = set()
    groups: list[list[str]] = []
    for i, ka in enumerate(keys):
        if ka in matched:
            continue
        group = [ka]
        for kb in keys[i + 1:]:
            if kb not in matched and kb in adj[ka]:
                group.append(kb)
                matched.add(kb)
        if len(group) > 1:
            matched.add(ka)
            groups.append(group)
    return groups


def reference_style_report(summary_rep: dict, ranked: DataFrame, verified: DataFrame) -> dict:
    """Full report in the reference's JSON shape (cli.py:285-321,
    report1.json): summary + exact_duplicates[] + similar_groups[].
    ``summary_rep`` is the run's ``summary(fp, ranked)`` (the pipeline's
    ``report``), passed in rather than recomputed.

    A cluster whose members share one sha256 maps to the reference's
    exact_duplicates entry; clusters with >1 distinct content map to
    similar_images groups (their pairwise signals aggregated).  Group
    member lists are collected driver-side — duplicate groups are a
    vanishing fraction of the corpus, like the reference's report."""
    import collections

    members = ranked.select("cluster_id", "key", "size", "sha256", "rank") \
        .orderBy("cluster_id", "rank").collect()
    by_cluster: dict[int, list] = collections.defaultdict(list)
    for r in members:
        by_cluster[r["cluster_id"]].append(r)

    pair_stats = {
        r["cluster_id"]: r
        for r in verified.filter(F.col("kind") != "fault").join(
            ranked.select(F.col("file_id").alias("a"), "cluster_id"), "a"
        )
        .groupBy("cluster_id")
        .agg(F.min("jaccard").alias("min_jaccard"), F.max("hamming").alias("max_hamming"))
        .collect()
    }

    exact, similar = [], []
    for cid, rows in sorted(by_cluster.items()):
        files = [{"path": r["key"], "size": int(r["size"])} for r in rows]
        total = sum(f["size"] for f in files)
        savings = total - max(f["size"] for f in files)
        if len({r["sha256"] for r in rows}) == 1:
            exact.append({
                "hash": rows[0]["sha256"],
                "files": files,
                "total_size": total,
                "potential_savings": savings,
            })
        else:
            ps = pair_stats.get(cid)
            similar.append({
                "group_id": int(cid),
                "files": files,
                "total_size": total,
                "potential_savings": savings,
                "min_jaccard": round(float(ps["min_jaccard"]), 6) if ps else None,
                "max_simhash_hamming": int(ps["max_hamming"]) if ps else None,
            })

    return {
        **summary_rep,
        "exact_duplicates": exact,
        "similar_groups": similar,
        "errors": [],
    }


def summary(fp: DataFrame, ranked: DataFrame) -> dict:
    """Driver-side small dict mirroring the reference report summary
    (report1.json:4-17).  One aggregate action: the corpus totals over
    ``fp`` cross-joined with the group totals over the per-cluster
    stats of ``ranked`` (both single-row; tests/test_job_counts.py
    pins the pipeline's job count)."""
    totals = fp.agg(
        F.count(F.lit(1)).alias("total_files"), F.sum("size").alias("total_size")
    )
    groups = cluster_stats(ranked).agg(
        F.count(F.lit(1)).alias("groups"),
        F.sum("n_files").alias("files_in_groups"),
        F.sum(F.col("exact").cast("int")).alias("exact_groups"),
        F.sum((~F.col("exact")).cast("int")).alias("near_groups"),
        F.sum("potential_savings").alias("potential_savings"),
    )
    agg = totals.crossJoin(groups).first()
    return {
        "summary": {
            "total_files": int(agg["total_files"] or 0),
            "total_size_bytes": int(agg["total_size"] or 0),
            "duplicate_groups": int(agg["groups"] or 0),
            "files_in_groups": int(agg["files_in_groups"] or 0),
            "exact_only_groups": int(agg["exact_groups"] or 0),
            "groups_with_near_duplicates": int(agg["near_groups"] or 0),
            "potential_savings_bytes": int(agg["potential_savings"] or 0),
        }
    }
