"""Action-plan APPLY job — the consuming half of S10/S12.

The reference physically moves every non-kept group member into a
destination directory, probing ``stem_N.suffix`` names until one is
free, with a dry-run mode (cli.py:240-282 ``move_duplicates``).  The
engine's batch pipeline only EMITS the declarative action table
(stages/report.py:action_plan); this module turns it into moves:

  plan_moves     deterministic (file -> destination name) assignment,
                 fully relational: candidate names are enumerated per
                 (stem, suffix), anti-joined against existing
                 destination names, and matched to movers by slot —
                 no driver-side probing loop, no collect.
  apply_moves    executes a plan against a manifest directory:
                 dry_run previews; a real run records the manifest;
                 re-running is a NO-OP (anti-join against the
                 manifest), mirroring idempotent resume semantics.
  post_apply_files   the files table as it would look after the moves
                 (moved rows re-pathed under dest_root) — the engine
                 mutates state tables, never a filesystem.

Name-conflict semantics mirror the reference: iteration order is
(cluster, rank asc = size desc, file_id); the first mover of a basename
keeps the plain name if no existing file holds it; later movers (and
collisions with existing names) take ``root_1``, ``root_2``, ... in
order, skipping taken names.  ``root`` is the stem with EVERY trailing
``_<digits>`` group stripped (``a_1_2`` -> ``a``), so each candidate
name and each name that can collide with it share one root family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MOVE_ACTIONS = ("dedup", "review")


# (stem)(suffix): suffix from the last dot, after a non-empty stem; a
# run of _<digits> groups is never a suffix (root_N probing makes it stem)
_NAME_SPLIT = r"^(.+)(\.(?!(_[0-9]+)+$)[^.]+)$"


def _with_name_parts(df: DataFrame, name_col: str) -> DataFrame:
    """Split a file name into (stem, suffix), suffix '' when the name has
    none (_NAME_SPLIT), plus its family root ``fam``: the stem with EVERY
    trailing _<digits> group stripped.  Under this split every candidate
    name a family emits (plan_moves) parses back into that family."""
    name = F.col(name_col)
    return df.withColumn(
        "stem",
        F.when(name.rlike(_NAME_SPLIT), F.regexp_extract(name, _NAME_SPLIT, 1))
        .otherwise(name),
    ).withColumn(
        "suffix", F.regexp_extract(name, _NAME_SPLIT, 2),
    ).withColumn(
        "fam", F.regexp_replace("stem", "(_[0-9]+)+$", ""),
    )


def plan_moves(actions: DataFrame, dest_root: str,
               existing: DataFrame | None = None) -> DataFrame:
    """actions(file_id, key, cluster_id, rank, action) with action in
    MOVE_ACTIONS -> moves(file_id, key, cluster_id, rank, action,
    src_name, dest_path).

    ``existing``: optional (name string) table of files already present
    in the destination; they keep their names, movers probe around
    them.

    Conflict semantics: names are grouped into FAMILIES — the root stem
    (every trailing _<digits> group stripped: 'a_1_2' -> 'a') plus
    suffix — because root_N probing makes 'a.py', 'a_1.py' and
    'a_1_2.py' share one namespace.  Stripping only the last group
    would put 'a_1_2.py' in family 'a_1', whose first candidate
    'a_1.py' lives in family 'a' and so escapes that family's blocked
    names (a cross-family collision; caught by the randomized property
    test).  So every candidate must parse back into its family:
    'a._1' is stem 'a._1' (family 'a.'), and an empty root ('_1.py')
    has no candidate 0.  Within a family: (1) the first mover
    (iteration order: cluster asc, rank asc, file_id) holding each
    distinct original basename KEEPS it when no existing file does —
    original-name priority, a deliberate deviation from the reference's
    strictly sequential probing, which can steal a later file's own name;
    (2) everyone else takes the family's free candidate sequence
    base.sfx, base_1.sfx, base_2.sfx, ... skipping existing and claimed
    names, in iteration order.  Deterministic, collision-free, linear
    candidates (never quadratic).

    Scale bound: assignment is per family, so one pathologically hot
    basename (think __init__.py at 10^12 files) serializes its movers
    into one task — fine to ~10^7 movers per name; beyond that, salt
    the group and offset each salt group by the exclusive prefix sum
    of group counts.

    Execution shape (r6): every step of the discipline — claims,
    blocked set, candidate sequence, slot matching — is local to one
    (family, suffix) group (a src_name or candidate name determines its
    own family), so the whole assignment runs as ONE cogrouped Arrow
    kernel instead of the former ~10-exchange window/anti-join
    relational cascade whose per-stage overhead dominated at every sf
    (the relational form and this kernel are pinned equal by the
    randomized property test and the DuckDB oracle, which still
    implements the relational form)."""
    import pandas as pd
    from pyspark.sql import types as T

    spark = actions.sparkSession
    movers = (
        actions.filter(F.col("action").isin(*MOVE_ACTIONS))
        # basename of the path portion of key (repo/path@commit)
        .withColumn("src_name",
                    F.element_at(F.split(F.regexp_extract("key", r"^(.*)@[^@]*$", 1), "/"), -1))
    )
    movers = _with_name_parts(movers, "src_name")

    exist = (existing if existing is not None
             else spark.createDataFrame([], "name string"))
    exist_parts = _with_name_parts(exist.select("name"), "name")

    cols = ["file_id", "key", "cluster_id", "rank", "action", "src_name"]
    out_schema = T.StructType(
        [movers.schema[c] for c in cols]
        + [T.StructField("dest_path", T.StringType())])
    prefix = dest_root.rstrip("/") + "/"

    def assign(key, mv: pd.DataFrame, ex: pd.DataFrame) -> pd.DataFrame:
        fam, suffix = key
        if len(mv) == 0:            # existing-only family: nothing moves
            out = mv.reindex(columns=cols)
            out["dest_path"] = pd.Series([], dtype=object)
            return out
        # iteration order of the discipline: cluster asc, rank asc,
        # file_id (unique -> total, deterministic)
        mv = mv.sort_values(["cluster_id", "rank", "file_id"])
        exist_names = set(ex["name"]) if len(ex) else set()
        src = mv["src_name"].tolist()
        n = len(src)
        dest = [None] * n
        # (1) original-name claims: first mover per distinct src_name,
        # name not already present at the destination
        seen: set = set()
        for i, s in enumerate(src):
            if s not in seen:
                seen.add(s)
                if s not in exist_names:
                    dest[i] = s
        blocked = exist_names | {d for d in dest if d is not None}
        # (2) family candidate sequence minus blocked names, assigned
        # to the remaining movers in iteration order ('' + '.py' would
        # parse as family '.py')
        nxt = 0 if fam else 1
        for i in range(n):
            if dest[i] is not None:
                continue
            while True:
                cand = (f"{fam}{suffix}" if nxt == 0
                        else f"{fam}_{nxt}{suffix}")
                nxt += 1
                if cand not in blocked:
                    break
            dest[i] = cand
        out = mv[cols].copy()
        out["dest_path"] = [prefix + d for d in dest]
        return out

    return (
        movers.select(*cols, "fam", "suffix").groupBy("fam", "suffix")
        .cogroup(exist_parts.select("name", "fam", "suffix").groupBy("fam", "suffix"))
        .applyInPandas(assign, schema=out_schema)
    )


def plan_deletes(actions: DataFrame) -> DataFrame:
    """S11 delete sink, planning half: rows safe to DELETE are the
    byte-identical duplicates only (action='dedup' — same sha256 as the
    kept exemplar); near-duplicates stay 'review' and are never planned
    for deletion.  Execute with apply_moves (same manifest/idempotence
    mechanics; use a separate manifest_dir) and reflect with
    post_delete_files."""
    return actions.filter(F.col("action") == "dedup").select(
        "file_id", "key", "cluster_id", "rank", "action"
    )


def post_delete_files(fp: DataFrame, manifest_dir: str, spark: SparkSession) -> DataFrame:
    """files table AFTER applied deletes: manifest rows anti-joined out
    (the state-table analog of unlink)."""
    manifest_path = os.path.join(manifest_dir, "applied.parquet")
    if not os.path.isdir(manifest_path):
        return fp
    applied = spark.read.parquet(manifest_path).select("file_id")
    return fp.join(applied, "file_id", "left_anti")


def apply_moves(spark: SparkSession, moves: DataFrame, manifest_dir: str,
                dry_run: bool = False) -> dict:
    """Execute a move plan against a manifest directory.

    dry_run: report what WOULD move; nothing written.  A real run
    appends the manifest; files already recorded there are skipped, so
    re-applying the same plan is a no-op (resume-safe, like the
    reference's cache-backed incremental scan)."""
    manifest_path = os.path.join(manifest_dir, "applied.parquet")
    if os.path.isdir(manifest_path):
        prior = spark.read.parquet(manifest_path)
        todo = moves.join(prior.select("file_id"), "file_id", "left_anti")
    else:
        prior = None
        todo = moves
    todo = todo.localCheckpoint(eager=True)  # stable across the count + write
    n = todo.count()
    if dry_run:
        return {"dry_run": True, "would_move": n, "moved": 0}
    if n:
        todo.write.mode("append").parquet(manifest_path)
    return {"dry_run": False, "would_move": n, "moved": n}


def post_apply_files(fp: DataFrame, manifest_dir: str, spark: SparkSession) -> DataFrame:
    """files-with-ids table as it stands AFTER applied moves: moved rows
    get their path rewritten to the destination (state-table analog of
    the reference's shutil.move)."""
    manifest_path = os.path.join(manifest_dir, "applied.parquet")
    if not os.path.isdir(manifest_path):
        return fp
    applied = spark.read.parquet(manifest_path).select("file_id", "dest_path")
    return (
        fp.join(applied, "file_id", "left")
        .withColumn("path", F.coalesce("dest_path", "path"))
        .drop("dest_path")
    )
