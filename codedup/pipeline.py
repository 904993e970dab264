"""Pipeline orchestration: the stage DAG with checkpoint/resume.

The reference's lifecycle (find_duplicates, dedup.py:77-107: enumerate
-> hash+cache -> exact groups -> similar groups -> report) becomes a
DAG of DataFrame->DataFrame stages, each committed to a checkpoint
table (there is no in-session ``run``).  ``run`` with resume=True skips
every stage whose manifest is already committed under the current
config fingerprint — the north_rule's "resumes from the last completed
stage without recomputation" (tested in tests/test_resume.py).  The
exact phase is one sha-group table (``reps``, one ``groupBy(sha256)``):
the MinHash part of the DAG, ``minhash_chain``, runs on its
representatives, and ``cluster_edges`` joins the verified pairs with a
star of exact edges projected from its member arrays.  The LSH catalog
queries run the same chain and the same edge rule in session, with doc
ids as file ids, checkpointing only the tables two plans read
(``checkpoint_stage``).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codedup.config import DedupConfig
from codedup.ids import collided_ids, split_id_collisions
from codedup.stages.banding import band_rows
from codedup.stages.candidates import candidate_pairs
from codedup.stages.cluster import connected_components
from codedup.stages.exact import exact_edges, representatives
from codedup.stages.fingerprint import fingerprint
from codedup.stages.ingest import read_files, split_invalid
from codedup.stages.report import action_plan, rank_members, summary
from codedup.stages.signatures import compute_signatures
from codedup.stages.verify import verify_pairs
from codedup.storage import ParquetStorage, SignatureCache

STAGES = [
    "errors",
    "fingerprint",
    "id_errors",
    "reps",
    "signatures",
    "candidates",
    "verified",
    "clusters",
    "members",
    "actions",
]


@dataclass
class PipelineResult:
    fingerprints: DataFrame
    clusters: DataFrame      # (file_id, cluster_id) for files in any dup group
    members: DataFrame       # clusters ⋈ metadata + rank (1 = keep)
    verified: DataFrame      # verified near-dup pairs with signals
    actions: DataFrame       # declarative keep/dedup/review plan (S10)
    report: dict
    recomputed_stages: list[str] = field(default_factory=list)


def checkpoint_stage(name: str, build) -> DataFrame:
    """The in-session materializer, for a table two plans read: an
    eager local checkpoint cuts the lineage, so each reader reads one
    set of blocks instead of re-running the build (e.g. the signature
    kernel for banding and again for verify).  A one-reader table stays
    lazy.  Nothing survives the session; resumable stages are ``run``'s
    parquet + manifest commits."""
    return build().localCheckpoint(eager=True)


def minhash_chain(reps: DataFrame, cfg: DedupConfig, stage, sign=None):
    """reps -> signatures -> candidates -> verified, each built through
    ``stage(name, build)``: ``run``'s commits every table, an in-session
    one checkpoints only ``signatures`` (read by banding and verify).
    LSH banding runs inside the candidates stage, and ``band_rows``
    keeps FAULT signature rows out of it.  ``reps`` is the
    caller's materialized ``representatives`` table (read 3x:
    signatures and both verify content joins).  ``sign`` replaces
    ``compute_signatures(rep_ids, cfg)`` (the pipeline's cross-run
    SignatureCache).  Returns (signatures, verified)."""
    # explicit spread before the signature kernel: AQE's advisory-size
    # coalescing shrinks the representatives exchange (and a parquet
    # re-read packs small files) into a handful of partitions — right
    # for byte-bound stages, wrong for this CPU-bound Arrow stage (same
    # rationale as the verify-stage repartition)
    rep_ids = reps.select("file_id", "content").repartition(
        reps.sparkSession.sparkContext.defaultParallelism)
    sigs = stage("signatures", lambda: (sign or compute_signatures)(rep_ids, cfg))
    cands = stage("candidates", lambda: candidate_pairs(band_rows(sigs, cfg), cfg))
    verified = stage("verified", lambda: verify_pairs(cands, reps, sigs, cfg))
    return sigs, verified


def cluster_edges(verified: DataFrame, reps: DataFrame) -> DataFrame:
    """The CC input: the verified near pairs between representatives
    plus one star of exact edges per sha group, so a group of m copies
    costs m-1 edges, not m(m-1)/2.  FAULT rows are recorded, not
    clustered."""
    near = (
        verified.filter(F.col("kind") != "fault")
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
    )
    return near.unionByName(exact_edges(reps))


def run(
    spark: SparkSession,
    source_paths: list[str],
    cfg: DedupConfig | None = None,
    work_dir: str | None = None,
    run_id: str = "run",
    resume: bool = True,
    langs: list[str] | None = None,
    storage=None,
    source_format: str = "parquet",
) -> PipelineResult:
    """Commits each stage to ``storage``, an injected backend with the
    ParquetStorage contract (is_complete/read/write) — e.g.
    iceberg.IcebergStorage — or to ParquetStorage under ``work_dir``;
    one of the two is required.  The cross-run SignatureCache is
    parquet-path-based and engages only for the default backend."""
    cfg = cfg or DedupConfig()
    if storage is None and not work_dir:
        raise ValueError("pipeline.run needs a work_dir or a storage to commit its stages to")
    store = storage if storage is not None else ParquetStorage(work_dir, run_id, cfg.fingerprint())
    recomputed: list[str] = []
    dirty = False  # once any stage recomputes, everything downstream must too

    def stage(name: str, build) -> DataFrame:
        nonlocal dirty
        if resume and not dirty and store.is_complete(name):
            return store.read(spark, name)
        dirty = True
        t0 = time.time()
        df = build()
        recomputed.append(name)
        return store.write(df, name, t_start=t0)

    files, ingest_errors = split_invalid(
        read_files(spark, *source_paths, langs=langs, fmt=source_format))
    stage("errors", lambda: ingest_errors)
    fp_all = stage("fingerprint", lambda: fingerprint(files))
    # 64-bit id-collision guard (ADVICE r1): collided rows become error
    # rows and never reach dedup — an apply job must not act on a
    # merged identity.  The guard's aggregation runs once, in this
    # stage's build; every consumer of ``fp`` sees a plain filter of
    # the fingerprint table, with the id set read back from the
    # committed id_errors table (so a resume never re-aggregates)
    id_errors = stage("id_errors", lambda: split_id_collisions(fp_all)[1].select(
        "repo", "path", "commit",
        F.lit("identity").alias("stage"),
        F.lit("64-bit file_id collision").alias("message"),
    ))
    fp, _ = split_id_collisions(fp_all, collided_ids(id_errors))
    # the one sha-group table: LSH runs on its representatives, and its
    # member arrays give the exact edges
    reps = stage("reps", lambda: representatives(fp))

    # ``cached`` lists the cache files once, before this run appends
    cache = SignatureCache(store.root, cfg.fingerprint()) if hasattr(store, "root") else None
    cached = cache.read(spark) if cache is not None else None

    def cached_signatures(rep_ids: DataFrame, cfg: DedupConfig) -> DataFrame:
        if cached is None:
            return compute_signatures(rep_ids, cfg)
        misses = rep_ids.join(cached.select("file_id"), "file_id", "left_anti")
        hits = cached.join(rep_ids.select("file_id"), "file_id", "left_semi")
        return hits.unionByName(compute_signatures(misses, cfg))

    sigs, verified = minhash_chain(
        reps, cfg, stage, sign=cached_signatures if cache is not None else None)
    if cache is not None and "signatures" in recomputed:
        # appended from the committed stage table, so the kernel runs
        # once per representative.  FAULT sentinels are this run's
        # record, not a reusable result: caching one would make every
        # later run skip that file
        new_sigs = sigs.filter(F.col("n_shingles") >= 0)
        if cached is not None:
            new_sigs = new_sigs.join(cached.select("file_id"), "file_id", "left_anti")
        cache.append(new_sigs)

    clusters = stage("clusters", lambda: connected_components(cluster_edges(verified, reps)))
    members = stage("members", lambda: rank_members(clusters, fp))
    actions = stage("actions", lambda: action_plan(members))
    rep = summary(fp, members)

    if hasattr(store, "run_dir"):
        with open(os.path.join(store.run_dir, "report.json"), "w") as f:
            json.dump(rep, f, indent=1, sort_keys=True)

    return PipelineResult(
        fingerprints=fp,
        clusters=clusters,
        members=members,
        verified=verified,
        actions=actions,
        report=rep,
        recomputed_stages=recomputed,
    )
