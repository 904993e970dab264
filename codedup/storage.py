"""Checkpoint storage: per-stage tables + manifests + per-partition lineage.

Generalizes the reference's SQLite incremental cache
(/root/reference/src/image_dedup/cache.py): where the reference commits
one row per hashed file (cache.py:122-126) and invalidates on
size/mtime change (cache.py:91-95), we commit one *stage* per snapshot,
key every manifest by the config fingerprint (a config change
invalidates everything, like a hash_size change would), and make
file-level incrementality a relational anti-join (see
``SignatureCache``) instead of per-row point lookups.

Layout (ParquetStorage; an Iceberg-backed twin would use table idents +
snapshot commits — same interface, swapped on a real cluster where the
runtime jar exists):

    <root>/runs/<run_id>/<stage>/part-*.parquet      stage output
    <root>/runs/<run_id>/<stage>.manifest.json       commit marker (written LAST -> atomic)
    <root>/cache/signatures/<config_fp>/             cross-run signature cache (append-only)

Manifest records: config fingerprint, row count, wall_ms,
per-partition row counts (the north_rule's "per-partition lineage and
metrics") and the stage schema.  Reading a stage back (right after its
write, or on resume) takes the schema from the manifest, so it starts
no Spark job; parquet schema inference would start one per read.  A
manifest without a schema is not complete: the stage is recomputed.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from codedup.stages.signatures import SIG_SCHEMA


def partition_rows(path: str) -> dict[str, int]:
    """Per-partition lineage of a written stage: rows per write task,
    from the parquet footers (metadata-only, no Spark job).  Spark names
    a task's files ``part-<id>-...`` with the id zero-padded to at least
    5 digits, so the key is the whole id: ``part-100000`` and
    ``part-10000`` are different tasks."""
    import glob

    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for i, f in enumerate(sorted(glob.glob(os.path.join(path, "*.parquet")))):
        name = os.path.basename(f)
        key = name.split("-")[1] if "-" in name else str(i)
        out[key] = out.get(key, 0) + pq.ParquetFile(f).metadata.num_rows
    return out


class ParquetStorage:
    def __init__(self, root: str, run_id: str, config_fp: str):
        self.root = root
        self.run_id = run_id
        self.config_fp = config_fp
        self.run_dir = os.path.join(root, "runs", run_id)
        os.makedirs(self.run_dir, exist_ok=True)

    # --- paths ---
    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.run_dir, stage)

    def manifest_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, f"{stage}.manifest.json")

    # --- resume contract ---
    def is_complete(self, stage: str) -> bool:
        """A stage is complete iff its manifest exists, was written
        under the same config fingerprint (ST2 invalidation analog) and
        records the schema ``read`` needs."""
        p = self.manifest_path(stage)
        if not os.path.exists(p):
            return False
        with open(p) as f:
            m = json.load(f)
        return m.get("config_fp") == self.config_fp and "schema" in m

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        """The committed stage table, read with the schema its manifest
        records: no footer-inference job."""
        schema = T.StructType.fromJson(self.manifest(stage)["schema"])
        return spark.read.schema(schema).parquet(self.stage_dir(stage))

    def manifest(self, stage: str) -> dict:
        with open(self.manifest_path(stage)) as f:
            return json.load(f)

    def write(self, df: DataFrame, stage: str, extra: dict | None = None,
              t_start: float | None = None) -> DataFrame:
        """Write stage output + manifest; returns the committed table
        through ``read`` (reading back cuts lineage like a checkpoint and
        ensures all downstream consumers share one materialization; the
        manifest carries ``df.schema``, so the read-back starts no
        job).  ``t_start``: when the stage's build began (so wall_ms
        covers eager work the build did — e.g. CC iterations — not just
        the write)."""
        t0 = t_start if t_start is not None else time.time()
        path = self.stage_dir(stage)
        df.write.mode("overwrite").parquet(path)
        per_part = partition_rows(path)
        manifest = {
            "stage": stage,
            "run_id": self.run_id,
            "config_fp": self.config_fp,
            "rows": int(sum(per_part.values())),
            "n_partitions": len(per_part),
            "partitions": {k: int(v) for k, v in per_part.items()},
            "wall_ms": int((time.time() - t0) * 1000),
            "schema": df.schema.jsonValue(),
            **(extra or {}),
        }
        tmp = self.manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path(stage))  # atomic commit marker
        return self.read(df.sparkSession, stage)

    def all_manifests(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.run_dir)):
            if name.endswith(".manifest.json"):
                with open(os.path.join(self.run_dir, name)) as f:
                    out.append(json.load(f))
        return out


class SignatureCache:
    """Cross-run, file-level incremental cache for the signatures stage —
    the direct analog of the reference's per-file SQLite hash cache
    (cache.py:63-126), as relational algebra:

        missing = files LEFT ANTI JOIN cache ON file_id     (compute these)
        result  = cache SEMI files  UNION  newly_computed   (reuse the rest)

    Append-only parquet keyed by config fingerprint: a changed file is a
    new (repo,path,commit) => new file_id; a config change is a new
    cache directory (ST2)."""

    def __init__(self, root: str, config_fp: str):
        self.dir = os.path.join(root, "cache", "signatures", config_fp)

    def exists(self) -> bool:
        return os.path.isdir(self.dir) and any(
            f.endswith(".parquet") for f in os.listdir(self.dir)
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not self.exists():
            return None
        # the known schema: no footer-inference job
        return spark.read.schema(SIG_SCHEMA).parquet(self.dir)

    def append(self, new_sigs: DataFrame) -> None:
        new_sigs.write.mode("append").parquet(self.dir)
