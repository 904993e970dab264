"""Iceberg-backed checkpoint storage — the ParquetStorage twin for a
real cluster (SURVEY §4.2.8).

Same resume contract as storage.ParquetStorage, re-expressed over
Iceberg's atomic table commits:

    stage output    -> table <catalog>.<namespace>.<run_id>_<stage>
    commit marker   -> the stage MANIFEST rides the SAME atomic commit
                       as the data, serialized into the table property
                       ``codedup.manifest`` (createOrReplace is one
                       Iceberg transaction — no marker-file ordering
                       needed, unlike the parquet backend's
                       write-data-then-manifest protocol)
    invalidation    -> is_complete compares the manifest's config_fp,
                       exactly like ParquetStorage (ST2)

The sandbox has no Iceberg runtime jar, so nothing here is exercised
against a live catalog; the class is written against the public
DataFrameWriterV2 / Spark catalog APIs only and is contract-tested with
a recording fake (tests/test_iceberg.py).  On a cluster, configure e.g.

    spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.lake.type = hive | rest | hadoop

and pass ``IcebergStorage(spark, catalog="lake", namespace="codedup",
run_id=..., config_fp=...)`` wherever a ParquetStorage is used today.
MERGE-style incremental upserts (the SignatureCache analog) map to
``MERGE INTO cache USING new ON cache.file_id = new.file_id WHEN NOT
MATCHED THEN INSERT *``.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession

MANIFEST_PROP = "codedup.manifest"


class IcebergStorage:
    def __init__(self, spark: SparkSession, catalog: str, namespace: str,
                 run_id: str, config_fp: str):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.run_id = run_id
        self.config_fp = config_fp
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    # --- identifiers ---
    def ident(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{self.run_id}_{stage}"

    # --- resume contract (mirrors ParquetStorage) ---
    def _manifest_or_none(self, stage: str) -> dict | None:
        if not self.spark.catalog.tableExists(self.ident(stage)):
            return None
        props = {
            r["key"]: r["value"]
            for r in self.spark.sql(
                f"SHOW TBLPROPERTIES {self.ident(stage)}").collect()
        }
        raw = props.get(MANIFEST_PROP)
        return json.loads(raw) if raw else None

    def is_complete(self, stage: str) -> bool:
        m = self._manifest_or_none(stage)
        return bool(m) and m.get("config_fp") == self.config_fp

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.table(self.ident(stage))

    def manifest(self, stage: str) -> dict:
        m = self._manifest_or_none(stage)
        if m is None:
            raise FileNotFoundError(f"no manifest for stage {stage}")
        return m

    def write(self, df: DataFrame, stage: str, extra: dict | None = None,
              t_start: float | None = None) -> DataFrame:
        """Data + manifest in ONE atomic Iceberg commit
        (createOrReplace); returns the re-read table so downstream
        consumers share the committed snapshot.  The frame is evaluated
        once: the lazy local checkpoint stores its blocks while the row
        count for the manifest runs, and the commit writes those blocks."""
        t0 = t_start if t_start is not None else time.time()
        df = df.localCheckpoint(eager=False)
        rows = df.count()
        manifest = {
            "stage": stage,
            "run_id": self.run_id,
            "config_fp": self.config_fp,
            "rows": int(rows),
            "wall_ms": int((time.time() - t0) * 1000),
            **(extra or {}),
        }
        (
            df.writeTo(self.ident(stage))
            .using("iceberg")
            .tableProperty(MANIFEST_PROP, json.dumps(manifest, sort_keys=True))
            .createOrReplace()
        )
        return self.spark.table(self.ident(stage))

    def all_manifests(self) -> list[dict]:
        out = []
        tables = self.spark.sql(
            f"SHOW TABLES IN {self.catalog}.{self.namespace}").collect()
        for r in tables:
            name = r["tableName"]
            if name.startswith(f"{self.run_id}_"):
                m = self._manifest_or_none(name[len(self.run_id) + 1:])
                # the name prefix alone is ambiguous (run 'r1' also
                # prefixes 'r1_extra_fingerprint', ADVICE r2): accept
                # only manifests whose RECORDED run_id matches exactly
                if m and m.get("run_id") == self.run_id:
                    out.append(m)
        return sorted(out, key=lambda m: m["stage"])
