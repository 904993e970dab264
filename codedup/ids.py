"""Stable identity columns.

The reference keys everything by filesystem path (cache.py:47-57 PRIMARY
KEY path).  At 10^12-file scale the key must be a fixed-width integer
that is deterministic across runs AND across cluster sizes, so:

    file_id = xxhash64(repo, path, commit)     (JVM built-in, no UDF)
    key     = repo || '/' || path || '@' || commit   (human-readable join key)

``monotonically_increasing_id`` is partition-dependent and therefore
forbidden (SURVEY §4.2 item 7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KEY_COLS = ("repo", "path", "commit")


def file_id_col() -> Column:
    return F.xxhash64(F.col("repo"), F.col("path"), F.col("commit")).alias("file_id")


def key_col() -> Column:
    return F.concat_ws("", F.col("repo"), F.lit("/"), F.col("path"), F.lit("@"), F.col("commit")).alias("key")


def with_ids(files: DataFrame) -> DataFrame:
    return files.withColumn("file_id", file_id_col()).withColumn("key", key_col())


def split_id_collisions(fp: DataFrame, collided: list[int] | None = None
                        ) -> tuple[DataFrame, DataFrame]:
    """Route 64-bit file_id collisions to the errors side-channel.

    At the design target of 10^12 files, birthday math on a 64-bit id
    expects ~27k colliding pairs; a silent collision merges two
    unrelated files into one identity — corrupting clusters and,
    worse, letting the APPLY job act on a non-duplicate (ADVICE r1).
    The guard is one aggregation: ids held by >1 distinct key are
    excluded from the pipeline and surfaced as errors (never silent).

    The aggregation runs here, once, and its id set (~0 rows in
    practice, ~27k at 10^12 files) is collected to the driver; both
    sides are then plain filters of ``fp`` (no filter at all on the
    clean side when the set is empty), so no consumer of either side
    runs the aggregation again.  ``collided`` passes a set that is already
    known instead: ``pipeline.run`` evaluates the guard once per run,
    in its id_errors stage, and takes the set back from that committed
    table with ``collided_ids`` — on a fresh run and on resume alike.

    Returns (clean, collided), both with ``file_id`` as the first
    column (the order the stage tables built from ``clean`` keep)."""
    fp = fp.select("file_id", *(c for c in fp.columns if c != "file_id"))
    if collided is None:
        # >1 distinct key <=> least key != greatest key: one shuffle,
        # where countDistinct plans two
        key = F.struct(*KEY_COLS)
        collided = [r["file_id"] for r in (
            fp.groupBy("file_id")
            .agg(F.min(key).alias("_lo"), F.max(key).alias("_hi"))
            .filter(F.col("_lo") != F.col("_hi"))
            .select("file_id")
            .collect()
        )]
    if not collided:
        return fp, fp.limit(0)
    hit = F.col("file_id").isin(collided)
    return fp.filter(~hit), fp.filter(hit)


def collided_ids(errors: DataFrame) -> list[int]:
    """The collided id set of committed id-error rows, which keep only
    the key columns: ``file_id_col`` recomputed from them (the id is a
    pure function of the key), one small job."""
    return sorted({r["file_id"] for r in errors.select(file_id_col()).collect()})
