"""Stage 2 — exact duplicates + representative election.

Reference analogs:
  J1 exact-hash grouping via defaultdict (dedup.py:130, 182-188)
      -> groupBy("sha256") hash aggregate
  P2 group-size predicate len>1 (dedup.py:184-188)
      -> size(members) > 1
  P3 exact-dup exclusion before the similar phase (dedup.py:195-201)
      -> one row per distinct content, min file_id as its
         representative; a genuine algorithmic optimization we keep —
         it collapses vendored byte-identical copies before LSH ever
         runs.

The sha groups are built once, by ``representatives``; ``exact_edges``
is a projection of that table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def representatives(fp: DataFrame) -> DataFrame:
    """One row per distinct sha256, from one ``groupBy("sha256")``:
    ``file_id`` (the representative: min file_id, deterministic across
    runs and partitionings), ``sha256``, ``content`` (any member's: all
    are byte-identical) and ``members``, the group's sorted file ids.
    ``fp`` needs only ``file_id``, ``sha256`` and ``content``: the LSH
    catalog queries pass documents with doc ids as file ids.

    Per-row memory is one sha group's member array, 8 bytes x group
    size: a 10^6-copy boilerplate file holds an 8 MB array in one row."""
    return fp.groupBy("sha256").agg(
        F.min("file_id").alias("file_id"),
        F.any_value("content").alias("content"),
        F.array_sort(F.collect_list("file_id")).alias("members"),
    ).select("file_id", "sha256", "content", "members")


def exact_edges(reps: DataFrame) -> DataFrame:
    """Star edges (u=member file_id, v=representative) for sha256
    groups with >1 member, projected from ``representatives(fp)``.

    Emitting member->min instead of all pairs keeps edge count linear in
    group size (a 10^6-copy boilerplate file yields 10^6-1 edges, not
    10^12 pairs) while preserving connectivity for CC."""
    return (
        reps.filter(F.size("members") > 1)
        .select(F.explode("members").alias("u"), F.col("file_id").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
