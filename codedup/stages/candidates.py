"""Stage 5 — candidate pairs: skew-aware bucket join.

The hot-bucket pathology (SURVEY §4.2.2): license boilerplate or a
vendored library puts thousands of files in one (band, band_hash)
bucket; a naive self-join emits O(k^2) pairs in a single task.

Strategy here (explicit, not left to AQE alone):
  1. bucket sizes via one aggregation; size-1 buckets dropped early
     (the overwhelming majority — they can produce no pairs);
  2. buckets with size <= band_bucket_cap: all-pairs self-join on
     (band, band_hash) with file_id_a < file_id_b;
  3. buckets larger than the cap: STAR COLLAPSE — pair every member
     with the bucket's min(file_id) only.  O(k) pairs instead of
     O(k^2), preserving connectivity (so final cluster membership is
     unaffected; pair-level recall is measured on cluster
     co-membership, SURVEY §5.2 note) while a false-positive hot
     bucket costs k verifications instead of k^2/2;
  4. explicit repartition by band_hash before the join (north_star:
     "explicit repartitioning by band-hash") + AQE skew-join for
     residual imbalance;
  5. a pair colliding in several bands is deduplicated BEFORE the
     expensive verify stage (dropDuplicates on (a,b)).

The reference's `matched`/`processed` skip-sets (dedup.py:204-217)
correspond to the a<b normalization + distinct here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codedup.config import DedupConfig


def candidate_pairs(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(file_id, band, band_hash) -> distinct (a, b) with a < b.

    Bucket sizes come from a pre-aggregated stats join, not a window:
    the window form shuffled AND sorted every band row just to count
    its bucket, while groupBy aggregates map-side (partial aggregation,
    guide §2.3) down to the >1 buckets only — on a mostly-clean corpus
    that table is near-empty, so AQE turns the annotate join into a
    broadcast and the full band stream never shuffles at all; on a
    dup-heavy corpus it degrades to the same band-hash exchange the
    window needed (minus the sort), with AQE skew-join still armed."""
    cap = cfg.band_bucket_cap
    stats = (
        bands.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("bsz"), F.min("file_id").alias("rep"))
        .filter(F.col("bsz") > 1)
    )
    sized = bands.join(stats, ["band", "band_hash"])

    small = sized.filter(F.col("bsz") <= cap).select("band", "band_hash", "file_id")
    pairs_small = (
        small.alias("x")
        .join(small.alias("y"), ["band", "band_hash"])
        .filter(F.col("x.file_id") < F.col("y.file_id"))
        .select(F.col("x.file_id").alias("a"), F.col("y.file_id").alias("b"))
    )

    hot = sized.filter(F.col("bsz") > cap)
    star = lambda df: (  # noqa: E731
        df.filter(F.col("file_id") != F.col("rep"))
        .select(F.col("rep").alias("a"), F.col("file_id").alias("b"))
    )
    if cfg.hot_bucket_mode == "salted":
        pairs_hot = _salted_pairs(hot, cfg)
    elif cfg.hot_bucket_mode == "auto":
        # graded response to skew: medium-hot buckets keep complete pair
        # coverage with the O(k^2) spread over salt tasks; gigantic
        # buckets (boilerplate pathology) degrade to O(k) star edges
        giant_at = cap * cfg.salt_buckets
        pairs_hot = _salted_pairs(hot.filter(F.col("bsz") <= giant_at), cfg).unionByName(
            star(hot.filter(F.col("bsz") > giant_at))
        )
    else:  # "star"
        pairs_hot = star(hot)

    return pairs_small.unionByName(pairs_hot).dropDuplicates(["a", "b"])


def _salted_pairs(hot: DataFrame, cfg: DedupConfig) -> DataFrame:
    """COMPLETE pair coverage of hot buckets with the skew spread over
    s^2 tasks instead of one (the north_star's salting strategy —
    chosen via hot_bucket_mode='salted' when pair-level completeness
    inside hot buckets matters more than the O(k^2) cost; 'star'
    preserves cluster membership at O(k)).

    Each member gets a deterministic salt in [0, s); the left side is
    exploded once per counterpart salt, so the join key (band,
    band_hash, salt_of_right) spreads a k-member bucket over s reduce
    tasks of ~k^2/s pairs instead of one k^2 task.  Salt is
    xxhash64-derived — rerun-stable.  Each unordered pair survives
    exactly once: it is produced from both orientations, and a < b
    keeps one."""
    s = cfg.salt_buckets
    salted = hot.select(
        "band", "band_hash", "file_id",
        F.pmod(F.xxhash64(F.col("file_id"), F.lit("salt")), F.lit(s)).alias("salt"),
    )
    left = salted.select(
        "band", "band_hash", F.col("file_id").alias("a"),
        F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("sb"),
    )
    right = salted.select(
        "band", "band_hash", F.col("file_id").alias("b"), F.col("salt").alias("sb")
    )
    return (
        left.join(right, ["band", "band_hash", "sb"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
