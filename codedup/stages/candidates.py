"""Stage 5 — candidate pairs: LSH banding + skew-aware bucket join.

Banding (``band_rows``, a pure JVM projection of the signatures) runs
inside this stage; the band rows are never checkpointed on their own.

The hot-bucket pathology (SURVEY §4.2.2): license boilerplate or a
vendored library puts thousands of files in one (band, band_hash)
bucket; a naive self-join emits O(k^2) pairs in a single task.  One
policy, ``bucket_pairs``, serves the batch ``candidate_pairs`` and the
streaming ``IncrementalDedup._incremental_candidates``:
  1. bucket sizes and reps (min file_id) via one aggregation; size-1
     buckets dropped early (the overwhelming majority);
  2. buckets with size <= band_bucket_cap: all-pairs self-join on
     (band, band_hash) with file_id_a < file_id_b;
  3. larger buckets inside ``star_regime(cfg)``: STAR COLLAPSE — pair
     every member with the bucket's rep only.  O(k) pairs instead of
     O(k^2), preserving connectivity (so final cluster membership is
     unaffected; pair-level recall is measured on cluster
     co-membership, SURVEY §5.2 note) while a false-positive hot
     bucket costs k verifications instead of k^2/2;
  4. larger buckets below the star regime: SALTED — complete pair
     coverage with the O(k^2) spread over salt_buckets tasks;
  5. a pair colliding in several bands is deduplicated BEFORE the
     expensive verify stage (dropDuplicates on (a,b)).

The reference's `matched`/`processed` skip-sets (dedup.py:204-217)
correspond to the a<b normalization + distinct here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codedup.config import DedupConfig


def star_regime(cfg: DedupConfig) -> Column:
    """The ``bsz`` predicate of star buckets, and the one reader of
    ``hot_bucket_mode``: every hot bucket (star), only buckets beyond
    cap * salt_buckets (auto), or none (salted)."""
    cap = cfg.band_bucket_cap
    if cfg.hot_bucket_mode == "star":
        return F.col("bsz") > cap
    if cfg.hot_bucket_mode == "auto":
        return F.col("bsz") > cap * cfg.salt_buckets
    return F.lit(False)


def bucket_pairs(sized: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(band, band_hash, file_id, bsz, rep) -> distinct (a, b) with a < b.

    No branch on the mode: an empty regime is a filter Catalyst folds
    to false (star mode's ``bsz > cap AND NOT bsz > cap``), so its
    branch leaves the optimized plan."""
    cap = cfg.band_bucket_cap
    star = star_regime(cfg)
    small = sized.filter(F.col("bsz") <= cap).select("band", "band_hash", "file_id")
    pairs_small = (
        small.alias("x")
        .join(small.alias("y"), ["band", "band_hash"])
        .filter(F.col("x.file_id") < F.col("y.file_id"))
        .select(F.col("x.file_id").alias("a"), F.col("y.file_id").alias("b"))
    )
    salted = _salted_pairs(sized.filter((F.col("bsz") > cap) & ~star), cfg)
    stars = (
        sized.filter(star & (F.col("file_id") != F.col("rep")))
        .select(F.col("rep").alias("a"), F.col("file_id").alias("b"))
    )
    return pairs_small.unionByName(salted).unionByName(stars).dropDuplicates(["a", "b"])


def candidate_pairs(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(file_id, band, band_hash) -> distinct (a, b) with a < b.

    Bucket sizes come from a pre-aggregated stats join, not a window:
    groupBy aggregates map-side down to the >1 buckets only, so on a
    mostly-clean corpus AQE broadcasts the stats and the band stream
    never shuffles; on a dup-heavy corpus it degrades to the band-hash
    exchange a window needs (minus the sort), AQE skew-join armed."""
    stats = (
        bands.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("bsz"), F.min("file_id").alias("rep"))
        .filter(F.col("bsz") > 1)
    )
    return bucket_pairs(bands.join(stats, ["band", "band_hash"]), cfg)


def _salted_pairs(hot: DataFrame, cfg: DedupConfig) -> DataFrame:
    """COMPLETE pair coverage of hot buckets with the skew spread over
    s tasks instead of one (the north_star's salting strategy — the
    hot buckets below ``star_regime``, where pair-level completeness
    matters more than the O(k^2) cost; star buckets keep cluster
    membership at O(k)).

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
