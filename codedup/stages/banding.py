"""Stage 4 — LSH banding: minhash[128] -> 16 x (band, band_hash) rows.

This replaces the reference's O(n^2) all-pairs Hamming loop
(dedup.py:204-240, ~8.4M comparisons at n=4107 per BASELINE.md) with
banded LSH: two files collide in band i iff their r=8 consecutive
MinHash values match, so P(candidate | Jaccard=s) = 1-(1-s^r)^b — the
s-curve midpoint for b=16,r=8 sits at ~0.71 Jaccard.

All JVM expressions: 16 static struct literals + one explode + one
xxhash64 per band.  No Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codedup.config import DedupConfig


def band_rows(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures -> (file_id, band, band_hash) with b rows per file.

    The chain's one fault rule lives here: a FAULT row (``n_shingles =
    -1`` and an empty MinHash, written when shingling a file failed; see
    signatures.py) stays visible in the signatures table but gets no
    band rows, so it never reaches candidates or verify — in the batch
    chain and in streaming alike.

    band_hash = xxhash64(band, minhash[band*r .. band*r+r-1]); hashing
    the band id in prevents cross-band collisions from aliasing."""
    b, r = cfg.bands, cfg.rows_per_band
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(F.lit(i), F.slice("minhash", i * r + 1, r)).alias("band_hash"),
        )
        for i in range(b)
    ])
    return (
        sigs.filter(F.col("n_shingles") >= 0)
        .select("file_id", F.explode(bands).alias("bh"))
        .select("file_id", F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash"))
    )
