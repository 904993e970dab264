"""codedup — a PySpark-native near-duplicate detection & clustering engine.

From-scratch reimplementation of the *capabilities* of
``fpelliccioni/image-dedup`` (reference at /root/reference, read-only),
retargeted from local perceptual-hash image dedup to content-level dedup
over large tables of source-code files.

Architecture (idiomatic Spark, NOT a port of the reference's eager
single-process Python loops — see /root/reference/src/image_dedup/dedup.py):

    files (repo, path, commit, lang, content)
      -> fingerprint: file_id=xxhash64, sha256=sha2(content), size      [JVM codegen]
      -> sha groups: one row per distinct content (rep = min file_id,   [one groupBy(sha256)]
         sorted member ids -> exact edges)
      -> signatures: shingles -> 128-perm MinHash + 64-bit SimHash      [Arrow pandas UDF]
      -> LSH banding b=16 x r=8 -> band_hash                            [posexplode + xxhash64]
      -> candidate pairs: skew-aware bucket join (cap + star collapse)  [shuffle join, AQE]
      -> verify: exact Jaccard + SimHash Hamming + LCS                  [Arrow pandas UDF]
      -> connected components: large-star/small-star to fixpoint        [iterative self-joins]
      -> stable cluster ids = min(file_id), exemplars, savings, report  [window + agg]

Only two Python/Arrow boundaries exist (signatures, verify); every other
stage runs JVM-side under whole-stage codegen.
"""

__version__ = "0.1.0"

from codedup.config import DedupConfig  # noqa: F401
