"""Stage 6 — verification: the second (and last) Arrow boundary.

LSH candidates are probabilistic; verification makes them exact, in
three signals (reference analog: the avg(pHash,dHash) Hamming <= 10
check, dedup.py:220-227, split into cheap->expensive tiers):

  hamming   — SimHash Hamming distance, computed JVM-side with
              bit_count(xor) BEFORE the Python boundary (K5 analog,
              hasher.py:60-71).  Recorded as a signal only; never a
              prefilter (protects the 0.99 recall bar).
  jaccard   — exact Jaccard over the true shingle sets (K10); the
              primary accept/reject filter.
  lcs_frac  — suffix-array longest-common-substring / min(len), over
              the NORMALIZED content when normalize_ws is set (K11,
              north_star's confirmation signal — the similarity notion
              throughout the pipeline is over normalized text);
              computed only for pairs that already pass the Jaccard
              threshold, with content capped at lcs_max_chars and a
              string-equality fast path, so its O(n log n) cost is
              bounded and only spent on non-identical accepted pairs.

Contents are re-joined by file_id only for candidate ids (semi-join
pattern) so shuffled bytes stay proportional to candidates, not corpus.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from codedup.config import DedupConfig

VERIFIED_SCHEMA = T.StructType([
    T.StructField("a", T.LongType(), False),
    T.StructField("b", T.LongType(), False),
    T.StructField("jaccard", T.DoubleType(), False),
    T.StructField("n_inter", T.LongType(), False),   # |shingles(a) ∩ shingles(b)|
    T.StructField("n_union", T.LongType(), False),   # |shingles(a) ∪ shingles(b)|
    T.StructField("hamming", T.IntegerType(), False),
    T.StructField("lcs_frac", T.DoubleType(), False),
    T.StructField("kind", T.StringType(), False),
])


def verify_pairs(pairs: DataFrame, reps: DataFrame, sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """candidate (a,b) -> verified near-dup pairs passing the thresholds.

    ``reps`` must carry (file_id, content); ``sigs`` (file_id, simhash).
    """
    import os

    k, norm, mode = cfg.shingle_k, cfg.normalize_ws, cfg.shingle_mode
    j_min, lcs_min, lcs_cap = cfg.jaccard_threshold, cfg.lcs_min_frac, cfg.lcs_max_chars
    lcs_on = cfg.lcs_signal
    fault_marker = os.environ.get("CODEDUP_FAULT_INJECT")  # test hook (closure-captured)

    sim = sigs.select("file_id", "simhash", "minhash")
    with_sim = (
        pairs
        .join(sim.select(F.col("file_id").alias("a"), F.col("simhash").alias("sim_a"),
                         F.col("minhash").alias("mh_a")), "a")
        .join(sim.select(F.col("file_id").alias("b"), F.col("simhash").alias("sim_b"),
                         F.col("minhash").alias("mh_b")), "b")
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"))
        .drop("sim_a", "sim_b")
    )
    if cfg.minhash_prefilter_margin is not None:
        # cheap JVM prefilter: MinHash-estimated Jaccard (slot agreement
        # fraction) must clear threshold - margin before we pay for the
        # content join + Python-side exact verification
        est_min = max(0.0, cfg.jaccard_threshold - cfg.minhash_prefilter_margin)
        agree = (
            "aggregate(zip_with(mh_a, mh_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
            " 0, (acc, v) -> acc + v)"
        )
        with_sim = with_sim.filter(F.expr(agree) >= F.lit(est_min * cfg.num_perm))
    with_sim = with_sim.drop("mh_a", "mh_b")

    content = reps.select("file_id", "content")
    joined = (
        with_sim
        .join(content.select(F.col("file_id").alias("a"), F.col("content").alias("content_a")), "a")
        .join(content.select(F.col("file_id").alias("b"), F.col("content").alias("content_b")), "b")
        .select("a", "b", "hamming", "content_a", "content_b")
        # Explicit repartition: AQE's advisory-size coalescing would shrink
        # this shuffle to ~8 partitions (64 MB each) and cap the Python
        # verify stage's parallelism; verification is CPU-bound per pair,
        # not bytes-bound, so spread it over the cores, as
        # minhash_chain does before signatures.  Round-robin (not by "a")
        # keeps hub files from skewing one task; the local sort then
        # groups each partition's share of a hub's pairs so the
        # per-partition memo below still hits.
        .repartition(pairs.sparkSession.sparkContext.defaultParallelism)
        .sortWithinPartitions("a", "b")
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from codedup import kernels as K

        # Per-partition memo of (normalized_text, shingles) keyed by
        # file_id: a hub file appearing in k candidate pairs within this
        # partition is normalized + shingled once, not k times (the
        # verify stage is the pipeline's CPU budget driver).  Bounded:
        # cleared when it would exceed the cap (contents can be wide).
        memo: dict[int, tuple[str, "object"]] = {}
        MEMO_CAP = 8192

        def prep(fid, content):
            got = memo.get(fid)
            if got is not None:
                return got
            t = K.normalize_text(content) if norm else content
            s = K.shingle_hashes(t, k, normalize_ws=False, mode=mode)
            if len(memo) >= MEMO_CAP:
                memo.clear()
            memo[fid] = (t, s)
            return memo[fid]

        for pdf in it:
            rows = {k2: [] for k2 in VERIFIED_SCHEMA.fieldNames()}
            for a, b, ham, ca, cb in zip(
                pdf["a"], pdf["b"], pdf["hamming"], pdf["content_a"], pdf["content_b"]
            ):
                try:
                    if fault_marker and (fault_marker in ca or fault_marker in cb):
                        raise RuntimeError("injected fault")
                    # normalize ONCE; every signal below (shingles, LCS)
                    # is defined over the normalized text — so trivially-
                    # reformatted pairs are string-equal here and skip
                    # the O(n log n) suffix array entirely
                    ta, sa = prep(a, ca)
                    tb, sb = prep(b, cb)
                    inter, union = K.jaccard_counts(sa, sb)
                    j = 1.0 if union == 0 else inter / float(union)
                    if j < j_min:
                        continue
                    if ta == tb:
                        lf = 1.0
                    elif lcs_on:
                        lf = K.lcs_fraction(ta, tb, max_chars=lcs_cap)
                    else:
                        lf = -1.0        # signal not computed (cfg.lcs_signal)
                    if lcs_on and lf < lcs_min:
                        continue
                    kind = "near" if j < 1.0 else "normalized_exact"
                except Exception:
                    # a failing pair is recorded as kind='fault' (never
                    # silently dropped, never fails the task); clustering
                    # excludes fault rows
                    j, inter, union, lf, kind = -1.0, 0, 0, -1.0, "fault"
                rows["a"].append(a)
                rows["b"].append(b)
                rows["jaccard"].append(j)
                rows["n_inter"].append(inter)
                rows["n_union"].append(union)
                rows["hamming"].append(int(ham))
                rows["lcs_frac"].append(lf)
                rows["kind"].append(kind)
            yield pd.DataFrame(rows, columns=list(VERIFIED_SCHEMA.fieldNames())).astype(
                {"a": "int64", "b": "int64", "jaccard": "float64", "n_inter": "int64",
                 "n_union": "int64", "hamming": "int32", "lcs_frac": "float64", "kind": "object"}
            )

    return joined.mapInPandas(batches, schema=VERIFIED_SCHEMA)
