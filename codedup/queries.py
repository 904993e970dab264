"""Driver-facing query catalog: Spark implementations + DuckDB oracles.

Each entry is one operator family from SURVEY §2 (or a training-data
pipeline op), expressed Spark-first, with an ANSI-SQL twin the driver
runs on DuckDB over the same parquet tables.  Conventions that make the
value-hash compare robust:

  * every computed column is aliased IDENTICALLY on both sides;
  * ratios are emitted as exact INTEGER parts-per-million
    ((x*1000000) div y) — float rounding never crosses engines;
  * money sums are rounded to 2 decimals (values far from rounding
    boundaries relative to double error);
  * rankings order by (rounded metric, id) so last-ulp float noise
    cannot flip rows.
"""

from __future__ import annotations

import functools
import hashlib
import zlib
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codedup.config import DedupConfig
from codedup.kernels import _splitmix64

# Config used by the document-dedup queries: raw text (no ws
# normalization — the SQL oracle sees raw substrings), char 8-grams.
DOCS_CFG = DedupConfig(shingle_k=8, normalize_ws=False, jaccard_threshold=0.80)
NGRAM_K = 8
JACCARD_MIN_PPM = 800_000  # 0.80 as ppm

# The token separator every engine shares: Java's \s (Spark split) and
# the Python kernels split on these six ASCII characters, but RE2's \s
# (DuckDB) leaves out the vertical tab, so the oracles spell the class
# out.  The same text is a valid Python re and RE2 pattern.
_WS = "[ \\t\\n\\r\\f\\x0b]+"
_SQL_TOKENS = f"list_filter(string_split_regex(text, '{_WS}'), x -> x <> '')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# documents: fingerprint / exact dedup (K1, J1, A1)
# ---------------------------------------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/S4: per-row sha256 fingerprint + byte stats (pure codegen)."""
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       sha256(text)                        AS sha256,
       octet_length(encode(text))::BIGINT  AS n_bytes,
       length(text)::BIGINT                AS n_chars_computed
FROM documents
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/P2/A2: exact-duplicate groups by content hash (dedup.py:182-188)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.sha2(F.col("text").cast("binary"), 256).alias("sha256"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("group_id"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        .filter(F.col("n_docs") > 1)
    )


SQL_DEDUP_EXACT = """
SELECT sha256(text)            AS sha256,
       count(*)                AS n_docs,
       min(doc_id)             AS group_id,
       sum(length(text))::BIGINT AS total_chars
FROM documents
GROUP BY 1
HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# documents: relational n-gram Jaccard (J3 made exact & relational)
# ---------------------------------------------------------------------------

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-8-gram Jaccard >= 0.5 over all pairs, via the
    block-partitioned inverted-index join
    (codedup.operators.blocked_jaccard_join): fully distributed — one
    shuffle packs documents into set-blocks, block pairs crossJoin, each
    task sweeps one block pair with vectorized bincounts.  Nothing is
    collected to the driver.  Exact integer math makes it bit-identical
    to the naive all-pairs SQL the oracle runs.

    A prefix-filtered (PPJoin) join is the wrong shape here: this
    corpus has a SMALL element universe (word-soup from a tiny
    vocabulary: every shingle is frequent), which defeats prefix
    pruning — measured 108 s vs 6 s at sf0.1.  The _text variant
    shingles inside the pack UDF, so the only shuffle is the raw
    documents — no exploded (doc, gram) rows exist at all."""
    from codedup.operators import blocked_jaccard_join_text

    docs = _t(spark, sf_dir, "documents")
    return (
        blocked_jaccard_join_text(docs, "doc_id", "text", NGRAM_K, 0.5)
        .withColumn("jaccard_ppm", F.expr("(c * 1000000) div (na + nb - c)"))
        .filter(F.col("jaccard_ppm") >= 500_000)
        .select("a", "b", "jaccard_ppm")
    )


# The all-pairs char-8-gram oracles share one fragment: the distinct
# grams per document (sh), their set sizes, and the intersection count
# of every pair sharing a gram (inter, a < b)
_SQL_NGRAM_INTER = f"""sh AS (
  SELECT DISTINCT doc_id, substr(text, i, {NGRAM_K}) AS g
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-{NGRAM_K - 1}, 1))) AS i) t
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
  FROM sh x JOIN sh y USING (g)
  WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2
)"""

SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {_SQL_NGRAM_INTER}
SELECT a, b, (c * 1000000) // (sa.n + sb.n - c) AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE (c * 1000000) // (sa.n + sb.n - c) >= 500000
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-containment near-SUBSET pairs: c / min(|A|, |B|) >= 0.9 over
    char-8-gram sets — catches a small file pasted inside a larger one,
    which Jaccard misses (J = |small| / |big| can be arbitrarily low).
    Same distributed blocked sweep as dedup_ngram_jaccard, different
    denominator; exact integer math vs the all-pairs oracle."""
    from codedup.operators import blocked_jaccard_join_text

    docs = _t(spark, sf_dir, "documents")
    return (
        blocked_jaccard_join_text(docs, "doc_id", "text", NGRAM_K, 0.9,
                                  metric="containment")
        .withColumn("containment_ppm", F.expr("(c * 1000000) div least(na, nb)"))
        .filter(F.col("containment_ppm") >= 900_000)
        .select("a", "b", "containment_ppm")
    )


SQL_DEDUP_CONTAINMENT = f"""
WITH {_SQL_NGRAM_INTER}
SELECT a, b, (c * 1000000) // least(sa.n, sb.n) AS containment_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE (c * 1000000) // least(sa.n, sb.n) >= 900000
"""


def q_doc_rarest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rarest terms (the integer-safe inverse-document-
    frequency ranking): global df per token, then each doc's 3 rarest
    tokens by (df asc, token asc), comma-joined.  The distinctive-term
    extractor of a training-data pipeline without float tf-idf — the
    ordering is exactly what idf induces, in pure integer/string sort
    (cross-engine hash-safe)."""
    # single-file scan -> spread the tokenize+explode across cores
    # before the distinct (guide §2.5 input skew)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    # per-doc dedup happens map-side (array_distinct before the
    # explode): explode(array_distinct(x)) yields exactly the distinct
    # (doc_id, tok) set, so the old global .distinct() exchange of the
    # full exploded stream is gone (guide §2.3 — shuffle fewer bytes);
    # the df aggregation map-combines to one row per distinct token
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TOKENS))).alias("tok"))
    df_t = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # single aggregation instead of window-rank + filter + re-group:
    # "3 rarest by (df asc, tok asc)" is just the first 3 of the
    # per-doc (df, tok) list sorted by exactly that order — array_sort
    # on the struct sorts field-by-field, so the selected tokens (and
    # hence the output) are identical, with one window pass and one
    # shuffle-side sort removed
    return (
        toks.join(df_t, "tok")
        .groupBy("doc_id")
        .agg(F.concat_ws(",", F.expr(
            "transform(slice(array_sort(collect_list(struct(df, tok))), 1, 3),"
            " s -> s.tok)")).alias("rarest_terms"))
    )


SQL_DOC_RAREST_TERMS = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_SQL_TOKENS}) AS tok
  FROM documents
), dfs AS (
  SELECT tok, count(*) AS df FROM toks GROUP BY 1
), ranked AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY df ASC, tok ASC) AS rn
  FROM toks JOIN dfs USING (tok)
)
SELECT doc_id,
       array_to_string(list(tok ORDER BY rn), ',') AS rarest_terms
FROM ranked
WHERE rn <= 3
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# documents: MinHash-LSH dedup (the engine's own pipeline, K2/J3/K10:
# pipeline.minhash_chain on doc ids as file ids, pipeline.cluster_edges)
# ---------------------------------------------------------------------------

# In-session reuse of the tables several catalog queries share (the
# documents' sha groups, the verified representative pairs per config,
# the doc clusters, the winnowing fingerprints): the query-layer analog
# of the pipeline's stage reuse.  _memo is the one get-or-build; _PAIRS_CACHE
# is keyed by (application id, corpus dir, tag) and BOUNDED: entries
# from other sessions are dropped on insert (their checkpointed blocks
# died with that session) and the count is capped, evicting oldest
# first.  Every entry is a pipeline.checkpoint_stage (local
# checkpoint), so no CacheManager entry exists and a dropped reference
# frees its blocks through the ContextCleaner.  Cross-session reuse is
# pipeline.run's job (resumable parquet stages under a work dir).
_PAIRS_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_PAIRS_CACHE_CAP = 8


def clear_pairs_cache() -> None:
    """Drop every in-session materialization (long-lived sessions
    sweeping many corpora/configs); the ContextCleaner frees their
    checkpointed blocks once unreferenced."""
    _PAIRS_CACHE.clear()


def _cache_put(key: tuple[str, str, str], df: DataFrame) -> None:
    for k in [k for k in _PAIRS_CACHE if k[0] != key[0]]:
        del _PAIRS_CACHE[k]          # other sessions' dead references
    while len(_PAIRS_CACHE) >= _PAIRS_CACHE_CAP:
        del _PAIRS_CACHE[next(iter(_PAIRS_CACHE))]
    _PAIRS_CACHE[key] = df


def _memo(spark: SparkSession, sf_dir: str, tag: str,
          build: Callable[[], DataFrame]) -> DataFrame:
    """``build()`` materialized once per (session, corpus, tag) through
    pipeline.checkpoint_stage; later calls read the same blocks."""
    from codedup.pipeline import checkpoint_stage

    key = (spark.sparkContext.applicationId, sf_dir, tag)
    out = _PAIRS_CACHE.get(key)
    if out is None:
        out = checkpoint_stage(tag, build)
        _cache_put(key, out)
    return out


def _verified(spark: SparkSession, sf_dir: str,
              cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """(reps, verified): pipeline.minhash_chain over the documents under
    ``cfg`` (char or token shingles), doc ids as file ids.  The sha
    groups are memoized per (session, corpus), the verified rep pairs
    per config too — see _memo; inside the chain only ``signatures``
    (read by banding and verify) is checkpointed."""
    from codedup.pipeline import checkpoint_stage, minhash_chain
    from codedup.stages.exact import representatives

    # the single-file documents scan is spread before the sha2, as
    # minhash_chain does before the signature kernel
    reps = _memo(spark, sf_dir, "reps", lambda: representatives(
        _t(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.col("doc_id").alias("file_id"),
                F.sha2(F.col("text").cast("binary"), 256).alias("sha256"),
                F.col("text").alias("content"))))
    verified = _memo(spark, sf_dir, cfg.fingerprint(), lambda: minhash_chain(
        reps, cfg, lambda name, build: (
            checkpoint_stage(name, build) if name == "signatures" else build()))[1])
    return reps, verified


def _minhash_pipeline_pairs(spark: SparkSession, sf_dir: str, cfg: DedupConfig) -> DataFrame:
    """MinHash(128) -> LSH(b=16,r=8) -> exact-verify over the documents
    table under ``cfg``, with exact-dup members re-expanded; returns
    (a, b, jaccard_ppm) over doc_ids.  Lazy: a plan over the two
    memoized tables of ``_verified``."""
    reps, verified = _verified(spark, sf_dir, cfg)

    # Re-expand through the sha groups: LSH ran on one representative
    # per distinct content, but the all-pairs oracle (and the semantics)
    # cover EVERY doc.  Each reps row holds its rep (min doc_id) and its
    # doc_ids, sorted.  A verified rep pair fans out to all member cross
    # pairs (members are byte-identical to their rep, so the Jaccard is
    # the same), and each group of m docs contributes its m(m-1)/2 intra
    # pairs at Jaccard exactly 1: doc i pairs with the docs after it in
    # the sorted array.  Each doc belongs to one group and rep pairs are
    # distinct group pairs, so expansion never duplicates a pair.  A
    # cross-pair row holds its two groups' arrays; no array larger than
    # one group is built.
    ppm = (
        F.when(F.col("n_union") == 0, F.lit(1_000_000))
        .otherwise(F.expr("(n_inter * 1000000) div n_union"))
    )
    cross = (
        verified.filter(F.col("kind") != "fault")
        .select("a", "b", ppm.alias("jaccard_ppm"))
        .join(reps.select(F.col("file_id").alias("a"), F.col("members").alias("da")), "a")
        .join(reps.select(F.col("file_id").alias("b"), F.col("members").alias("db")), "b")
        .select(F.explode("da").alias("da"), "db", "jaccard_ppm")
        .select("da", F.explode("db").alias("db"), "jaccard_ppm")
        .select(F.least("da", "db").alias("a"), F.greatest("da", "db").alias("b"),
                "jaccard_ppm")
    )
    intra = (
        reps.filter(F.size("members") > 1)
        .select("members", F.posexplode("members").alias("i", "a"))
        .select("a", F.explode(F.expr("slice(members, i + 2, size(members))")).alias("b"),
                F.lit(1_000_000).alias("jaccard_ppm"))
    )
    return cross.unionByName(intra)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real MinHash(128) -> LSH(b=16,r=8) -> exact-verify pipeline on
    the documents table.  Output = verified pairs with exact Jaccard >=
    0.80 as integer ppm.  The DuckDB oracle computes the same set
    all-pairs; equality holds because exact verification makes LSH
    false-positive-free and, on this corpus, the qualifying pairs sit at
    s >= 0.93 where the b=16/r=8 miss probability is < 1e-5 (checked in
    tests against the all-pairs result)."""
    return _minhash_pipeline_pairs(spark, sf_dir, DOCS_CFG)


# Token-shingle twin of the pipeline (config shingle_mode="token",
# K2/K9 token variant): 3-token grams, J >= 0.80.  On this corpus the
# qualifying pairs sit at token-trigram J >= 0.90 (measured), where the
# b=16/r=8 miss probability is < 1e-6.
DOCS_TOKEN_CFG = DedupConfig(
    shingle_k=3, shingle_mode="token", normalize_ws=False, jaccard_threshold=0.80
)


def q_dedup_minhash_lsh_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pipeline with TOKEN 3-gram shingles — the oracle computes
    all-pairs Jaccard over distinct 3-token substrings as strings; the
    engine hashes each token (blake2b-8) and rolls the polynomial over
    token symbols, so the two set cardinalities agree (injective whp)."""
    return _minhash_pipeline_pairs(spark, sf_dir, DOCS_TOKEN_CFG)


SQL_DEDUP_MINHASH_LSH_TOKENS = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS tk
  FROM documents
), grams AS (
  -- zero-token docs keep one sentinel gram '' (array_to_string of the
  -- empty slice is NULL -> coalesced to ''): mirrors the engine, whose
  -- verify maps n_union=0 to ppm 1000000, so two whitespace-only docs
  -- pair at 1.0 in BOTH engines (ADVICE r2: the old WHERE len(tk) > 0
  -- dropped them here while the engine emitted them)
  SELECT DISTINCT doc_id,
         coalesce(array_to_string(list_slice(tk, i, i + 2), ' '), '') AS g
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i) t
), sizes AS (
  SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
), inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
  FROM grams x JOIN grams y USING (g)
  WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, (c * 1000000) // (sa.n + sb.n - c) AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE (c * 1000000) // (sa.n + sb.n - c) >= 800000
"""


SQL_DEDUP_MINHASH_LSH = f"""
WITH {_SQL_NGRAM_INTER}
SELECT a, b, (c * 1000000) // (sa.n + sb.n - c) AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE (c * 1000000) // (sa.n + sb.n - c) >= {JACCARD_MIN_PPM}
"""


# The "arriving shard" for the incremental-ingest query: docs from this
# source are the new batch, everything else is the existing corpus
# (src7 so the sf0.01 result exercises BOTH pair kinds: 4 backfill
# pairs into the corpus and 1 within-batch pair)
_INCR_NEW_SOURCE = "src7"


def q_dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: near-dup pairs TOUCHING a newly arrived
    shard (source = ``_INCR_NEW_SOURCE``) against the already-deduped
    corpus — the
    primitive a production pipeline runs per ingest instead of
    re-deduping 100 TB.  Output = verified pairs with exact Jaccard >=
    0.80 where at least one side is new; ``is_backfill`` = 1 marks
    pairs bridging into the existing corpus (the new doc is a dup of
    history), 0 marks within-batch pairs.

    Semantics: exactly the batch pair set restricted to new-touching
    pairs — the policy equality the streaming engine proves
    (codedup/streaming.py:_incremental_candidates, which generates
    candidates from persisted per-(band, band_hash) bucket stats so the
    per-batch cost is independent of history size; measured flat over
    40 batches, BENCH/BASELINE.md).  This catalog form reuses the
    verified-pair table and projects the new-touching subset, so the
    oracle pins the SEMANTICS; the incremental candidate plan itself is
    exercised and measured through the streaming engine's tests/tiers."""
    pairs = _minhash_pipeline_pairs(spark, sf_dir, DOCS_CFG)
    srcs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("source") == _INCR_NEW_SOURCE, F.lit(1)).otherwise(F.lit(0))
        .alias("is_new"),
    )
    return (
        pairs
        .join(srcs.select(F.col("doc_id").alias("a"), F.col("is_new").alias("na")), "a")
        .join(srcs.select(F.col("doc_id").alias("b"), F.col("is_new").alias("nb")), "b")
        .filter(F.col("na") + F.col("nb") >= 1)
        .select("a", "b", "jaccard_ppm",
                F.expr("CASE WHEN na + nb = 1 THEN 1 ELSE 0 END")
                .cast("long").alias("is_backfill"))
    )


SQL_DEDUP_INCREMENTAL_BATCH = f"""
WITH {_SQL_NGRAM_INTER}, srcs AS (
  SELECT doc_id,
         (CASE WHEN source = '{_INCR_NEW_SOURCE}' THEN 1 ELSE 0 END) AS is_new
  FROM documents
)
SELECT a, b, (c * 1000000) // (sa.n + sb.n - c) AS jaccard_ppm,
       (CASE WHEN na.is_new + nb.is_new = 1 THEN 1 ELSE 0 END)::BIGINT AS is_backfill
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
JOIN srcs na ON na.doc_id = a
JOIN srcs nb ON nb.doc_id = b
WHERE (c * 1000000) // (sa.n + sb.n - c) >= {JACCARD_MIN_PPM}
  AND na.is_new + nb.is_new >= 1
"""


# ---------------------------------------------------------------------------
# documents: text analysis (tokens / quality / language heuristic)
# ---------------------------------------------------------------------------

_TOKENS = "filter(split(text, '\\\\s+'), x -> x != '')"


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality signals per document, all integer-exact
    (higher-order array functions, no UDF, no shuffle beyond the scan)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"size({_TOKENS})").cast("long").alias("n_tokens"),
        F.expr(f"size(array_distinct({_TOKENS}))").cast("long").alias("n_uniq_tokens"),
        F.expr(
            f"aggregate(transform({_TOKENS}, x -> length(x)), 0L, (acc, v) -> acc + v)"
        ).alias("token_chars"),
        F.expr(
            f"CASE WHEN size({_TOKENS}) = 0 THEN 0 ELSE"
            f" (size(array_distinct({_TOKENS})) * 1000000) div size({_TOKENS}) END"
        ).cast("long").alias("uniq_ratio_ppm"),
    )


SQL_TEXT_STATS = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS tk
  FROM documents
)
SELECT doc_id,
       len(tk)::BIGINT AS n_tokens,
       len(list_distinct(tk))::BIGINT AS n_uniq_tokens,
       coalesce(list_sum(list_transform(tk, x -> length(x))), 0)::BIGINT AS token_chars,
       (CASE WHEN len(tk) = 0 THEN 0
             ELSE (len(list_distinct(tk)) * 1000000) // len(tk) END)::BIGINT AS uniq_ratio_ppm
FROM toks
"""


# BPE-ish pre-tokenizer: GPT-2-style contractions / letter runs /
# digit runs / punctuation runs / whitespace, WITHOUT the lookahead
# (RE2 in DuckDB has no lookahead; Java and RE2 agree on this subset).
# The SQL-literal form differs per engine: Spark SQL string literals
# process backslash escapes (regex \s must be written \\s), DuckDB's do
# not; RE2's \s also needs the vertical tab added (see _WS).
# Apostrophes double in both.
_BPE_CORE = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9{WS}]+|[{WS}]+"
_BPE_SPARK_LIT = _BPE_CORE.format(WS="\\\\s").replace("'", "''")
_BPE_DUCK_LIT = _BPE_CORE.format(WS="\\s\\x0b").replace("'", "''")


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex pre-tokenizer (the
    training-data pipeline's token-budget estimator): counts of GPT-2
    style pre-tokens (contractions, letter runs, digit runs,
    punctuation runs; whitespace runs excluded from the count) and the
    distinct-token count.  Pure codegen regexp_extract_all."""
    toks = f"filter(regexp_extract_all(text, '{_BPE_SPARK_LIT}', 0), x -> trim(x) != '')"
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"size({toks})").cast("long").alias("n_bpe_tokens"),
        F.expr(f"size(array_distinct({toks}))").cast("long").alias("n_distinct_bpe_tokens"),
    )


SQL_BPE_TOKEN_STATS = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(text, '{_BPE_DUCK_LIT}'), x -> trim(x) <> '') AS tk
  FROM documents
)
SELECT doc_id,
       len(tk)::BIGINT AS n_bpe_tokens,
       len(list_distinct(tk))::BIGINT AS n_distinct_bpe_tokens
FROM toks
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization over the events table (the batch view of the
    stateful-streaming operator): per user, a new session starts when
    the gap to the previous event exceeds 30 minutes — lag + cumulative
    sum of session starts, the canonical Spark windowing composition.
    Output is integer-only (counts), cross-engine exact."""
    e = _t(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = e.select(
        "user_id", "ts", "event_id",
        # TIMESTAMP_NTZ has no direct long cast under ANSI;
        # unix_timestamp uses the session tz (pinned UTC in
        # build_session) == DuckDB's epoch() on naive timestamps
        F.when(
            (F.unix_timestamp("ts")
             - F.lag(F.unix_timestamp("ts")).over(w_u)) > 1800, 1
        ).otherwise(0).alias("new_session"),
    )
    sess = gapped.withColumn(
        "session_idx",
        F.sum("new_session").over(
            w_u.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_session = sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("longest_session_events"),
        F.sum("n_events").alias("n_events"),
    )


SQL_USER_SESSIONS = """
WITH gapped AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM gapped
), per_session AS (
  SELECT user_id, session_idx, count(*) AS n_events
  FROM sess GROUP BY 1, 2
)
SELECT user_id,
       count(*) AS n_sessions,
       max(n_events) AS longest_session_events,
       sum(n_events)::BIGINT AS n_events
FROM per_session GROUP BY 1
"""


def q_token_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A9 analog: corpus-level token accounting per lang partition."""
    return (
        _t(spark, sf_dir, "documents")
        .select("lang", F.expr(f"size({_TOKENS})").cast("long").alias("nt"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.max("nt").alias("max_tokens"),
        )
    )


SQL_TOKEN_COUNT_BY_LANG = f"""
SELECT lang,
       count(*) AS n_docs,
       sum(len({_SQL_TOKENS}))::BIGINT AS total_tokens,
       max(len({_SQL_TOKENS}))::BIGINT AS max_tokens
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# embeddings: similarity search (brute-force cosine; ANN baseline)
# ---------------------------------------------------------------------------

# sandbox-sized defaults + scale rules live in config.AnnParams
# (VERDICT r2 #6); the catalog callables use DEFAULT_ANN so the static
# oracle SQL stays value-exact, and a cluster user passes AnnParams
from codedup.config import DEFAULT_ANN, AnnParams  # noqa: E402


def _pack_blocks(emb: DataFrame, n_blocks: int) -> DataFrame:
    """(vec_id, embedding) -> one row per block: (blk, ids array<long>,
    mat binary = float64 row-major matrix, ids sorted ascending) — the
    ``pack`` of operators.block_pairs, which picks n_blocks.

    The distributed half of a block-partitioned similarity matmul: ONE
    shuffle (groupBy blk) packs the table into dense numpy-ready blocks;
    no driver-side collect anywhere.  Block id = vec_id % n_blocks, so
    the packing is deterministic across runs and partitionings.  A block
    holds 8 bytes per float of its 1/n_blocks share of the rows; each
    crossJoin task then does one BLAS matmul per block pair."""
    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        return pd.DataFrame({
            "blk": [int(pdf["_blk"].iloc[0])],
            "ids": [pdf["vec_id"].to_numpy().tolist()],
            "mat": [m.tobytes()],
        })

    return (
        emb.select("vec_id", "embedding")
        .withColumn("_blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)))
        .groupBy("_blk")
        .applyInPandas(pack, schema="blk long, ids array<long>, mat binary")
    )


def _unpack(ids: list, mat_bytes: bytes):
    ids_arr = np.asarray(ids, dtype=np.int64)
    m = np.frombuffer(mat_bytes, dtype=np.float64).reshape(len(ids_arr), -1)
    return ids_arr, m


def q_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per probe vector (vec_id % 50 == 0),
    as a BLOCK-PARTITIONED matmul: probes and candidates are each packed
    into dense row-blocks (one groupBy shuffle per side, no driver
    collect), the PB x NB block pairs crossJoin (operators.block_pairs
    picks PB and NB from the cores and the input), each task computes one
    BLAS matmul and emits its per-query block-local top-5, and a final
    window takes the global top-5.  Correct because the global top-5
    under the total order (sim6 desc, neighbor_id asc) is contained in
    the union of per-block top-5s under the same order.  Neither side
    ever has to fit the driver or a single executor.

    Ranking by (cosine rounded to 6, vec_id) so cross-engine last-ulp
    noise cannot flip ranks; output carries ids + rank only (no floats)
    for exact comparison.  Every block pair runs the shared kernel
    (ann.cosine, ann.topk); per-neighbor dot products and norms are
    computed identically to the unblocked version (blocking splits rows,
    never the dim axis), so values are bit-identical."""
    from codedup.ann import rerank
    from codedup.operators import block_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = block_pairs(_pack_blocks, emb.filter(F.col("vec_id") % 50 == 0), emb)

    def gen(it):
        # imported in the task, not captured: see the note on ann._key_topk
        from codedup.ann import cosine, topk

        for pdf in it:
            for qids_l, qmat_b, nids_l, nmat_b in zip(
                pdf["xids"], pdf["xmat"], pdf["yids"], pdf["ymat"]
            ):
                qids, q = _unpack(qids_l, qmat_b)
                nids, m = _unpack(nids_l, nmat_b)
                yield topk(cosine(q, m), qids, nids, 5)

    return rerank(
        pairs.mapInPandas(gen, schema="query_id long, neighbor_id long, sim6 double"), 5)


SQL_ANN_TOPK_COSINE = """
WITH probes AS (
  SELECT vec_id AS query_id, embedding AS qa FROM embeddings WHERE vec_id % 50 = 0
), scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         round(
           list_sum(list_transform(generate_series(1, len(p.qa)),
                                   i -> p.qa[i]::DOUBLE * e.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(p.qa, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           6) AS sim6
  FROM probes p JOIN embeddings e ON e.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank::INT AS rank
FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim6 DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= 5
"""


def q_embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.45); ids only.

    Block-partitioned all-pairs matmul: the table is packed into NB
    row-blocks (one shuffle, no driver collect); the NB*(NB+1)/2
    unordered block pairs crossJoin (operators.block_pairs: blk_x <=
    blk_y halves the work, NB derived from the cores and the input);
    each task computes one ann.cosine block and emits qualifying
    (min, max) id pairs.  Every unordered doc pair lives in exactly one
    unordered block pair, so no dedup is needed."""
    import pandas as pd

    from codedup.operators import block_pairs

    pairs = block_pairs(_pack_blocks, _t(spark, sf_dir, "embeddings"))

    def gen(it):
        from codedup.ann import cosine

        for pdf in it:
            for xblk, xids_l, xmat_b, yblk, yids_l, ymat_b in zip(
                pdf["xblk"], pdf["xids"], pdf["xmat"],
                pdf["yblk"], pdf["yids"], pdf["ymat"],
            ):
                xids, xm = _unpack(xids_l, xmat_b)
                yids, ym = _unpack(yids_l, ymat_b)
                # within a block compare each unordered pair once;
                # across blocks every (i, j) is a distinct doc pair
                ok = cosine(xm, ym) >= 0.45
                if xblk == yblk:
                    ok &= xids[:, None] < yids[None, :]
                ai, bi = np.nonzero(ok)
                a_ids, b_ids = xids[ai], yids[bi]
                yield pd.DataFrame({
                    "a": np.minimum(a_ids, b_ids),
                    "b": np.maximum(a_ids, b_ids),
                })

    return pairs.mapInPandas(gen, schema="a long, b long")


SQL_EMBEDDING_SIMILAR_PAIRS = """
SELECT x.vec_id AS a, y.vec_id AS b
FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
WHERE list_sum(list_transform(generate_series(1, len(x.embedding)),
                              i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(x.embedding, v -> v::DOUBLE * v::DOUBLE)))
         * sqrt(list_sum(list_transform(y.embedding, v -> v::DOUBLE * v::DOUBLE)))) >= 0.45
"""


# ---------------------------------------------------------------------------
# documents: near-dup clusters + exemplar election (CC + W1/A2/A3)
# ---------------------------------------------------------------------------

# shared oracle fragment: exact all-pairs jaccard edges at >= 0.8 (the
# same pair set dedup_minhash_lsh is verified against)
_SQL_EDGES = f"""
  {_SQL_NGRAM_INTER}, edges AS MATERIALIZED (
    -- materialized (with ue) so the recursion reads the edge list
    -- instead of re-evaluating the shingle self-join per step
    SELECT a, b FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE (c * 1000000) // (sa.n + sb.n - c) >= {JACCARD_MIN_PPM}
  ), ue AS MATERIALIZED (
    SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges
  ), closure AS (
    -- transitive closure by recursive CTE (small graphs; the Spark side
    -- uses large-star/small-star for scale)
    SELECT a, b FROM ue
    UNION
    SELECT c.a, e.b FROM closure c JOIN ue e ON c.b = e.a WHERE e.b <> c.a
  ), membership AS (
    SELECT a AS doc_id, least(a, min(b)) AS cluster_id
    FROM closure GROUP BY a
  )
"""


def _doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) via the pipeline's cluster rule:
    connected_components over pipeline.cluster_edges, the verified
    representative pairs plus one star of exact edges per sha group
    (linear in group size, where the re-expanded pair list is
    quadratic).  CC labels every node with the minimum id of its
    component and the nodes here are doc ids, so cluster_id =
    min(doc_id), the SQL oracle's label.  Memoized (_memo) like the
    pairs: dedup_clusters and cluster_savings both read the membership."""
    from codedup.pipeline import cluster_edges
    from codedup.stages.cluster import connected_components

    def build():
        reps, verified = _verified(spark, sf_dir, DOCS_CFG)
        return (connected_components(cluster_edges(verified, reps))
                .withColumnRenamed("file_id", "doc_id"))

    return _memo(spark, sf_dir, "doc_cc", build)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over verified near-dup pairs (the large-
    star/small-star stage), oracle-checked against a recursive-CTE
    transitive closure."""
    return _doc_clusters(spark, sf_dir)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SQL_EDGES}
SELECT doc_id, cluster_id FROM membership
"""


def q_cluster_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster keep-best election + savings (W1 + A2/A3: the
    reference's keep-largest rule, cli.py:29-30, sum-minus-max savings
    dedup.py:37-44), over the near-dup clusters."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n")
    )
    members = _doc_clusters(spark, sf_dir).join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("doc_id"))
    ranked = members.withColumn("rank", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_chars"),
        (F.sum("n") - F.max("n")).alias("savings_chars"),
        F.max(F.when(F.col("rank") == 1, F.col("doc_id"))).alias("keep_doc_id"),
    )


SQL_CLUSTER_SAVINGS = f"""
WITH RECURSIVE {_SQL_EDGES}
SELECT m.cluster_id,
       count(*) AS n_docs,
       sum(length(d.text))::BIGINT AS total_chars,
       (sum(length(d.text)) - max(length(d.text)))::BIGINT AS savings_chars,
       (SELECT d2.doc_id FROM membership m2 JOIN documents d2 ON d2.doc_id = m2.doc_id
        WHERE m2.cluster_id = m.cluster_id
        ORDER BY length(d2.text) DESC, d2.doc_id ASC LIMIT 1) AS keep_doc_id
FROM membership m JOIN documents d ON d.doc_id = m.doc_id
GROUP BY m.cluster_id
"""


# ---------------------------------------------------------------------------
# documents: portable SimHash (K3 with a cross-engine hash), lang-id,
# winnowing-style fingerprint
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits signed 64-bit in both engines


def q_simhash_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit token-level SimHash per document, computed RELATIONALLY
    (explode -> 60 bit-count aggregates -> repack), with a hash function
    both engines share (first 15 hex chars of md5).  The pipeline's
    internal SimHash uses splitmix64 (faster); this portable variant is
    the oracle-checkable twin of kernel K3."""
    # single-file scan -> spread the tokenize+explode across cores
    # before the distinct (guide §2.5 input skew)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    toks = (
        docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("tok"))
        .distinct()
        .withColumn("hv", F.expr(_md5_60_sql("tok")))
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.shiftright(F.col("hv"), j).bitwiseAND(F.lit(1))).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    packed = " + ".join(
        f"(CASE WHEN b{j} * 2 > n THEN CAST(1 AS BIGINT) << {j} ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return (
        toks.groupBy("doc_id").agg(*aggs)
        .select("doc_id", F.expr(packed).alias("simhash"), F.col("n").alias("n_tokens_distinct"))
    )


def _sql_simhash_tokens() -> str:
    bit_aggs = ", ".join(f"sum((hv >> {j}) & 1) AS b{j}" for j in range(SIMHASH_BITS))
    packed = " + ".join(
        f"(CASE WHEN b{j} * 2 > n THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({_SQL_TOKENS}) AS tok
    FROM documents
  )
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks
), bits AS (
  SELECT doc_id, count(*) AS n, {bit_aggs} FROM h GROUP BY 1
)
SELECT doc_id, {packed} AS simhash, n AS n_tokens_distinct FROM bits
"""


SQL_SIMHASH_TOKENS = _sql_simhash_tokens()

_STOPSETS = {
    "en": ["the", "and", "of", "to", "a", "in"],
    "es": ["el", "la", "de", "los", "que", "y"],
    "fr": ["le", "les", "des", "et", "un", "la"],
}


def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language identification (n-gram-heuristic class):
    count token occurrences in per-language stopword sets, argmax with a
    deterministic tiebreak order (en > es > fr > und)."""
    docs = _t(spark, sf_dir, "documents")
    cols = [F.col("doc_id")]
    for lang, words in _STOPSETS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        cols.append(
            F.expr(
                f"size(filter({_TOKENS}, x -> array_contains(array({arr}), lower(x))))"
            ).cast("long").alias(f"{lang}_hits")
        )
    scored = docs.select(*cols)
    return scored.withColumn(
        "lang_pred",
        F.expr(
            "CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en' "
            "WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es' "
            "WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END"
        ),
    )


def _sql_lang_id() -> str:
    hits = []
    for lang, words in _STOPSETS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        hits.append(
            f"len(list_filter({_SQL_TOKENS},"
            f" x -> list_contains([{arr}], lower(x))))::BIGINT AS {lang}_hits"
        )
    return f"""
WITH scored AS (
  SELECT doc_id, {', '.join(hits)} FROM documents
)
SELECT doc_id, en_hits, es_hits, fr_hits,
       CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
            WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
            WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END AS lang_pred
FROM scored
"""


SQL_LANG_ID_HEURISTIC = _sql_lang_id()


def q_doc_minhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint via bottom-sketch over char 8-grams with a
    portable hash (md5-60bit): min/max gram hash + distinct gram count.
    The single-value relational analog of the winnowing/rolling-hash
    fingerprint family (the pipeline's 128-slot MinHash is the full
    version)."""
    docs = _t(spark, sf_dir, "documents")
    # MAP-ONLY: the sketch is per-document, so dedup the gram set and
    # fold min/max/count INSIDE the row (array_distinct + transform +
    # array_min/max) — no explode, no distinct shuffle, no groupBy.
    # The hash array is lambda-bound so it is computed once per row;
    # the DuckDB oracle keeps the relational explode form, pinning the
    # equivalence cross-engine.
    grams = (f"array_distinct(transform("
             f"sequence(1, greatest(length(text)-{NGRAM_K - 1}, 1)),"
             f" i -> substring(text, i, {NGRAM_K})))")
    hvs = f"transform({grams}, g -> {_md5_60_sql('g')})"
    fp = (f"element_at(transform(array({hvs}), h -> struct("
          f"array_min(h) AS fp_min, array_max(h) AS fp_max,"
          f" CAST(size(h) AS BIGINT) AS n_grams)), 1)")
    # NULL-text guard (ADVICE r4): the explode-form oracle drops a
    # NULL-text doc entirely (nothing to explode), while the map-only
    # form would emit (NULL, NULL, size(NULL)) — and size(NULL) even
    # varies with ANSI mode (-1 legacy vs NULL).  Match the oracle by
    # dropping NULL-text rows before the map.
    return docs.filter(F.col("text").isNotNull()) \
        .select("doc_id", F.expr(fp).alias("_fp")) \
        .select("doc_id", "_fp.fp_min", "_fp.fp_max", "_fp.n_grams")


WINNOW_W = 4  # winnowing window: guarantee = matches of length k+W-1 detected


def _winnowing_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct winnowing fingerprint set (doc_id, fp) — the shared
    artifact behind doc_winnowing AND winnowing_pairs (VERDICT r3 #3:
    each query rebuilt the full posexplode-grams + window-min set from
    scratch; together they were the two heaviest catalog entries).
    Memoized per (session, corpus) through _memo, like the
    verified-pair table.

    The positional-gram explode is the inherent cost (~len(text) rows
    per doc); everything downstream of the distinct is cheap, which is
    exactly why this is the right materialization boundary — it is also
    the reusable artifact a 100 TB MOSS-style index would persist."""
    docs = _t(spark, sf_dir, "documents")

    # One-pass Arrow kernel (guide §4.2; same rationale as the dsir
    # bucket kernel): the earlier in-row HOF form evaluated an
    # interpreted md5+window-min lambda per positional gram — lambdas
    # don't codegen, and the md5 repeated per OCCURRENCE although the
    # distinct gram vocabulary is tiny (~14k at sf1.0 vs 14M
    # occurrences).  The kernel hashes through _md5_60 (the portable
    # md5-60bit hash, memoized per distinct gram per worker) and slides
    # the window minimum with numpy; per-doc np.unique replaces both
    # array_distinct and the global .distinct() (doc rows are
    # disjoint), so the distinct exchange disappears too.  Values are
    # bit-identical to the SQL form the DuckDB oracle runs: complete
    # windows only, a doc shorter than W grams keeps its single
    # all-grams window, NULL text yields no rows.
    k_, w_ = NGRAM_K, WINNOW_W

    def batches(it):
        import pandas as pd

        for pdf in it:
            ids_out, fp_out = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue
                m = max(len(text) - k_ + 1, 1)
                a = np.fromiter((_md5_60(text[i:i + k_]) for i in range(m)),
                                dtype=np.int64, count=m)
                if m <= w_:
                    fps_doc = np.array([a.min()], dtype=np.int64)
                else:
                    mins = a[: m - w_ + 1].copy()
                    for s in range(1, w_):
                        np.minimum(mins, a[s: s + m - w_ + 1], out=mins)
                    fps_doc = np.unique(mins)
                ids_out.append(np.full(fps_doc.size, doc_id, dtype=np.int64))
                fp_out.append(fps_doc)
            if ids_out:
                yield pd.DataFrame({"doc_id": np.concatenate(ids_out),
                                    "fp": np.concatenate(fp_out)})

    return _memo(spark, sf_dir, f"winfp:k{NGRAM_K}w{WINNOW_W}",
                 lambda: docs.select("doc_id", "text")
                 .repartition(spark.sparkContext.defaultParallelism)
                 .mapInPandas(batches, schema="doc_id long, fp long"))


def q_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every POSITIONAL char k-gram
    (duplicates kept, unlike the set-based queries), slide a window of
    W consecutive hashes, keep each window's minimum; the distinct
    minima are the document's fingerprints.  Guarantees any shared
    substring of length >= k+W-1 yields a shared fingerprint, with
    ~2/(W+1) selectivity.  The portable md5-60bit hash makes the oracle
    exact.  The fingerprint set itself is the shared materialization
    _winnowing_fps (one Arrow kernel per partition)."""
    return (
        _winnowing_fps(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"),
             F.min("fp").alias("fp_min"),
             F.max("fp").alias("fp_max"))
    )


WINNOW_MAX_DF = 10      # drop fingerprints shared by more docs (MOSS
#                         "ignore very common fingerprints": boilerplate
#                         kills precision AND is the skew hazard — the
#                         df cap bounds every fp's join fan-out)
WINNOW_MIN_SHARED = 2   # pair report threshold


def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style match detection on winnowing fingerprints: documents
    sharing >= WINNOW_MIN_SHARED rare fingerprints (document frequency
    <= WINNOW_MAX_DF) are reported with the shared count.  The df cap
    is both MOSS's precision rule and the scale guard — a boilerplate
    fingerprint in f docs would otherwise fan out f^2 pair rows; with
    the cap every fingerprint's fan-out is bounded by MAX_DF^2 and the
    self-join stays an equi-join on fp.  Output (a, b, n_shared),
    integer-only.  Shares the fingerprint materialization with
    doc_winnowing (_winnowing_fps)."""
    fps = _winnowing_fps(spark, sf_dir)
    rare = fps.join(
        fps.groupBy("fp").count().filter(F.col("count") <= WINNOW_MAX_DF).select("fp"),
        "fp", "left_semi",
    )
    a = rare.select(F.col("doc_id").alias("a"), "fp")
    b = rare.select(F.col("doc_id").alias("b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


# shared oracle fragment: the distinct winnowing fingerprint set fps
# (doc_id, fp), _winnowing_fps' SQL form
_SQL_WINNOW_FPS = f"""grams AS (
  SELECT doc_id,
         greatest(length(text) - {NGRAM_K - 1}, 1) AS n_grams,
         i - 1 AS pos,
         ('0x' || substr(md5(substr(text, i, {NGRAM_K})), 1, 15))::BIGINT AS hv
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-{NGRAM_K - 1}, 1))) AS i) t
), wind AS (
  SELECT doc_id, pos, n_grams,
         min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, fp
  FROM wind
  WHERE pos <= n_grams - {WINNOW_W} OR pos = 0
)"""


SQL_WINNOWING_PAIRS = f"""
WITH {_SQL_WINNOW_FPS}, rare AS (
  SELECT doc_id, fp FROM fps
  WHERE fp IN (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF})
)
SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
FROM rare x JOIN rare y ON x.fp = y.fp AND x.doc_id < y.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


SQL_DOC_WINNOWING = f"""
WITH {_SQL_WINNOW_FPS}
SELECT doc_id, count(*) AS n_fingerprints, min(fp) AS fp_min, max(fp) AS fp_max
FROM fps GROUP BY 1
"""


SQL_DOC_MINHASH_FINGERPRINT = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, substr(text, i, {NGRAM_K}) AS g
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-{NGRAM_K - 1}, 1))) AS i) t
  WHERE text IS NOT NULL
), h AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS hv FROM grams
)
SELECT doc_id, min(hv) AS fp_min, max(hv) AS fp_max, count(*) AS n_grams
FROM h GROUP BY 1
"""


# ---------------------------------------------------------------------------
# embeddings: LSH-bucketed ANN (the scale path) + nearest-centroid
# classifier (feedback-model analog, feedback.py:176-236)
# ---------------------------------------------------------------------------

ANN_DIM = 64                           # test-table embedding dim
ANN_PROBE_HAMMING = DEFAULT_ANN.probe_hamming


def _ann_planes(n_planes: int = DEFAULT_ANN.n_planes) -> list[list[float]]:
    """Deterministic random hyperplanes, shared verbatim by the Spark
    implementation and the generated oracle SQL."""
    rng = np.random.default_rng(1234)
    planes = rng.standard_normal((n_planes, ANN_DIM))
    return [[round(float(x), 6) for x in p] for p in planes]


def _bucket_expr(col: str, base: int, n_planes: int = DEFAULT_ANN.n_planes) -> str:
    """Packed sign bits of the embedding's dot products with the literal
    hyperplanes.  ``base``: array index origin (Spark SQL = 0,
    DuckDB = 1) — the arithmetic is otherwise engine-identical."""
    parts = []
    for j, plane in enumerate(_ann_planes(n_planes)):
        terms = " + ".join(f"{col}[{i + base}] * ({w})" for i, w in enumerate(plane) if w != 0.0)
        parts.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str,
                       params: AnnParams = DEFAULT_ANN) -> DataFrame:
    """Sign-random-projection LSH ANN: embeddings are bucketed by the
    sign pattern of 6 hyperplane projections; each probe searches only
    buckets within Hamming distance 1 of its own (multi-probe), ranked
    by (cosine rounded to 6, vec_id).  This is the 10^12-row path —
    candidate count per probe is ~n/2^planes * (1+planes) instead of n.

    Multi-probe is a KEYED search (ann.keyed_topk, the cogroup IVF
    uses): each probe row explodes into its own bucket plus its
    single-bit flips (every bucket at Hamming distance exactly 1), and
    meets the members whose bucket equals one of those keys.  Each
    (query, neighbor) pair matches through at most one exploded value
    (the neighbor has ONE bucket; the probe's 1+planes values are
    pairwise distinct), so no dedup is needed — and Catalyst plans a
    keyed cogroup that actually prunes, instead of the
    BroadcastNestedLoopJoin a ``bit_count(xor) <= 1`` theta-join forces
    (asserted in tests/test_explain_purity.py).  The buckets come from
    the identical literal hyperplanes as the oracle, and the cosine
    from the shared ann kernel."""
    from codedup.ann import keyed_topk

    if params.probe_hamming not in (0, 1, 2):
        raise ValueError("probe_hamming > 2 not implemented (candidate "
                         "volume grows as C(planes, r) — explode further "
                         "flip combinations if a larger radius is needed)")
    emb = _t(spark, sf_dir, "embeddings")
    bcol = F.expr(_bucket_expr("embedding", base=0, n_planes=params.n_planes)).cast("long")
    members = emb.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("embedding").alias("eb"), bcol.alias("key"))
    probes = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qa"),
                bcol.alias("qb"))
    )
    flips = []
    if params.probe_hamming >= 1:
        flips += [F.col("qb").bitwiseXOR(F.lit(1 << j))
                  for j in range(params.n_planes)]
    if params.probe_hamming >= 2:
        flips += [F.col("qb").bitwiseXOR(F.lit((1 << j) | (1 << k)))
                  for j in range(params.n_planes) for k in range(j + 1, params.n_planes)]
    # all 1 + p + C(p,2) exploded values are pairwise distinct, so each
    # (query, neighbor) pair still matches through at most one value
    probes_x = probes.select("query_id", "qa",
                             F.explode(F.array(F.col("qb"), *flips)).alias("key"))
    return keyed_topk(probes_x, members, 5)


def _sql_ann_lsh() -> str:
    b = _bucket_expr("embedding", base=1, n_planes=DEFAULT_ANN.n_planes)
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {b}::BIGINT AS bkt FROM embeddings
), probes AS (
  SELECT vec_id AS query_id, embedding AS qa, bkt AS qb FROM bucketed WHERE vec_id % 50 = 0
), cand AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         round(
           list_sum(list_transform(generate_series(1, len(p.qa)),
                                   i -> p.qa[i]::DOUBLE * e.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(p.qa, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           6) AS sim6
  FROM probes p JOIN bucketed e
    ON bit_count(xor(p.qb, e.bkt)) <= {ANN_PROBE_HAMMING}
   AND e.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank::INT AS rank
FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim6 DESC, neighbor_id) AS rank
  FROM cand
)
WHERE rank <= 5
"""


SQL_ANN_LSH_BUCKETED = _sql_ann_lsh()


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str,
                   params: AnnParams = DEFAULT_ANN) -> DataFrame:
    """IVF coarse-quantizer ANN search (codedup.ann): nearest-cell
    assignment + nprobe cell search + exact cosine rank within the
    candidate cells.  The KMeans training half lives OFFLINE in
    tools/make_ivf_centroids.py (seed 42; reproduction pinned by
    tests/test_ann_ivf.py) — production IVF ships a pre-trained
    quantizer the same way — so the search half is deterministic and
    carries a value-exact DuckDB oracle over the same pinned centroid
    literals (VERDICT r2 #1).  Recall vs brute force stays gated in
    tests/test_ann_ivf.py.

    Executes through the FULL-SCALE forms — one-pass Arrow argmin
    assignment (probe_cells) + cell-cogrouped BLAS search
    (ivf_topk_blocks).  tests/test_ann_scale_path.py checks them against
    the relational references (_ranked_cells for the assignment,
    ivf_topk for the search); the DuckDB oracle checks the query
    end to end.  Catalog timing measures the plan a cluster would
    actually run (~3x faster than the SQL-expression form at sf0.1)."""
    from codedup.ann import golden_centroids, ivf_topk_blocks, probe_cells

    emb = _t(spark, sf_dir, "embeddings")
    cent = golden_centroids()
    assigned = probe_cells(emb, cent, 1)
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk_blocks(assigned, cent, probes, k=5, nprobe=params.ivf_nprobe)


def _sql_ann_ivf() -> str:
    from codedup.ann import golden_centroids

    vals = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(x) for x in c))
        for i, c in enumerate(golden_centroids())
    )
    return f"""
WITH cent(cell, c) AS (VALUES
    {vals}
), dist AS (
  SELECT e.vec_id, e.embedding, ct.cell,
         round(list_sum(list_transform(generate_series(1, len(e.embedding)),
               i -> (e.embedding[i]::DOUBLE - ct.c[i]) * (e.embedding[i]::DOUBLE - ct.c[i]))),
               6) AS dist6,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_sum(list_transform(generate_series(1, len(e.embedding)),
                                     i -> (e.embedding[i]::DOUBLE - ct.c[i]) * (e.embedding[i]::DOUBLE - ct.c[i]))), 6),
                                     ct.cell) AS rn
  FROM embeddings e CROSS JOIN cent ct
), assigned AS (
  SELECT vec_id AS neighbor_id, embedding AS eb, cell FROM dist WHERE rn = 1
), probe_cells AS (
  SELECT vec_id AS query_id, embedding AS qa, cell
  FROM dist WHERE vec_id % 50 = 0 AND rn <= {DEFAULT_ANN.ivf_nprobe}
), cand AS (
  SELECT p.query_id, a.neighbor_id,
         round(
           list_sum(list_transform(generate_series(1, len(p.qa)),
                                   i -> p.qa[i]::DOUBLE * a.eb[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(p.qa, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(a.eb, x -> x::DOUBLE * x::DOUBLE)))),
           6) AS sim6
  FROM probe_cells p JOIN assigned a USING (cell)
  WHERE a.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, rank::INT AS rank
FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim6 DESC, neighbor_id) AS rank
  FROM cand
)
WHERE rank <= 5
"""


SQL_ANN_IVF_TOPK = _sql_ann_ivf()


def q_label_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier over the labeled embeddings — the
    relational analog of the reference's feedback preference model
    (logistic regression on stored embeddings, feedback.py:176-236):
    train = per-label mean vector, predict = argmin distance.  Fully
    relational (explode by position -> centroid avg -> score), ranked
    by (rounded distance, label) for cross-engine determinism."""
    emb = _t(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    )
    centroids = pos.groupBy("label", "i").agg(F.avg("x").alias("c"))
    scored = (
        pos.withColumnRenamed("label", "true_label")
        .join(centroids.withColumnRenamed("label", "cand_label"), "i")
        .groupBy("vec_id", "true_label", "cand_label")
        .agg(F.round(F.sum((F.col("x") - F.col("c")) ** 2), 6).alias("dist6"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist6"), F.asc("cand_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "true_label", F.col("cand_label").alias("pred_label"))
    )


SQL_LABEL_CENTROID_CLASSIFIER = """
WITH pos AS (
  SELECT vec_id, label, i, embedding[i]::DOUBLE AS x
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
), centroids AS (
  SELECT label AS cand_label, i, avg(x) AS c FROM pos GROUP BY 1, 2
), scored AS (
  SELECT p.vec_id, p.label AS true_label, c.cand_label,
         round(sum((p.x - c.c) * (p.x - c.c)), 6) AS dist6
  FROM pos p JOIN centroids c USING (i)
  GROUP BY 1, 2, 3
)
SELECT vec_id, true_label, cand_label AS pred_label
FROM (
  SELECT vec_id, true_label, cand_label,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist6 ASC, cand_label ASC) AS rn
  FROM scored
)
WHERE rn = 1
"""


def q_doc_category_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category decision rules (classifier.py:661-712) + subcategory
    string rules (classifier.py:354-391), re-domained from image signals
    to document signals as a pure when/otherwise column tree:

        family faces  -> known-language stopword hits (a trusted signal)
        photo vs junk -> uniqueness ratio + token mass (quality score)
        KEEP / REVIEW / TRASH exactly mirror the reference's precedence:
        trusted signal wins, then quality, then junk.

    Subcategory mirrors determine_subcategory's string-match labeling on
    the winning signal.  Entirely JVM-side expressions in ONE pass over
    the documents scan — the fat `text` column is read once and never
    shuffled (every signal is a per-row expression): this is the
    rule-tree operator class, trivially vectorized and pushed to scan."""
    docs = _t(spark, sf_dir, "documents")
    sig_cols = [F.col("doc_id")]
    for lang, words in _STOPSETS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        sig_cols.append(
            F.expr(f"size(filter({_TOKENS}, x -> array_contains(array({arr}), lower(x))))")
            .cast("long").alias(f"{lang}_hits")
        )
    sig_cols.append(F.expr(f"size({_TOKENS})").cast("long").alias("n_tokens"))
    sig_cols.append(
        F.expr(
            f"CASE WHEN size({_TOKENS}) = 0 THEN 0 ELSE"
            f" (size(array_distinct({_TOKENS})) * 1000000) div size({_TOKENS}) END"
        ).cast("long").alias("uniq_ratio_ppm")
    )
    d = docs.select(*sig_cols).withColumn(
        "hits", F.col("en_hits") + F.col("es_hits") + F.col("fr_hits")
    ).withColumn(
        "lang_pred",
        F.expr(
            "CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en' "
            "WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es' "
            "WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END"
        ),
    )
    category = (
        F.when(F.col("n_tokens") == 0, "TRASH")                    # empty
        .when(F.col("uniq_ratio_ppm") < 200_000, "TRASH")          # repetitive junk
        .when(F.col("hits") >= 3, "KEEP")                          # trusted signal
        .when(F.col("hits") == 0, "REVIEW")                        # unknown language
        .when((F.col("n_tokens") >= 50) & (F.col("uniq_ratio_ppm") >= 500_000), "KEEP")
        .otherwise("REVIEW")
    )
    subcategory = (
        F.when(F.col("n_tokens") == 0, "empty")
        .when(F.col("hits") >= 3, F.concat(F.lit("lang_"), "lang_pred"))
        .when(F.col("n_tokens") < 50, "short")
        .when(F.col("uniq_ratio_ppm") >= 800_000, "high_entropy")
        .otherwise("other")
    )
    return d.select("doc_id", category.alias("category"), subcategory.alias("subcategory"))


SQL_DOC_CATEGORY_RULES = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS tk
  FROM documents
), stats AS (
  SELECT doc_id,
         len(tk)::BIGINT AS n_tokens,
         (CASE WHEN len(tk) = 0 THEN 0
               ELSE (len(list_distinct(tk)) * 1000000) // len(tk) END)::BIGINT AS uniq_ratio_ppm
  FROM toks
), hits AS (
  SELECT doc_id,
         len(list_filter(tk, x -> list_contains(['the','and','of','to','a','in'], lower(x))))::BIGINT AS en_hits,
         len(list_filter(tk, x -> list_contains(['el','la','de','los','que','y'], lower(x))))::BIGINT AS es_hits,
         len(list_filter(tk, x -> list_contains(['le','les','des','et','un','la'], lower(x))))::BIGINT AS fr_hits
  FROM toks
), scored AS (
  SELECT s.doc_id, s.n_tokens, s.uniq_ratio_ppm,
         h.en_hits + h.es_hits + h.fr_hits AS hits,
         CASE WHEN h.en_hits >= h.es_hits AND h.en_hits >= h.fr_hits AND h.en_hits > 0 THEN 'en'
              WHEN h.es_hits >= h.fr_hits AND h.es_hits > 0 THEN 'es'
              WHEN h.fr_hits > 0 THEN 'fr' ELSE 'und' END AS lang_pred
  FROM stats s JOIN hits h USING (doc_id)
)
SELECT doc_id,
       CASE WHEN n_tokens = 0 THEN 'TRASH'
            WHEN uniq_ratio_ppm < 200000 THEN 'TRASH'
            WHEN hits >= 3 THEN 'KEEP'
            WHEN hits = 0 THEN 'REVIEW'
            WHEN n_tokens >= 50 AND uniq_ratio_ppm >= 500000 THEN 'KEEP'
            ELSE 'REVIEW' END AS category,
       CASE WHEN n_tokens = 0 THEN 'empty'
            WHEN hits >= 3 THEN 'lang_' || lang_pred
            WHEN n_tokens < 50 THEN 'short'
            WHEN uniq_ratio_ppm >= 800000 THEN 'high_entropy'
            ELSE 'other' END AS subcategory
FROM scored
"""


def _feedback_lr() -> dict:
    # package resource, zip-safe (ADVICE r3): ships with --py-files
    from codedup.golden import load_golden

    return load_golden("feedback_lr.json")


def q_feedback_model_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained preference model (SURVEY §2.8; feedback.py:176-261),
    scoring half: the Spark ML logistic regression (StandardScaler +
    balanced weights + C=0.1 equivalence, labels synthesized as
    label < 5 -> keep on the vec_id % 5 != 0 rows) is trained OFFLINE
    by tools/make_lr_model.py and pinned as a folded golden
    (z = x·c + b0 with the scaler absorbed into c) — the same
    offline-training pattern as the IVF quantizer, and exactly how a
    production scorer ships: the iterative optimizer never runs at
    query time.  The query is one scan computing
    sigmoid(x·c + b0) rounded to 6 and the reference's 0.7/0.3
    decision thresholds — deterministic SQL on both engines, so the
    query carries a value-exact DuckDB oracle (r3; was the last
    rows-only query).  Training reproduction + equivalence to the live
    Spark-ML model are pinned in tests/test_feedback.py."""
    from codedup.ann import dim_guarded

    g = _feedback_lr()
    emb = _t(spark, sf_dir, "embeddings")
    c = ", ".join(repr(x) for x in g["coef"])
    z = (f"aggregate(zip_with(CAST(embedding AS array<double>), array({c}),"
         f" (x, y) -> x * y), 0D, (acc, v) -> acc + v) + ({g['bias']!r})")
    # dim guard (ADVICE r3): zip_with NULL-pads a wrong-width embedding,
    # which would send every row to 'review' silently; raise instead
    p6 = F.expr(dim_guarded(
        f"round(1 / (1 + exp(-({z}))), 6)", "embedding", len(g["coef"])))
    return emb.select(
        "vec_id",
        F.when(p6 > 0.7, "keep").when(p6 < 0.3, "trash")
        .otherwise("review").alias("decision"),
    )


def _sql_feedback_lr() -> str:
    g = _feedback_lr()
    c = ", ".join(repr(x) for x in g["coef"])
    return f"""
WITH scored AS (
  SELECT vec_id,
         round(1 / (1 + exp(-(
           list_sum(list_transform(generate_series(1, len(embedding)),
                    i -> embedding[i]::DOUBLE * ([{c}]::DOUBLE[])[i]))
           + ({g['bias']!r})))), 6) AS p6
  FROM embeddings
)
SELECT vec_id,
       CASE WHEN p6 > 0.7 THEN 'keep'
            WHEN p6 < 0.3 THEN 'trash'
            ELSE 'review' END AS decision
FROM scored
"""


SQL_FEEDBACK_MODEL_PREDICTIONS = _sql_feedback_lr()


# ---------------------------------------------------------------------------
# relational operator demos on the TPC-H-ish tables (SURVEY §2.2-2.5)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: partial+final hash aggregation with predicate pushdown (TPC-H
    Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)        AS sum_qty,
       round(sum(l_extendedprice), 2)   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*)                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: keep-best-N election per group (window top-k, the exemplar
    pattern of cli.py:29-30)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rank").cast("int").alias("rank"))
    )


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, rank::INT AS rank
FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
)
WHERE rank <= 3
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/P5: anti-join (the relational form of the reference's seen/
    processed skip-sets)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-chain + A2: broadcast dimension joins feeding an aggregate
    (customer ⋈ nation ⋈ orders)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
"""


def q_big_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (the other half of the reference's seen-set
    semantics, S2/P5): customers that DO have a >200k order — semi keeps
    left columns only, no duplication however many orders match."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200_000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


SQL_BIG_CUSTOMERS_SEMI = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
"""


def q_orders_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 status-partition filter + P7 pagination, as the serving layer
    would run them: filter on the status column (pushed to the scan),
    then KEYSET pagination (WHERE key > cursor ORDER BY key LIMIT n) —
    the only pagination that stays O(page) at 10^12 rows; OFFSET would
    scan-and-discard the prefix."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter((F.col("o_orderstatus") == "O") & (F.col("o_orderkey") > 1000))
        .orderBy("o_orderkey")
        .limit(50)
        .select("o_orderkey", "o_custkey", "o_orderstatus",
                F.round("o_totalprice", 2).alias("o_totalprice"))
    )


SQL_ORDERS_KEYSET_PAGE = """
SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
FROM orders
WHERE o_orderstatus = 'O' AND o_orderkey > 1000
ORDER BY o_orderkey
LIMIT 50
"""


def q_nation_customer_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 first-N truncation (errors[:10] / sample_paths[:5] in the
    reference): per nation, the first 5 customer names in sorted order —
    slice(sort_array(collect_list(...))) keeps the aggregation bounded
    and deterministic; emitted as one comma-joined string because the
    value-hash compare is defined on scalars."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.concat_ws(",", F.slice(F.sort_array(F.collect_list("c_name")), 1, 5))
        .alias("sample_names"),
    )


SQL_NATION_CUSTOMER_SAMPLE = """
SELECT c_nationkey,
       count(*) AS n_customers,
       array_to_string(list_slice(list_sort(list(c_name)), 1, 5), ',') AS sample_names
FROM customer
GROUP BY 1
"""


def q_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 analog (per-person unique-image count, classifier.py:280-307):
    exact distinct-user count + event volume per event type."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


SQL_USER_ACTIVITY = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1
"""


def q_events_daily_top_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time daily rollup + per-day top-3 types (A4 + W1 over the
    events stream table; batch view of the streaming rollup)."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("day").orderBy(F.desc("n_events"), F.asc("event_type"))
    return (
        daily.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("day", "event_type", "n_events", F.col("rank").cast("int").alias("rank"))
    )


SQL_EVENTS_DAILY_TOP_TYPES = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT day, event_type, n_events, rank::INT AS rank
FROM (
  SELECT day, event_type, n_events,
         row_number() OVER (PARTITION BY day ORDER BY n_events DESC, event_type) AS rank
  FROM daily
)
WHERE rank <= 3
"""


def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, arXiv:
    2112.11446 §A1.1 'repetition removal') — the quality-filter class a
    training-data pipeline runs before dedup: per document, the
    duplicate-line fraction, the most-frequent-token mass and the
    most-frequent-word-bigram mass, as integer ppm.  One scan +
    explode/groupBy aggregations, entirely JVM-side; docs with no
    tokens/bigrams report 0 (LEFT join + coalesce), so every doc_id is
    covered."""
    docs = _t(spark, sf_dir, "documents")
    lines = "filter(transform(split(text, '\\n'), x -> trim(x)), x -> x != '')"
    base = docs.select(
        "doc_id",
        F.expr(f"size({lines})").cast("long").alias("n_lines"),
        F.expr(f"size(array_distinct({lines}))").cast("long").alias("n_uniq"),
        F.expr(_TOKENS).alias("tk"),
    ).withColumn("n_tokens", F.expr("size(tk)").cast("long")) \
     .localCheckpoint(eager=True)   # feeds 3 aggregations
    head = base.select(
        "doc_id", "n_lines", "n_tokens",
        F.expr("CASE WHEN n_lines = 0 THEN 0"
               " ELSE ((n_lines - n_uniq) * 1000000) div n_lines END")
        .cast("long").alias("dup_line_ppm"),
    )
    tcnt = (
        base.select("doc_id", F.explode("tk").alias("tok"))
        .groupBy("doc_id", "tok").count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
        .select("doc_id",
                F.expr("(mx * 1000000) div tot").cast("long").alias("top_token_ppm"))
    )
    bigrams = ("CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1),"
               " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
               " ELSE array() END")
    bcnt = (
        base.select("doc_id", F.explode(F.expr(bigrams)).alias("bg"))
        .groupBy("doc_id", "bg").count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
        .select("doc_id",
                F.expr("(mx * 1000000) div tot").cast("long").alias("top_bigram_ppm"))
    )
    return (
        head.join(tcnt, "doc_id", "left").join(bcnt, "doc_id", "left")
        .select("doc_id", "n_lines", "dup_line_ppm", "n_tokens",
                F.coalesce("top_token_ppm", F.lit(0)).cast("long").alias("top_token_ppm"),
                F.coalesce("top_bigram_ppm", F.lit(0)).cast("long").alias("top_bigram_ppm"))
    )


SQL_DOC_REPETITION_STATS = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '\\n'), x -> trim(x)),
                     x -> x <> '') AS ln,
         {_SQL_TOKENS} AS tk
  FROM documents
), head AS (
  SELECT doc_id, len(ln)::BIGINT AS n_lines, len(tk)::BIGINT AS n_tokens,
         (CASE WHEN len(ln) = 0 THEN 0
               ELSE ((len(ln) - len(list_distinct(ln))) * 1000000) // len(ln)
          END)::BIGINT AS dup_line_ppm
  FROM base
), tcnt AS (
  SELECT doc_id, ((max(c) * 1000000) // sum(c))::BIGINT AS top_token_ppm
  FROM (SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(tk) AS tok FROM base) GROUP BY 1, 2)
  GROUP BY 1
), bcnt AS (
  SELECT doc_id, ((max(c) * 1000000) // sum(c))::BIGINT AS top_bigram_ppm
  FROM (SELECT doc_id, bg, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(CASE WHEN len(tk) >= 2
                                 THEN list_transform(generate_series(1, len(tk) - 1),
                                                     i -> tk[i] || ' ' || tk[i + 1])
                                 ELSE []::VARCHAR[] END) AS bg
              FROM base) GROUP BY 1, 2)
  GROUP BY 1
)
SELECT h.doc_id, h.n_lines, h.dup_line_ppm, h.n_tokens,
       coalesce(t.top_token_ppm, 0)::BIGINT AS top_token_ppm,
       coalesce(b.top_bigram_ppm, 0)::BIGINT AS top_bigram_ppm
FROM head h LEFT JOIN tcnt t USING (doc_id) LEFT JOIN bcnt b USING (doc_id)
"""


# PII patterns shared by both engines: RE2-safe (no lookaround), and
# backslashes doubled only for the Spark SQL literal (Java string
# processing) — DuckDB string literals keep backslashes as-is
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def _spark_lit(pat: str) -> str:
    return pat.replace("\\", "\\\\")


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (training-data hygiene): count and redact
    email addresses and IPv4 literals with deterministic placeholders,
    emitting the sha256 of the scrubbed text so the oracle verifies the
    TRANSFORM byte-for-byte, not just the counts.  Pure JVM regexes
    (RE2-compatible: no lookaround), one scan, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    em, ip = _spark_lit(_PII_EMAIL), _spark_lit(_PII_IPV4)
    scrub = (f"regexp_replace(regexp_replace(text, '{em}', '<EMAIL>'),"
             f" '{ip}', '<IP>')")
    return docs.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(text, '{em}', 0))").cast("long").alias("n_emails"),
        F.expr(f"size(regexp_extract_all(text, '{ip}', 0))").cast("long").alias("n_ips"),
        F.expr(f"sha2({scrub}, 256)").alias("scrub_sha"),
    )


SQL_DOC_PII_SCRUB = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_PII_EMAIL}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, '{_PII_IPV4}'))::BIGINT AS n_ips,
       sha256(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                             '{_PII_IPV4}', '<IP>', 'g')) AS scrub_sha
FROM documents
"""


# Benchmark decontamination (GPT-3 appendix C / Llama 2 §A.6: flag
# training docs sharing any token n-gram with an evaluation set; both
# use 8-13-token grams — 8 here, scaled to the corpus' short docs).
_DECON_K = 8
_DECON_EVAL_SOURCE = "src0"


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination sweep (GPT-3, Brown et al. 2020
    arXiv:2005.14165 appendix C; Llama 2, Touvron et al. 2023 §A.6):
    docs from one source act as the held-out benchmark; every other
    (training) doc reports how many of its distinct token 8-grams also
    occur in the benchmark, as a count and as ppm of its gram set.

    Scale shape: the benchmark side is small by construction (eval
    suites are MBs against a 100 TB corpus), so its distinct-gram set
    broadcasts; the train side is a map-only gram expansion feeding a
    broadcast hash join + per-doc partial count — no wide shuffle of
    corpus text.  At 10^12 files the grams would be hashed (xxhash64)
    before the join to cut the broadcast bytes; kept as strings here so
    the DuckDB oracle verifies the grams themselves."""
    docs = _t(spark, sf_dir, "documents")
    grams = (f"CASE WHEN size(tk) >= {_DECON_K} THEN array_distinct("
             f"transform(sequence(1, size(tk) - {_DECON_K - 1}),"
             f" i -> concat_ws(' ', slice(tk, i, {_DECON_K}))))"
             " ELSE array() END")
    base = (
        docs.select("doc_id", "source", F.expr(_TOKENS).alias("tk"))
        .select("doc_id", "source", F.expr(grams).alias("gr"))
    )
    ev = (
        base.filter(F.col("source") == _DECON_EVAL_SOURCE)
        .select(F.explode("gr").alias("gram")).distinct()
    )
    train = base.filter(F.col("source") != _DECON_EVAL_SOURCE)
    # gr is distinct per doc and ev is distinct, so count(*) after the
    # inner join is exactly the number of distinct contaminated grams
    hits = (
        train.select("doc_id", F.explode("gr").alias("gram"))
        .join(F.broadcast(ev), "gram")
        .groupBy("doc_id").agg(F.count("*").alias("h"))
    )
    return (
        train.select("doc_id", F.expr("size(gr)").cast("long").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id", "n_grams",
            F.coalesce("h", F.lit(0)).cast("long").alias("hit_grams"),
            F.expr("CASE WHEN n_grams = 0 THEN 0"
                   " ELSE (coalesce(h, 0) * 1000000) div n_grams END")
            .cast("long").alias("contam_ppm"),
            F.expr("CASE WHEN coalesce(h, 0) > 0 THEN 1 ELSE 0 END")
            .cast("long").alias("contaminated"),
        )
    )


SQL_DECONTAMINATE_NGRAM = f"""
WITH base AS (
  SELECT doc_id, source,
         (CASE WHEN len(tk) >= {_DECON_K}
               THEN list_distinct(list_transform(
                      generate_series(1, len(tk) - {_DECON_K - 1}),
                      i -> array_to_string(list_slice(tk, i, i + {_DECON_K - 1}), ' ')))
               ELSE []::VARCHAR[] END) AS gr
  FROM (SELECT doc_id, source,
               {_SQL_TOKENS} AS tk
        FROM documents)
), ev AS (
  SELECT DISTINCT unnest(gr) AS gram FROM base WHERE source = '{_DECON_EVAL_SOURCE}'
), train AS (
  SELECT doc_id, gr FROM base WHERE source <> '{_DECON_EVAL_SOURCE}'
), hits AS (
  SELECT doc_id, count(*) AS h
  FROM (SELECT doc_id, unnest(gr) AS gram FROM train) t
  JOIN ev USING (gram)
  GROUP BY 1
)
SELECT tr.doc_id, len(tr.gr)::BIGINT AS n_grams,
       coalesce(h.h, 0)::BIGINT AS hit_grams,
       (CASE WHEN len(tr.gr) = 0 THEN 0
             ELSE (coalesce(h.h, 0) * 1000000) // len(tr.gr) END)::BIGINT AS contam_ppm,
       (CASE WHEN coalesce(h.h, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS contaminated
FROM train tr LEFT JOIN hits h USING (doc_id)
"""


# Gopher quality-filter rule constants (Rae et al. 2021 §A1.1, scaled
# to this corpus' short docs): word-count bounds, mean-word-length
# bounds (centi-chars), max top-token mass (ppm), min distinct
# stopwords present
_GQ_MIN_WORDS, _GQ_MAX_WORDS = 20, 10000
_GQ_MIN_MWL, _GQ_MAX_MWL = 300, 1000
_GQ_MAX_TOP_TOKEN_PPM = 200000
_GQ_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")
_GQ_MIN_STOP = 2
_GQ_STOP_LIT = ", ".join(f"'{s}'" for s in _GQ_STOPWORDS)
# the fail-rule bitmask; the same SQL text in Spark and DuckDB
_GQ_MASK = (
    f"(CASE WHEN n_words < {_GQ_MIN_WORDS} OR n_words > {_GQ_MAX_WORDS}"
    "  THEN 1 ELSE 0 END)"
    f" + (CASE WHEN mean_word_len_centi < {_GQ_MIN_MWL}"
    f"     OR mean_word_len_centi > {_GQ_MAX_MWL} THEN 2 ELSE 0 END)"
    f" + (CASE WHEN top_token_ppm > {_GQ_MAX_TOP_TOKEN_PPM} THEN 4 ELSE 0 END)"
    f" + (CASE WHEN n_stop < {_GQ_MIN_STOP} THEN 8 ELSE 0 END)"
)


def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality filter (Rae et al. 2021, arXiv:
    2112.11446 §A1.1): per document — word count, mean word length
    (centi-chars), most-frequent-token mass (ppm), distinct stopwords
    present — each gated by the published rule family, emitting a
    fail-rule bitmask (1=word count, 2=mean word length, 4=top-token
    mass, 8=stopwords) and keep = (mask == 0).

    Scale shape: entirely map-only — zero shuffles, zero joins; every
    signal is a higher-order array function over the token array, so
    the filter runs at scan speed and pushes straight onto a 100 TB
    pipeline's ingest pass.  The top-token scan is O(distinct x tokens)
    per row; at web-document lengths the token array would be truncated
    to a fixed prefix (Gopher's signals saturate quickly) to bound it."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr(_TOKENS).alias("tk"),
    ).select(
        "doc_id",
        F.expr("size(tk)").cast("long").alias("n_words"),
        F.expr("CASE WHEN size(tk) = 0 THEN 0 ELSE"
               " (aggregate(tk, 0L, (acc, x) -> acc + length(x)) * 100)"
               " div size(tk) END").cast("long").alias("mean_word_len_centi"),
        F.expr("CASE WHEN size(tk) = 0 THEN 0 ELSE"
               " (array_max(transform(array_distinct(tk),"
               "   x -> size(filter(tk, y -> y = x)))) * 1000000)"
               " div size(tk) END").cast("long").alias("top_token_ppm"),
        F.expr(f"size(array_intersect(array_distinct(tk), array({_GQ_STOP_LIT})))")
        .cast("long").alias("n_stop"),
    )
    return base.select(
        "doc_id", "n_words", "mean_word_len_centi", "top_token_ppm", "n_stop",
        F.expr(_GQ_MASK).cast("long").alias("fail_mask"),
        F.expr(f"CASE WHEN ({_GQ_MASK}) = 0 THEN 1 ELSE 0 END")
        .cast("long").alias("keep"),
    )


def _sql_gopher_quality_filter() -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         {_SQL_TOKENS} AS tk
  FROM documents
), sig AS (
  SELECT doc_id,
         len(tk)::BIGINT AS n_words,
         (CASE WHEN len(tk) = 0 THEN 0 ELSE
            (list_sum(list_transform(tk, x -> len(x))) * 100) // len(tk)
          END)::BIGINT AS mean_word_len_centi,
         (CASE WHEN len(tk) = 0 THEN 0 ELSE
            (list_max(list_transform(list_distinct(tk),
               x -> len(list_filter(tk, y -> y = x)))) * 1000000) // len(tk)
          END)::BIGINT AS top_token_ppm,
         len(list_intersect(list_distinct(tk), [{_GQ_STOP_LIT}]))::BIGINT AS n_stop
  FROM base
)
SELECT doc_id, n_words, mean_word_len_centi, top_token_ppm, n_stop,
       ({_GQ_MASK})::BIGINT AS fail_mask,
       (CASE WHEN ({_GQ_MASK}) = 0 THEN 1 ELSE 0 END)::BIGINT AS keep
FROM sig
"""


SQL_GOPHER_QUALITY_FILTER = _sql_gopher_quality_filter()


# DSIR target-domain sample: docs from this source play the role of the
# curated high-quality corpus; everything else is the raw pool being
# scored.  Bucket count is small on purpose — the weight vector is
# O(buckets) regardless of corpus size, so it is collected, not joined.
_DSIR_TARGET_SOURCE = "src3"
_DSIR_BUCKETS = 64


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring for data selection (Xie et al. 2023,
    arXiv:2302.03169): featurize every document as hashed unigram +
    bigram counts over ``_DSIR_BUCKETS`` buckets, fit add-one-smoothed
    bag-of-hashed-ngrams models for the target domain (docs from
    ``_DSIR_TARGET_SOURCE``) and the raw pool (everything else), and
    score each raw doc with its importance log-ratio
    sum_b c_b * (ln p_target(b) - ln p_raw(b)).  Output = per raw doc:
    feature count, score in integer micro-nats, and the selection rank
    (DSIR's resampling draws the top-k of score + Gumbel noise; the
    deterministic rank is the seed-free part the oracle can pin).

    Cross-engine exactness: the four ``ln`` evaluations happen once per
    BUCKET and are rounded to integer micro-nats there, so per-doc
    scores are exact integer dot products — no float accumulation whose
    summation order could differ between engines.

    Scale shape: one Arrow pass (:func:`dsir_counts`) folds each
    document into one dense row of ``_DSIR_BUCKETS`` counts, checkpointed
    once; the text crosses only the round-robin exchange that spreads
    that pass over the cores.  The bucket marginals are
    one map-side-combined aggregate of O(buckets) rows, and the weight
    vector they give is collected (64 longs).  Each raw doc's score
    is then the dot product of its count row with that vector, so
    nothing is joined and nothing is exchanged by doc_id.  The global
    sel_rank window runs over the two-long (score, id) score table; at
    10^12 rows the production form replaces it with a top-k threshold
    (distributed quantile of score_micro, then a scan-side filter) —
    kept as an exact global rank here because the oracle pins it."""
    docs = _t(spark, sf_dir, "documents")
    return dsir_scores(docs, F.col("source") == _DSIR_TARGET_SOURCE)


def _md5_60_sql(arg: str) -> str:
    """Spark SQL form of the portable md5-60bit hash of ``arg`` (the
    oracles' ``('0x' || substr(md5(arg), 1, 15))::BIGINT``, ``_md5_60``)."""
    return f"CAST(conv(substring(md5({arg}), 1, 15), 16, 10) AS BIGINT)"


@functools.lru_cache(maxsize=1 << 20)
def _md5_60(feature: str) -> int:
    return int(hashlib.md5(feature.encode("utf-8", "surrogatepass"))
               .hexdigest()[:15], 16)


def dsir_md5_hash(toks: list[str]) -> np.ndarray:
    """Portable DSIR feature hash, the one the oracle reproduces: the
    md5-60bit value (``('0x' || substr(md5(f), 1, 15))::BIGINT``) of
    every token and every space-joined adjacent-token bigram.  Memoized
    per distinct feature, at most 2^20 features per worker."""
    feats = toks + [a + " " + b for a, b in zip(toks, toks[1:])]
    return np.fromiter(map(_md5_60, feats), dtype=np.uint64, count=len(feats))


_BIGRAM_MIX = np.uint64(0x9E3779B97F4A7C15)


def dsir_mix_hash(toks: list[str]) -> np.ndarray:
    """Fast DSIR feature hash for tools/dsir_at_scale.py: crc32 of each
    token through splitmix64; a bigram mixes its two token hashes, so
    bigram strings are never built.  Same features as
    :func:`dsir_md5_hash`, different buckets, no oracle."""
    h = _splitmix64(np.fromiter(
        (zlib.crc32(t.encode("utf-8", "surrogatepass")) for t in toks),
        dtype=np.uint64, count=len(toks)))
    return np.concatenate([h, _splitmix64(h[:-1] ^ (h[1:] * _BIGRAM_MIX))])


def dsir_counts(docs: DataFrame,
                feature_hash: Callable[[list[str]], np.ndarray]) -> DataFrame:
    """The DSIR count kernel: one row ``(doc_id, _tgt, counts)`` per
    document whose ``_tgt`` is not NULL.  ``counts`` has length
    ``_DSIR_BUCKETS``; ``counts[b]`` is how many of the document's
    features land in bucket ``b`` (``feature_hash(tokens) %
    _DSIR_BUCKETS``).  Tokens are the non-empty pieces of ``text``
    between ``_WS`` runs; an empty or NULL text gets the zero vector.

    Per-task memory: the output batch, Arrow batch rows x
    ``_DSIR_BUCKETS`` x 8 bytes (10k rows x 64 buckets = 5 MB), plus the
    md5 memo of at most 2^20 features (:func:`dsir_md5_hash`)."""
    spark = docs.sparkSession
    buckets = _DSIR_BUCKETS

    def batches(it):
        import re

        import pandas as pd

        ws = re.compile(_WS)
        bkt = np.uint64(buckets)
        for pdf in it:
            counts = np.zeros((len(pdf), buckets), dtype=np.int64)
            for row, text in zip(counts, pdf["text"]):
                if isinstance(text, str):
                    h = feature_hash([t for t in ws.split(text) if t])
                    row += np.bincount((h % bkt).astype(np.int64),
                                       minlength=buckets)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "_tgt": pdf["_tgt"],
                                "counts": list(counts)})

    return (
        docs.filter(F.col("_tgt").isNotNull())
        .select("doc_id", "_tgt", "text")
        # the source is often a few dense files; spread the CPU-heavy
        # tokenize+hash pass over every core
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(batches,
                     schema="doc_id long, _tgt boolean, counts array<long>")
    )


def dsir_scores(docs: DataFrame, is_target,
                feature_hash: Callable[[list[str]], np.ndarray] = dsir_md5_hash,
                ) -> DataFrame:
    """Core of :func:`q_dsir_importance`, reusable over any table with
    (doc_id, text) and a boolean target-membership expression — the
    tier harness (tools/dsir_at_scale.py) scores source-code corpora
    with a (lang, repo)-derived target sample and :func:`dsir_mix_hash`.
    Only the md5 default is oracle-exact."""
    from pyspark import StorageLevel

    b = _DSIR_BUCKETS
    # materialized once for its two readers (marginals, scores); on
    # disk, so the 7.1M-tier counts never crowd the execution pool
    counts = dsir_counts(docs.withColumn("_tgt", is_target),
                         feature_hash).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY)
    marginals = (
        counts.select("_tgt", F.posexplode("counts").alias("b", "c"))
        .groupBy("b")
        .agg(F.sum(F.when(F.col("_tgt"), F.col("c")).otherwise(0)).alias("tc"),
             F.sum(F.when(~F.col("_tgt"), F.col("c")).otherwise(0)).alias("rc"))
    )
    lw = F.expr(f"CAST(round((ln(tc + 1) - ln(sum(tc) OVER () + {b})"
                f" - ln(rc + 1) + ln(sum(rc) OVER () + {b}))"
                " * 1000000, 0) AS BIGINT)")
    w = [0] * b
    for r in marginals.select("b", lw.alias("lw")).collect():
        w[r["b"]] = r["lw"]
    w_arr = ", ".join(f"{v}L" for v in w)
    return (
        counts.filter(~F.col("_tgt"))
        .select(
            "doc_id",
            F.expr("aggregate(counts, 0L, (s, c) -> s + c)").alias("n_feats"),
            F.expr(f"aggregate(zip_with(counts, array({w_arr}),"
                   " (c, w) -> c * w), 0L, (s, x) -> s + x)").alias("score_micro"),
        )
        .withColumn(
            "sel_rank",
            F.expr("row_number() OVER (ORDER BY score_micro DESC, doc_id)")
            .cast("long"),
        )
    )


SQL_DSIR_IMPORTANCE = f"""
WITH base AS (
  SELECT doc_id, source,
         (CASE WHEN len(tk) >= 2 THEN
            list_concat(tk, list_transform(generate_series(1, len(tk) - 1),
                                           i -> tk[i] || ' ' || tk[i + 1]))
          ELSE tk END) AS fs
  FROM (SELECT doc_id, source,
               {_SQL_TOKENS} AS tk
        FROM documents)
), fb AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(f), 1, 15))::BIGINT % {_DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, source, unnest(fs) AS f FROM base) t
), tgt AS (
  SELECT b, count(*) AS tc FROM fb
  WHERE source = '{_DSIR_TARGET_SOURCE}' GROUP BY 1
), doc_b AS (
  SELECT doc_id, b, count(*) AS c FROM fb
  WHERE source <> '{_DSIR_TARGET_SOURCE}' GROUP BY 1, 2
), raw AS (
  SELECT b, sum(c) AS rc FROM doc_b GROUP BY 1
), tot AS (
  SELECT (SELECT coalesce(sum(tc), 0) FROM tgt) AS nt,
         (SELECT coalesce(sum(rc), 0) FROM raw) AS nr
), w AS (
  SELECT s.b,
         round((ln(coalesce(tc, 0) + 1) - ln(nt + {_DSIR_BUCKETS})
                - ln(coalesce(rc, 0) + 1) + ln(nr + {_DSIR_BUCKETS}))
               * 1000000)::BIGINT AS lw
  FROM (SELECT unnest(generate_series(0, {_DSIR_BUCKETS - 1})) AS b) s
  LEFT JOIN tgt USING (b) LEFT JOIN raw USING (b), tot
), sc AS (
  SELECT doc_id, sum(c * lw) AS s, sum(c) AS nf
  FROM doc_b JOIN w USING (b) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(nf, 0)::BIGINT AS n_feats,
       coalesce(s, 0)::BIGINT AS score_micro,
       row_number() OVER (ORDER BY coalesce(s, 0) DESC, d.doc_id)::BIGINT
         AS sel_rank
FROM (SELECT doc_id FROM base WHERE source <> '{_DSIR_TARGET_SOURCE}') d
LEFT JOIN sc USING (doc_id)
"""


def q_paragraph_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-paragraph mass (the CCNet/RefinedWeb
    sub-document dedup signal — boilerplate paragraphs repeated across
    the corpus): split each document into trimmed non-empty paragraphs
    (runs of >= 2 newlines), hash each with the portable md5-60bit
    kernel, compute corpus-wide paragraph document-frequency, and
    report per document the paragraph count and the ppm of its
    paragraphs that ALSO appear in some other document.  Two shuffles
    (df groupBy + doc re-agg) over hashes only — paragraph text never
    shuffles twice.  Docs with no paragraphs report 0."""
    docs = _t(spark, sf_dir, "documents")
    paras = ("filter(transform(split(text, '\\n{2,}'), x -> trim(x)),"
             " x -> x != '')")
    pe = docs.select(
        "doc_id",
        F.explode_outer(F.expr(paras)).alias("p"),
    ).withColumn("hv", F.expr(_md5_60_sql("p")))
    # paragraph df counts DISTINCT docs (a paragraph repeated inside one
    # doc is intra-doc repetition, doc_repetition_stats' job)
    dfreq = (
        pe.filter(F.col("p").isNotNull())
        .select("doc_id", "hv").distinct()
        .groupBy("hv").agg(F.count(F.lit(1)).alias("df"))
    )
    per_doc = (
        pe.join(dfreq, "hv", "left")
        .groupBy("doc_id")
        .agg(
            F.count("p").alias("n_paras"),
            F.count(F.when(F.col("df") >= 2, 1)).alias("n_dup"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.expr("CASE WHEN n_paras = 0 THEN 0"
               " ELSE (n_dup * 1000000) div n_paras END")
        .cast("long").alias("dup_para_ppm"),
    )


SQL_PARAGRAPH_DEDUP_STATS = """
WITH pe AS (
  SELECT doc_id,
         unnest(list_filter(list_transform(string_split_regex(text, '\\n{2,}'),
                                           x -> trim(x)), x -> x <> '')) AS p
  FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(p), 1, 15))::BIGINT AS hv FROM pe
), dfreq AS (
  SELECT hv, count(*) AS df FROM (SELECT DISTINCT doc_id, hv FROM hashed) GROUP BY 1
), per_doc AS (
  SELECT h.doc_id, count(*) AS n_paras,
         count(CASE WHEN d.df >= 2 THEN 1 END) AS n_dup
  FROM hashed h JOIN dfreq d USING (hv)
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_paras, 0)::BIGINT AS n_paras,
       (CASE WHEN coalesce(p.n_paras, 0) = 0 THEN 0
             ELSE (p.n_dup * 1000000) // p.n_paras END)::BIGINT AS dup_para_ppm
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def paragraph_dedup_apply_frame(docs: DataFrame) -> DataFrame:
    """The sub-document dedup TRANSFORM (CCNet, Wenzek et al. 2019,
    arXiv:1911.00359; RefinedWeb, Penedo et al. 2023, arXiv:2306.01116):
    where paragraph_dedup_stats only MEASURES duplicated-paragraph mass,
    this emits the cleaned text — every paragraph that appears in >= 2
    distinct documents is kept only in its OWNER doc (the minimum doc_id
    containing it, the deterministic keep-first policy) and dropped from
    all others.  Paragraphs are the same unit as the stats query (runs
    of >= 2 newlines, trimmed, non-empty); the cleaned text re-joins the
    kept paragraphs in original order with a blank line.

    Shape at scale: the paragraph TEXT shuffles once (to the hash join
    against the ownership table); ownership itself aggregates hashes
    only — the same two-hash-shuffle discipline as the stats query.

    Returns (doc_id, n_paras, n_kept, new_text)."""
    paras = ("filter(transform(split(text, '\\n{2,}'), x -> trim(x)),"
             " x -> x != '')")
    pe = docs.select(
        "doc_id",
        F.posexplode_outer(F.expr(paras)).alias("pos", "p"),
    ).withColumn("hv", F.expr(_md5_60_sql("p")))
    own = (
        pe.filter(F.col("p").isNotNull())
        .select("doc_id", "hv").distinct()
        .groupBy("hv")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("owner"))
    )
    kept_flag = (F.col("df") < 2) | (F.col("owner") == F.col("doc_id"))
    joined = pe.join(own, "hv", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("p").cast("long").alias("n_paras"),
            F.count(F.when(kept_flag, 1)).cast("long").alias("n_kept"),
            F.concat_ws(
                "\n\n",
                F.expr("transform(array_sort(collect_list(CASE WHEN "
                       "(df < 2 OR owner = doc_id) THEN struct(pos, p) END)),"
                       " x -> x.p)"),
            ).alias("new_text"),
        )
    )


def q_paragraph_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """paragraph_dedup_apply_frame over the documents table, with the
    transform pinned byte-for-byte via sha256 of the cleaned text (the
    same pin discipline as doc_pii_scrub) — the oracle verifies the
    REMOVAL, not just the counts."""
    docs = _t(spark, sf_dir, "documents")
    out = paragraph_dedup_apply_frame(docs)
    return out.select(
        "doc_id", "n_paras", "n_kept",
        F.sha2("new_text", 256).alias("new_sha"),
    )


SQL_PARAGRAPH_DEDUP_APPLY = """
WITH pe AS (
  SELECT doc_id, i AS pos, l[i] AS p,
         ('0x' || substr(md5(l[i]), 1, 15))::BIGINT AS hv
  FROM (SELECT doc_id,
               list_filter(list_transform(string_split_regex(text, '\\n{2,}'),
                                          x -> trim(x)), x -> x <> '') AS l
        FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) t
), own AS (
  SELECT hv, count(*) AS df, min(doc_id) AS owner
  FROM (SELECT DISTINCT doc_id, hv FROM pe)
  GROUP BY 1
), kept AS (
  SELECT pe.doc_id, pe.pos, pe.p,
         (o.df < 2 OR o.owner = pe.doc_id) AS keep
  FROM pe JOIN own o USING (hv)
), agg AS (
  SELECT doc_id, count(*) AS n_paras,
         count(CASE WHEN keep THEN 1 END) AS n_kept,
         coalesce(string_agg(CASE WHEN keep THEN p END, chr(10) || chr(10)
                             ORDER BY pos), '') AS new_text
  FROM kept
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(a.n_paras, 0)::BIGINT AS n_paras,
       coalesce(a.n_kept, 0)::BIGINT AS n_kept,
       sha256(coalesce(a.new_text, '')) AS new_sha
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


SUBSTR_K = 25  # min duplicated-substring length spliced out (chars)


def substring_dedup_apply_frame(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Corpus-level EXACT SUBSTRING dedup (Lee et al. 2021,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    Better", ExactSubstr): every maximal character range covered by
    k-grams that occur in >= 2 DISTINCT documents is spliced out of the
    text — the stronger sibling of paragraph_dedup_apply, catching
    repeated license headers / vendored blocks that do not align on
    paragraph boundaries.  Lee et al. build one corpus suffix array;
    the relational equivalent is:

      1. positional k-gram hashes  (map-only explode, 1 row per char)
      2. duplicated-gram set       (groupBy hash, distinct-doc count >= 2)
      3. covered start positions   (semi join)
      4. maximal-run coalescing    (per-doc window: a start within k of
                                    its predecessor extends the run)
      5. splice-out                (one fold over the sorted run list —
                                    the doc TEXT ships exactly once to
                                    its groupBy, runs are tiny structs)

    All five steps are JVM-relational (no UDF).  Shape at scale: step 1
    is the same positional explode winnowing already pays; step 2
    shuffles 8-byte hashes; the fold in step 5 is whole-stage-codegen.
    Removing ALL copies (not keep-one) is Lee et al.'s default policy;
    grams hash with the portable md5-60bit so the DuckDB oracle splices
    byte-identically (collisions, ~2^-60/pair, are cross-engine
    consistent).  Returns (doc_id, orig_len, n_runs, removed_chars,
    new_text)."""
    hvs = (f"transform(sequence(1, length(text) - {k - 1}),"
           f" i -> {_md5_60_sql(f'substring(text, i, {k})')})")
    pe = (
        docs.filter(F.col("text").isNotNull() & (F.length("text") >= k))
        .select("doc_id", F.posexplode(F.expr(hvs)).alias("pos0", "hv"))
        .select("doc_id", (F.col("pos0") + 1).alias("p"), "hv")
    )
    # "occurs in >= 2 distinct docs" == min(doc) != max(doc) within the
    # gram-hash partition: ONE window shuffle keyed by hv replaces the
    # distinct + groupBy + semi-join (which also re-ran the positional
    # explode lineage twice) — measured 13.8 -> ~5 s at sf0.01
    wh = Window.partitionBy("hv")
    cov = (
        pe.withColumn("_mn", F.min("doc_id").over(wh))
        .withColumn("_mx", F.max("doc_id").over(wh))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("doc_id", "p")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    runs = (
        cov.withColumn(
            "new_run",
            F.when(F.col("p") > F.lag("p").over(w) + k, 1).otherwise(0))
        .withColumn("run_id", F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "run_id")
        .agg(F.min("p").alias("s"), (F.max("p") + k - 1).alias("e"))
    )
    # splice: fold the sorted (s, e) list over the original text; runs
    # are maximal and separated by >= 1 kept char by construction
    splice = (
        "aggregate(rs, named_struct('cur', 1, 'acc', ''),"
        " (a, r) -> named_struct('cur', r.e + 1,"
        "   'acc', concat(a.acc, substring(text, a.cur, r.s - a.cur))),"
        " a -> concat(a.acc, substring(text, a.cur, length(text) - a.cur + 1)))"
    )
    # aggregate the (tiny) run structs per doc FIRST, then join the doc
    # text in once — the text column ships through exactly one exchange
    # instead of two (join-then-groupBy would shuffle it twice)
    run_lists = runs.groupBy("doc_id").agg(
        F.expr("array_sort(collect_list(struct(s, e)))").alias("rs"))
    return (
        docs.join(run_lists, "doc_id", "left")
        .withColumn("rs", F.expr(
            "coalesce(rs, CAST(array() AS array<struct<s:int,e:int>>))"))
        .select(
            "doc_id",
            F.length("text").cast("long").alias("orig_len"),
            F.size("rs").cast("long").alias("n_runs"),
            F.expr("CAST(aggregate(rs, 0, (a, r) -> a + r.e - r.s + 1)"
                   " AS BIGINT)").alias("removed_chars"),
            F.expr(splice).alias("new_text"),
        )
    )


def q_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substring_dedup_apply_frame over the documents table, the
    cleaned text pinned byte-for-byte via sha256 (same discipline as
    paragraph_dedup_apply / doc_pii_scrub — the oracle verifies the
    SPLICE, not just the counts)."""
    docs = _t(spark, sf_dir, "documents")
    out = substring_dedup_apply_frame(docs)
    return out.select(
        "doc_id", "orig_len", "n_runs", "removed_chars",
        F.sha2("new_text", 256).alias("new_sha"),
    )


SQL_SUBSTRING_DEDUP_APPLY = f"""
WITH pe AS (
  SELECT doc_id, i AS p,
         ('0x' || substr(md5(substr(text, i, {SUBSTR_K})), 1, 15))::BIGINT AS hv
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, len(text) - {SUBSTR_K - 1})) AS i) t
  WHERE text IS NOT NULL AND len(text) >= {SUBSTR_K}
), dup AS (
  SELECT hv FROM (SELECT DISTINCT doc_id, hv FROM pe)
  GROUP BY 1 HAVING count(*) >= 2
), cov AS (
  SELECT doc_id, p FROM pe WHERE hv IN (SELECT hv FROM dup)
), marked AS (
  SELECT doc_id, p,
         CASE WHEN p > lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                      + {SUBSTR_K} THEN 1 ELSE 0 END AS new_run
  FROM cov
), runs AS (
  SELECT doc_id, run_id, min(p) AS s, max(p) + {SUBSTR_K - 1} AS e
  FROM (SELECT doc_id, p,
               sum(new_run) OVER (PARTITION BY doc_id ORDER BY p) AS run_id
        FROM marked)
  GROUP BY 1, 2
), segs AS (
  -- kept segment BEFORE each run, via the previous run's end
  SELECT r.doc_id, r.s, r.e,
         substr(d.text, coalesce(lag(r.e) OVER
                  (PARTITION BY r.doc_id ORDER BY r.s), 0) + 1,
                r.s - coalesce(lag(r.e) OVER
                  (PARTITION BY r.doc_id ORDER BY r.s), 0) - 1) AS seg
  FROM runs r JOIN documents d USING (doc_id)
), agg AS (
  SELECT s.doc_id, count(*) AS n_runs,
         sum(s.e - s.s + 1) AS removed_chars,
         coalesce(string_agg(s.seg, '' ORDER BY s.s), '')
           || substr(d.text, max(s.e) + 1) AS new_text
  FROM segs s JOIN documents d USING (doc_id)
  GROUP BY s.doc_id, d.text
)
SELECT d.doc_id, len(d.text)::BIGINT AS orig_len,
       coalesce(a.n_runs, 0)::BIGINT AS n_runs,
       coalesce(a.removed_chars, 0)::BIGINT AS removed_chars,
       sha256(coalesce(a.new_text, d.text)) AS new_sha
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540) over the embeddings table: vectors are clustered
    by the PINNED coarse-quantizer centroids (same golden as
    ann_ivf_topk — production shape: cluster once, dedup within cells),
    and within each cell a vector is DROPPED when some lower-id vector
    in the same cell has cosine similarity >= the near-dup threshold
    (0.45 on this corpus).  Keep-lowest-id is the deterministic analog
    of SemDeDup's keep-one-per-semantic-group; the within-cell pair
    join costs ~n^2/cells instead of n^2 — the same pruning argument as
    IVF search, and the policy a 100 TB training-data pipeline actually
    runs (cells are bucketed, each cell's join is cell-local).

    Output: (vec_id, cell, kept int) for every vector — ids only, no
    floats, value-exact against the DuckDB oracle.

    r4: executes through the full-scale form — argmin assignment +
    one ann.cosine gram per cell (semantic_dedup_cells) — proven
    equivalent to the within-cell SQL pair join at this tier
    (tests/test_ann_scale_path.py); the oracle keeps the explicit
    relational shape."""
    from codedup.ann import golden_centroids, probe_cells, semantic_dedup_cells

    emb = _t(spark, sf_dir, "embeddings")
    assigned = probe_cells(emb, golden_centroids(), 1)
    return semantic_dedup_cells(assigned, 0.45)


def _sql_semantic_dedup() -> str:
    from codedup.ann import golden_centroids

    vals = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(x) for x in c))
        for i, c in enumerate(golden_centroids())
    )
    return f"""
WITH cent(cell, c) AS (VALUES
    {vals}
), dist AS (
  SELECT e.vec_id, e.embedding, ct.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_sum(list_transform(generate_series(1, len(e.embedding)),
                                     i -> (e.embedding[i]::DOUBLE - ct.c[i]) * (e.embedding[i]::DOUBLE - ct.c[i]))), 6),
                                     ct.cell) AS rn
  FROM embeddings e CROSS JOIN cent ct
), assigned AS (
  SELECT vec_id, embedding, cell FROM dist WHERE rn = 1
), dropped AS (
  SELECT DISTINCT y.vec_id
  FROM assigned x JOIN assigned y
    ON x.cell = y.cell AND x.vec_id < y.vec_id
  WHERE round(
          list_sum(list_transform(generate_series(1, len(x.embedding)),
                                  i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
          / (sqrt(list_sum(list_transform(x.embedding, v -> v::DOUBLE * v::DOUBLE)))
             * sqrt(list_sum(list_transform(y.embedding, v -> v::DOUBLE * v::DOUBLE)))),
          6) >= 0.45
)
SELECT a.vec_id, a.cell, (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::INT AS kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


SQL_SEMANTIC_DEDUP = _sql_semantic_dedup()


# ---------------------------------------------------------------------------
# apply surface (S10/S12): plan_moves under the oracle gate
# ---------------------------------------------------------------------------

# deterministic action-table arithmetic shared (as expressions) by the
# Spark query and the DuckDB oracle: a name pool with colliding stems,
# pre-numbered _N stems (family stripping), dot-less names (suffix='')
# and keep/dedup/review actions — every branch of the conflict
# semantics is exercised on 500 rows at sf0.01
_APPLY_EXISTING = [("f0.py",), ("f1.py",), ("f2_1.py",), ("noext",)]


def q_apply_plan_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/S12 planning half under the value-exact gate (VERDICT r2
    #7): a deterministic action table is derived arithmetically from
    doc_ids (colliding basenames, _N-numbered stems, empty suffixes,
    non-mover 'keep' rows) plus a fixed existing-name table, and
    codedup.apply.plan_moves assigns destination names; the DuckDB
    oracle reproduces the whole root-family discipline — original-
    name claims, blocked set, family candidate sequence, slot matching
    — in SQL.  Output is ids + strings only (no floats)."""
    from codedup.apply import plan_moves

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = "concat('f', CAST(doc_id % 7 AS STRING))"
    stem = (f"CASE WHEN doc_id % 11 = 0 THEN concat({base}, '_',"
            f" CAST(doc_id % 3 + 1 AS STRING)) ELSE {base} END")
    suffix = ("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '.py'"
              " WHEN 1 THEN '.txt' ELSE '' END")
    name = f"concat({stem}, {suffix})"
    actions = docs.select(
        F.col("doc_id").alias("file_id"),
        F.expr(f"concat('r', CAST(doc_id % 5 AS STRING), '/sub/', {name}, '@c0')")
        .alias("key"),
        (F.col("doc_id") / 10).cast("long").alias("cluster_id"),
        (F.col("doc_id") % 10).alias("rank"),
        F.expr("CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'keep'"
               " WHEN 1 THEN 'dedup' ELSE 'review' END").alias("action"),
    )
    existing = spark.createDataFrame(_APPLY_EXISTING, "name string")
    return plan_moves(actions, "/dest", existing).withColumnRenamed("rank", "r_rank")


SQL_APPLY_PLAN_MOVES = """
WITH movers AS (
  SELECT doc_id AS file_id,
         'r' || (doc_id % 5)::VARCHAR || '/sub/' ||
           (CASE WHEN doc_id % 11 = 0
                 THEN 'f' || (doc_id % 7)::VARCHAR || '_' || (doc_id % 3 + 1)::VARCHAR
                 ELSE 'f' || (doc_id % 7)::VARCHAR END)
           || (CASE (doc_id % 3)::INT WHEN 0 THEN '.py' WHEN 1 THEN '.txt' ELSE '' END)
           || '@c0' AS key,
         (doc_id // 10)::BIGINT AS cluster_id,
         (doc_id % 10)::BIGINT AS r_rank,
         CASE (doc_id % 4)::INT WHEN 1 THEN 'dedup' ELSE 'review' END AS action,
         (CASE WHEN doc_id % 11 = 0
               THEN 'f' || (doc_id % 7)::VARCHAR || '_' || (doc_id % 3 + 1)::VARCHAR
               ELSE 'f' || (doc_id % 7)::VARCHAR END)
           || (CASE (doc_id % 3)::INT WHEN 0 THEN '.py' WHEN 1 THEN '.txt' ELSE '' END)
           AS src_name,
         CASE WHEN doc_id % 11 = 0
              THEN 'f' || (doc_id % 7)::VARCHAR || '_' || (doc_id % 3 + 1)::VARCHAR
              ELSE 'f' || (doc_id % 7)::VARCHAR END AS stem,
         CASE (doc_id % 3)::INT WHEN 0 THEN '.py' WHEN 1 THEN '.txt' ELSE '' END AS suffix,
         'f' || (doc_id % 7)::VARCHAR AS fam
  FROM documents
  WHERE (doc_id % 4)::INT IN (1, 2, 3)
), exist(name, stem, suffix, fam) AS (VALUES
  ('f0.py', 'f0', '.py', 'f0'),
  ('f1.py', 'f1', '.py', 'f1'),
  ('f2_1.py', 'f2_1', '.py', 'f2'),
  ('noext', 'noext', '', 'noext')
), claim AS (
  SELECT *, row_number() OVER (PARTITION BY src_name
                               ORDER BY cluster_id, r_rank, file_id) AS claim_rn
  FROM movers
), claimants AS (
  SELECT * FROM claim
  WHERE claim_rn = 1 AND src_name NOT IN (SELECT name FROM exist)
), rest AS (
  SELECT * FROM claim WHERE file_id NOT IN (SELECT file_id FROM claimants)
), blocked AS (
  SELECT src_name AS b FROM claimants UNION SELECT name FROM exist
), m_cnt AS (
  SELECT fam, suffix, count(*) AS m FROM movers GROUP BY 1, 2
), e_cnt AS (
  SELECT fam, suffix, count(*) AS e FROM exist GROUP BY 1, 2
), cands AS (
  SELECT mc.fam, mc.suffix, t.i,
         CASE WHEN t.i = 0 THEN mc.fam || mc.suffix
              ELSE mc.fam || '_' || t.i::VARCHAR || mc.suffix END AS cand_name
  FROM (SELECT mc0.fam, mc0.suffix, mc0.m, coalesce(ec.e, 0) AS e
        FROM m_cnt mc0 LEFT JOIN e_cnt ec
          ON mc0.fam = ec.fam AND mc0.suffix = ec.suffix) mc,
       LATERAL (SELECT unnest(generate_series(0, mc.m * 2 + mc.e)) AS i) t
), slots AS (
  SELECT fam, suffix, cand_name,
         row_number() OVER (PARTITION BY fam, suffix ORDER BY i) - 1 AS slot
  FROM cands WHERE cand_name NOT IN (SELECT b FROM blocked)
), ordered AS (
  SELECT *, row_number() OVER (PARTITION BY fam, suffix
                               ORDER BY cluster_id, r_rank, file_id) - 1 AS ordinal
  FROM rest
), assigned AS (
  SELECT o.file_id, o.key, o.cluster_id, o.r_rank, o.action, o.src_name,
         s.cand_name AS dest_name
  FROM ordered o JOIN slots s
    ON o.fam = s.fam AND o.suffix = s.suffix AND o.ordinal = s.slot
)
SELECT file_id, key, cluster_id, r_rank, action, src_name,
       '/dest/' || dest_name AS dest_path
FROM (
  SELECT file_id, key, cluster_id, r_rank, action, src_name, dest_name FROM assigned
  UNION ALL
  SELECT file_id, key, cluster_id, r_rank, action, src_name, src_name AS dest_name
  FROM claimants
)
"""


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_containment": q_dedup_containment,
    "doc_rarest_terms": q_doc_rarest_terms,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_lsh_tokens": q_dedup_minhash_lsh_tokens,
    "dedup_incremental_batch": q_dedup_incremental_batch,
    "text_stats": q_text_stats,
    "bpe_token_stats": q_bpe_token_stats,
    "user_sessions": q_user_sessions,
    "token_count_by_lang": q_token_count_by_lang,
    "simhash_tokens": q_simhash_tokens,
    "lang_id_heuristic": q_lang_id_heuristic,
    "doc_minhash_fingerprint": q_doc_minhash_fingerprint,
    "doc_winnowing": q_doc_winnowing,
    "winnowing_pairs": q_winnowing_pairs,
    "dedup_clusters": q_dedup_clusters,
    "cluster_savings": q_cluster_savings,
    "ann_topk_cosine": q_ann_topk_cosine,
    "ann_lsh_bucketed": q_ann_lsh_bucketed,
    "embedding_similar_pairs": q_embedding_similar_pairs,
    "ann_ivf_topk": q_ann_ivf_topk,
    "label_centroid_classifier": q_label_centroid_classifier,
    "doc_category_rules": q_doc_category_rules,
    "feedback_model_predictions": q_feedback_model_predictions,
    "apply_plan_moves": q_apply_plan_moves,
    "semantic_dedup": q_semantic_dedup,
    "doc_repetition_stats": q_doc_repetition_stats,
    "paragraph_dedup_stats": q_paragraph_dedup_stats,
    "paragraph_dedup_apply": q_paragraph_dedup_apply,
    "substring_dedup_apply": q_substring_dedup_apply,
    "doc_pii_scrub": q_doc_pii_scrub,
    "decontaminate_ngram": q_decontaminate_ngram,
    "gopher_quality_filter": q_gopher_quality_filter,
    "dsir_importance": q_dsir_importance,
    "pricing_summary": q_pricing_summary,
    "top_orders_per_customer": q_top_orders_per_customer,
    "customers_without_orders": q_customers_without_orders,
    "big_customers_semi": q_big_customers_semi,
    "user_activity": q_user_activity,
    "nation_customer_sample": q_nation_customer_sample,
    "orders_keyset_page": q_orders_keyset_page,
    "revenue_by_nation": q_revenue_by_nation,
    "events_daily_top_types": q_events_daily_top_types,
}

ORACLES: dict[str, str] = {
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "dedup_containment": SQL_DEDUP_CONTAINMENT,
    "doc_rarest_terms": SQL_DOC_RAREST_TERMS,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
    "dedup_minhash_lsh_tokens": SQL_DEDUP_MINHASH_LSH_TOKENS,
    "dedup_incremental_batch": SQL_DEDUP_INCREMENTAL_BATCH,
    "text_stats": SQL_TEXT_STATS,
    "bpe_token_stats": SQL_BPE_TOKEN_STATS,
    "user_sessions": SQL_USER_SESSIONS,
    "token_count_by_lang": SQL_TOKEN_COUNT_BY_LANG,
    "simhash_tokens": SQL_SIMHASH_TOKENS,
    "lang_id_heuristic": SQL_LANG_ID_HEURISTIC,
    "doc_minhash_fingerprint": SQL_DOC_MINHASH_FINGERPRINT,
    "doc_winnowing": SQL_DOC_WINNOWING,
    "winnowing_pairs": SQL_WINNOWING_PAIRS,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "cluster_savings": SQL_CLUSTER_SAVINGS,
    "ann_topk_cosine": SQL_ANN_TOPK_COSINE,
    "ann_lsh_bucketed": SQL_ANN_LSH_BUCKETED,
    "ann_ivf_topk": SQL_ANN_IVF_TOPK,
    "embedding_similar_pairs": SQL_EMBEDDING_SIMILAR_PAIRS,
    "label_centroid_classifier": SQL_LABEL_CENTROID_CLASSIFIER,
    "doc_category_rules": SQL_DOC_CATEGORY_RULES,
    "feedback_model_predictions": SQL_FEEDBACK_MODEL_PREDICTIONS,
    "apply_plan_moves": SQL_APPLY_PLAN_MOVES,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "doc_repetition_stats": SQL_DOC_REPETITION_STATS,
    "paragraph_dedup_stats": SQL_PARAGRAPH_DEDUP_STATS,
    "paragraph_dedup_apply": SQL_PARAGRAPH_DEDUP_APPLY,
    "substring_dedup_apply": SQL_SUBSTRING_DEDUP_APPLY,
    "doc_pii_scrub": SQL_DOC_PII_SCRUB,
    "decontaminate_ngram": SQL_DECONTAMINATE_NGRAM,
    "gopher_quality_filter": SQL_GOPHER_QUALITY_FILTER,
    "dsir_importance": SQL_DSIR_IMPORTANCE,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "top_orders_per_customer": SQL_TOP_ORDERS_PER_CUSTOMER,
    "customers_without_orders": SQL_CUSTOMERS_WITHOUT_ORDERS,
    "big_customers_semi": SQL_BIG_CUSTOMERS_SEMI,
    "user_activity": SQL_USER_ACTIVITY,
    "nation_customer_sample": SQL_NATION_CUSTOMER_SAMPLE,
    "orders_keyset_page": SQL_ORDERS_KEYSET_PAGE,
    "revenue_by_nation": SQL_REVENUE_BY_NATION,
    "events_daily_top_types": SQL_EVENTS_DAILY_TOP_TYPES,
}
