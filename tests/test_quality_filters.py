"""Planted-expectation tests for the training-data hygiene filters:
benchmark decontamination (token 8-gram overlap with an eval source)
and the Gopher composite quality rules.  Expectations are hand-derived
from the published rule definitions, independent of the DuckDB oracle
(the fuzz suite covers cross-engine equality)."""

from __future__ import annotations

from codedup.queries import (
    _DECON_EVAL_SOURCE,
    _DECON_K,
    q_decontaminate_ngram,
    q_gopher_quality_filter,
)


def _write_docs(spark, d: str, rows) -> None:
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")


def test_decontaminate_planted(spark, tmp_path):
    assert _DECON_K == 8
    eval_text = " ".join(f"w{i}" for i in range(10))       # grams: w0..w7, w1..w8, w2..w9
    exact_window = " ".join(f"w{i}" for i in range(1, 9))  # 8 tokens -> 1 gram, contaminated
    disjoint = " ".join(f"z{i}" for i in range(12))        # 5 grams, clean
    short = "only five tokens right here"                  # <8 tokens -> 0 grams
    d = str(tmp_path)
    _write_docs(spark, d, [
        (0, "en", _DECON_EVAL_SOURCE, eval_text),
        (1, "en", "train", exact_window),
        (2, "en", "train", disjoint),
        (3, "en", "train", short),
    ])
    got = {r["doc_id"]: r.asDict() for r in q_decontaminate_ngram(spark, d).collect()}
    assert set(got) == {1, 2, 3}                           # eval doc excluded
    assert got[1] == {"doc_id": 1, "n_grams": 1, "hit_grams": 1,
                      "contam_ppm": 1_000_000, "contaminated": 1}
    assert got[2] == {"doc_id": 2, "n_grams": 5, "hit_grams": 0,
                      "contam_ppm": 0, "contaminated": 0}
    assert got[3] == {"doc_id": 3, "n_grams": 0, "hit_grams": 0,
                      "contam_ppm": 0, "contaminated": 0}


def test_decontaminate_counts_distinct_grams_once(spark, tmp_path):
    # the train doc repeats one contaminated window; distinct gram
    # counting must report it once, not per occurrence
    ev = " ".join(f"w{i}" for i in range(8))
    train = " ".join([ev, ev])                 # 16 tokens, 9 windows, few distinct
    d = str(tmp_path)
    _write_docs(spark, d, [
        (0, "en", _DECON_EVAL_SOURCE, ev),
        (1, "en", "train", train),
    ])
    row = q_decontaminate_ngram(spark, d).collect()[0].asDict()
    # 9 windows of train: w0..w7 at offsets 1 and 9 (distinct once) + 7
    # distinct bridge windows
    assert row["n_grams"] == 8
    assert row["hit_grams"] == 1               # only w0..w7 is in the eval set
    assert row["contaminated"] == 1


def test_gopher_rules_planted(spark, tmp_path):
    keep = "the a " + " ".join(f"word{i}" for i in range(20))   # 22 words, all rules pass
    too_short = "the and tiny words here little text room pad end"  # 10 words -> bit 1
    no_stop = " ".join(f"term{i}" for i in range(25))           # 25 words, 0 stopwords -> bit 8
    repeat = "the a " + " ".join(["echo"] * 30)                 # 32 words, echo mass 937k -> bit 4
    d = str(tmp_path)
    _write_docs(spark, d, [
        (0, "en", "s", keep),
        (1, "en", "s", too_short),
        (2, "en", "s", no_stop),
        (3, "en", "s", repeat),
    ])
    got = {r["doc_id"]: r.asDict() for r in q_gopher_quality_filter(spark, d).collect()}
    assert got[0]["fail_mask"] == 0 and got[0]["keep"] == 1
    assert got[1]["fail_mask"] == 1 and got[1]["keep"] == 0
    assert got[2]["fail_mask"] == 8 and got[2]["keep"] == 0
    assert got[3]["fail_mask"] == 4 and got[3]["keep"] == 0
    # signal values themselves, hand-computed
    assert got[0]["n_words"] == 22 and got[0]["n_stop"] == 2
    assert got[3]["top_token_ppm"] == (30 * 1_000_000) // 32


def test_gopher_empty_doc(spark, tmp_path):
    d = str(tmp_path)
    _write_docs(spark, d, [(0, "en", "s", "")])
    row = q_gopher_quality_filter(spark, d).collect()[0].asDict()
    assert row["n_words"] == 0 and row["mean_word_len_centi"] == 0
    assert row["top_token_ppm"] == 0 and row["n_stop"] == 0
    # fails word-count, mean-word-length and stopword rules
    assert row["fail_mask"] == 1 + 2 + 8 and row["keep"] == 0


def test_dedup_incremental_batch_planted(spark, tmp_path):
    """Incremental-ingest semantics: only pairs touching the new shard
    survive — backfill pairs flagged 1, within-batch 0, corpus-internal
    pairs absent."""
    from codedup.queries import _INCR_NEW_SOURCE, q_dedup_incremental_batch

    base_a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    base_b = "iota kappa lambda mu nu xi omicron pi rho sigma " * 4
    base_c = "tau upsilon phi chi psi omega aleph beth gimel " * 4
    d = str(tmp_path)
    _write_docs(spark, d, [
        (0, "en", "old", base_a),                        # corpus
        (1, "en", _INCR_NEW_SOURCE, base_a + "x"),       # new ~ 0  -> backfill
        (2, "en", _INCR_NEW_SOURCE, base_b),             # new ~ 3  -> within-batch
        (3, "en", _INCR_NEW_SOURCE, base_b + "x"),
        (4, "en", "old", base_c),                        # old ~ old -> excluded
        (5, "en", "old", base_c + "x"),
    ])
    rows = {(r["a"], r["b"]): r for r in q_dedup_incremental_batch(spark, d).collect()}
    assert set(rows) == {(0, 1), (2, 3)}
    assert rows[(0, 1)]["is_backfill"] == 1
    assert rows[(2, 3)]["is_backfill"] == 0
    assert all(r["jaccard_ppm"] >= 800_000 for r in rows.values())


def test_dsir_importance_planted(spark, tmp_path):
    """DSIR ranking: a raw doc sharing the target domain's n-grams must
    outrank a raw doc made of n-grams the target never uses; empty raw
    docs score 0 with zero features."""
    from codedup.queries import _DSIR_TARGET_SOURCE, q_dsir_importance

    target = "import numpy as np from collections import defaultdict"
    like_target = "import numpy as np import collections"
    unlike = "zzq qqx xqz zxq qzx xzz qxq zqq"
    d = str(tmp_path)
    _write_docs(spark, d, [
        (0, "en", _DSIR_TARGET_SOURCE, target),
        (1, "en", _DSIR_TARGET_SOURCE, target + " import json"),
        (2, "en", "raw", like_target),
        (3, "en", "raw", unlike),
        (4, "en", "raw", ""),
    ])
    got = {r["doc_id"]: r.asDict() for r in q_dsir_importance(spark, d).collect()}
    assert set(got) == {2, 3, 4}                  # target docs excluded
    assert got[2]["score_micro"] > got[3]["score_micro"]
    assert got[2]["sel_rank"] < got[3]["sel_rank"]
    assert got[4] == {"doc_id": 4, "n_feats": 0, "score_micro": 0,
                      "sel_rank": got[4]["sel_rank"]}
    # like_target: 6 unigrams + 5 bigrams
    assert got[2]["n_feats"] == 11
    # ranks are a permutation of 1..3
    assert sorted(r["sel_rank"] for r in got.values()) == [1, 2, 3]


def test_dsir_importance_no_target_docs(spark, tmp_path):
    """With an empty target sample the model degenerates to uniform-
    vs-raw; the query must still run and rank deterministically."""
    from codedup.queries import q_dsir_importance

    d = str(tmp_path)
    _write_docs(spark, d, [
        (0, "en", "raw", "alpha beta gamma alpha beta"),
        (1, "en", "raw", "alpha beta"),
    ])
    got = {r["doc_id"]: r.asDict() for r in q_dsir_importance(spark, d).collect()}
    assert set(got) == {0, 1}
    assert got[0]["n_feats"] == 9 and got[1]["n_feats"] == 3
    assert sorted(r["sel_rank"] for r in got.values()) == [1, 2]


def test_dsir_fast_hash_preserves_domain_ordering(spark, tmp_path):
    """The crc32/splitmix64 tier hash buckets differently than the
    portable md5 hash but must carry the same domain signal: same
    schema, same raw doc set, and the target-like doc still outranks
    the alien one."""
    from pyspark.sql import functions as F

    from codedup.queries import _DSIR_TARGET_SOURCE, dsir_mix_hash, dsir_scores

    target = "import numpy as np from collections import defaultdict"
    d = str(tmp_path)
    _write_docs(spark, d, [
        (0, "en", _DSIR_TARGET_SOURCE, target),
        (1, "en", _DSIR_TARGET_SOURCE, target + " import json"),
        (2, "en", "raw", "import numpy as np import collections"),
        (3, "en", "raw", "zzq qqx xqz zxq qzx xzz qxq zqq"),
    ])
    docs = spark.read.parquet(d + "/documents.parquet")
    got = {r["doc_id"]: r.asDict() for r in
           dsir_scores(docs, F.col("source") == _DSIR_TARGET_SOURCE,
                       feature_hash=dsir_mix_hash).collect()}
    assert set(got) == {2, 3}
    assert got[2]["score_micro"] > got[3]["score_micro"]
    assert got[2]["sel_rank"] == 1 and got[3]["sel_rank"] == 2


def test_dsir_arrow_structural_parity(spark, tmp_path):
    """The count kernel with the default md5 hash must equal the DuckDB
    oracle row for row; with the crc32/splitmix64 tier hash it must
    agree on everything hash-independent: same raw doc set, identical
    per-doc feature counts (same tokenizer), and the planted domain
    ordering."""
    import duckdb
    from pyspark.sql import functions as F

    from codedup.queries import (
        _DSIR_TARGET_SOURCE,
        SQL_DSIR_IMPORTANCE,
        dsir_mix_hash,
        dsir_scores,
    )

    target = "import numpy as np from collections import defaultdict"
    d = str(tmp_path)
    _write_docs(spark, d, [
        (0, "en", _DSIR_TARGET_SOURCE, target),
        (1, "en", _DSIR_TARGET_SOURCE, target + " import json"),
        (2, "en", "raw", "import numpy as np import collections"),
        (3, "en", "raw", "zzq qqx xqz zxq qzx xzz qxq zqq"),
        (4, "en", "raw", ""),
        (5, "en", "raw", "solo"),
    ])
    docs = spark.read.parquet(d + "/documents.parquet")
    is_tgt = F.col("source") == _DSIR_TARGET_SOURCE
    md5 = {r["doc_id"]: r.asDict() for r in dsir_scores(docs, is_tgt).collect()}
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet/*.parquet')")
    cur = con.execute(SQL_DSIR_IMPORTANCE)
    cols = [c[0] for c in cur.description]
    oracle = {r[0]: dict(zip(cols, r)) for r in cur.fetchall()}
    assert md5 == oracle
    mix = {r["doc_id"]: r.asDict()
           for r in dsir_scores(docs, is_tgt, feature_hash=dsir_mix_hash).collect()}
    assert set(mix) == set(md5) == {2, 3, 4, 5}
    for k in mix:
        assert mix[k]["n_feats"] == md5[k]["n_feats"], k
    assert mix[5]["n_feats"] == 1 and mix[4]["n_feats"] == 0
    assert mix[2]["score_micro"] > mix[3]["score_micro"]
    assert sorted(r["sel_rank"] for r in mix.values()) == [1, 2, 3, 4]
