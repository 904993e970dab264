"""ADVICE r1 (medium): q_dedup_minhash_lsh collapses byte-identical
docs via representatives() — its output must still cover EVERY doc_id
like the all-pairs oracle does.  r1's sf corpora contain zero exact
duplicates, so this regression test plants them explicitly:

  * an exact group of 3 byte-identical docs  -> 3 intra pairs at 1.0
  * a near-dup pair where ONE side is also exactly duplicated
    -> the rep-level verified pair must fan out to both members
"""

import duckdb
import numpy as np
import pytest

from codedup.queries import ORACLES, q_dedup_clusters, q_dedup_minhash_lsh


def _mk_docs(spark, tmp_path):
    rng = np.random.default_rng(7)
    words = [f"w{i:03d}" for i in range(40)]

    def text(seed_words, n=120):
        return " ".join(seed_words[i % len(seed_words)] for i in rng.permutation(n))

    base_a = " ".join(words[i % 40] for i in range(150))
    near_a = base_a[:-12] + " zz17 edited"          # high char-8-gram overlap
    base_b = " ".join(words[(i * 7 + 3) % 40] for i in range(150))
    rows = [
        (0, "en", base_a),
        (1, "en", near_a),      # near-dup of 0
        (2, "en", base_a),      # exact dup of 0 -> pair (1,2) must appear too
        (3, "en", base_b),
        (4, "en", base_b),      # exact group {3,4}
        (5, "en", base_b),      # exact group {3,4,5}
        (6, "en", text(words)),
        (7, "en", text(words[5:])),
    ]
    p = str(tmp_path / "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(p)
    return str(tmp_path)


@pytest.fixture(scope="module")
def dup_dir(spark, tmp_path_factory):
    return _mk_docs(spark, tmp_path_factory.mktemp("dup_corpus"))


def _oracle(sf_dir: str, sql: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    return con.execute(sql).fetchdf()


def test_minhash_pairs_cover_exact_dup_members(spark, dup_dir):
    got = {tuple(r) for r in
           q_dedup_minhash_lsh(spark, dup_dir).collect()}
    want = {tuple(r) for r in
            _oracle(dup_dir, ORACLES["dedup_minhash_lsh"]).itertuples(index=False)}
    assert got == want
    # the planted structure is actually present
    assert (0, 2, 1_000_000) in got            # intra exact pair
    assert (3, 4, 1_000_000) in got and (3, 5, 1_000_000) in got
    assert any(a == 1 and b == 2 for a, b, _ in got)  # member inherits rep's near-pair


def test_clusters_cover_exact_dup_members(spark, dup_dir):
    got = {tuple(r) for r in q_dedup_clusters(spark, dup_dir).collect()}
    want = {tuple(r) for r in
            _oracle(dup_dir, ORACLES["dedup_clusters"]).itertuples(index=False)}
    assert got == want


def test_token_lsh_zero_token_docs_match_oracle(spark, tmp_path):
    """ADVICE r2: the sf corpora contain no empty/whitespace-only docs,
    so the zero-token edge is pinned here — the engine pairs distinct
    whitespace-only docs (n_union=0 -> ppm 1e6) and byte-identical
    empties (sha expansion), and the oracle's sentinel '' gram must
    agree exactly."""
    from codedup.queries import ORACLES, q_dedup_minhash_lsh_tokens

    rows = [
        (0, "en", ""),              # empty
        (1, "en", "   \t  "),       # whitespace-only, byte-distinct
        (2, "en", ""),              # byte-identical to 0
        (3, "en", "alpha beta gamma delta epsilon zeta"),   # real doc
        (4, "en", "alpha beta gamma delta epsilon zeta"),   # its exact dup
        (5, "en", "unrelated words entirely here now folks"),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")

    got = {tuple(r) for r in q_dedup_minhash_lsh_tokens(spark, d).collect()}
    want = {tuple(int(x) for x in r)
            for r in _oracle(d, ORACLES["dedup_minhash_lsh_tokens"]).itertuples(index=False)}
    assert got == want
    # the planted edge rows are actually in play
    assert (0, 1, 1_000_000) in got     # distinct whitespace-only pair
    assert (0, 2, 1_000_000) in got     # byte-identical empty pair
    assert (3, 4, 1_000_000) in got
    assert not any({a, b} & {5} for a, b, _ in got)


def test_category_rules_cover_trash_branches(spark, tmp_path):
    """The sf corpora contain no empty/repetitive docs, so the TRASH
    branches of the rule tree are pinned here against the same DuckDB
    oracle on a planted corpus."""
    from codedup.queries import SQL_DOC_CATEGORY_RULES, q_doc_category_rules

    rows = [
        (0, "en", ""),                                  # empty -> TRASH
        (1, "en", "spam spam spam spam spam spam"),     # repetitive -> TRASH
        (2, "en", "the cat and the dog of a king in a castle to see"),  # hits>=3 -> KEEP
        (3, "en", "zx qw er ty"),                       # no hits -> REVIEW
        # 1 hit (below the trusted-signal bar) + long + unique -> quality KEEP
        (4, "en", "the " + " ".join(f"w{i}" for i in range(60))),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    got = {r["doc_id"]: (r["category"], r["subcategory"])
           for r in q_doc_category_rules(spark, d).collect()}
    assert got[0] == ("TRASH", "empty")
    assert got[1] == ("TRASH", "short")
    assert got[2][0] == "KEEP" and got[2][1] == "lang_en"
    assert got[3] == ("REVIEW", "short")
    assert got[4] == ("KEEP", "high_entropy")
    want = {int(r.doc_id): (r.category, r.subcategory)
            for r in _oracle(d, SQL_DOC_CATEGORY_RULES).itertuples(index=False)}
    assert got == want


def test_containment_catches_subsets_jaccard_misses(spark, tmp_path):
    """A small file pasted inside a much larger one: containment = 1.0
    but Jaccard = |small|/|big| is far below any dedup threshold — the
    containment query must surface the pair, the jaccard query must
    not, and both must match their oracles on this planted corpus."""
    from codedup.queries import (
        ORACLES, q_dedup_containment, q_dedup_ngram_jaccard,
    )

    small = "def helper():\n    return compute(1, 2, 3)\n"
    big = small + "\n".join(f"def f{i}(): return {i} * unique_{i}" for i in range(60))
    rows = [(0, "py", small), (1, "py", big), (2, "py", "totally different text here")]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")

    cont = {(r["a"], r["b"]): r["containment_ppm"]
            for r in q_dedup_containment(spark, d).collect()}
    assert (0, 1) in cont and cont[(0, 1)] == 1_000_000
    jacc = {(r["a"], r["b"]) for r in q_dedup_ngram_jaccard(spark, d).collect()}
    assert (0, 1) not in jacc  # Jaccard blind to the subset pair

    want = {(int(r.a), int(r.b)): int(r.containment_ppm)
            for r in _oracle(d, ORACLES["dedup_containment"]).itertuples(index=False)}
    assert cont == want


def test_winnowing_pairs_detect_planted(spark, dup_dir):
    """MOSS-style shared-fingerprint pairs: byte-identical docs share
    every fingerprint, near-dups share most, unrelated docs are absent
    or weak; and the result matches the DuckDB oracle exactly."""
    from codedup.queries import ORACLES, q_winnowing_pairs

    got = {(r["a"], r["b"]): r["n_shared"]
           for r in q_winnowing_pairs(spark, dup_dir).collect()}
    want = {(int(r.a), int(r.b)): int(r.n_shared)
            for r in _oracle(dup_dir, ORACLES["winnowing_pairs"]).itertuples(index=False)}
    assert got == want
    assert (0, 2) in got                      # exact dup of doc 0
    assert (0, 1) in got                      # near-dup
    assert got[(0, 2)] >= got[(0, 1)]         # identical >= edited overlap


def test_repetition_stats_branches(spark, tmp_path):
    """Gopher repetition signals: duplicate lines, dominant token,
    dominant bigram, and the empty/one-token edge rows — pinned against
    the DuckDB oracle on a planted corpus (the sf corpora are mostly
    non-repetitive)."""
    from codedup.queries import ORACLES, q_doc_repetition_stats

    rows = [
        (0, "en", "same line\nsame line\nsame line\nother line"),  # 2/4 dup lines
        (1, "en", "spam spam spam spam ham"),                      # token mass 4/5
        (2, "en", "go go go go"),                                  # bigram 'go go' 3/3
        (3, "en", ""),                                             # empty -> all 0
        (4, "en", "solo"),                                         # 1 token, no bigram
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    got = {r["doc_id"]: r.asDict() for r in q_doc_repetition_stats(spark, d).collect()}
    assert got[0]["dup_line_ppm"] == (2 * 1_000_000) // 4
    assert got[1]["top_token_ppm"] == (4 * 1_000_000) // 5
    assert got[2]["top_bigram_ppm"] == 1_000_000
    assert got[3] == {"doc_id": 3, "n_lines": 0, "dup_line_ppm": 0, "n_tokens": 0,
                      "top_token_ppm": 0, "top_bigram_ppm": 0}
    assert got[4]["top_bigram_ppm"] == 0 and got[4]["top_token_ppm"] == 1_000_000
    want = {int(r.doc_id): {k: int(v) if k != "doc_id" else int(v)
                            for k, v in r._asdict().items()}
            for r in _oracle(d, ORACLES["doc_repetition_stats"]).itertuples(index=False)}
    assert {k: {kk: int(vv) for kk, vv in v.items()} for k, v in got.items()} == want


def test_paragraph_dedup_cross_doc(spark, tmp_path):
    """Cross-document paragraph dedup: a boilerplate paragraph shared
    by two docs counts as duplicated in BOTH; intra-doc repetition of a
    corpus-unique paragraph does NOT count (that's doc_repetition_
    stats' signal); no-paragraph docs report 0 — and the oracle agrees
    exactly."""
    from codedup.queries import ORACLES, q_paragraph_dedup_stats

    boiler = "Licensed under the Apache License."
    rows = [
        (0, "en", boiler + "\n\nunique to zero\n\nalso unique zero"),
        (1, "en", boiler + "\n\ncompletely different body"),
        (2, "en", "self repeat\n\nself repeat\n\nown text"),   # intra-doc only
        (3, "en", ""),                                          # no paragraphs
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    got = {r["doc_id"]: (r["n_paras"], r["dup_para_ppm"])
           for r in q_paragraph_dedup_stats(spark, d).collect()}
    assert got[0] == (3, 1_000_000 // 3)
    assert got[1] == (2, 1_000_000 // 2)
    assert got[2] == (3, 0)          # df counts distinct docs
    assert got[3] == (0, 0)
    want = {int(r.doc_id): (int(r.n_paras), int(r.dup_para_ppm))
            for r in _oracle(d, ORACLES["paragraph_dedup_stats"]).itertuples(index=False)}
    assert got == want


def test_pii_scrub_redacts_and_matches_oracle(spark, tmp_path):
    """Planted emails/IPs must be counted and redacted identically in
    both engines (scrub_sha pins the transform byte-for-byte)."""
    from codedup.queries import ORACLES, q_doc_pii_scrub

    rows = [
        (0, "en", "contact a.user+tag@example.co.uk or b@x.io now"),
        (1, "en", "server at 192.168.0.1 and 10.0.0.255, not 1.2.3"),
        (2, "en", "no pii here at all"),
        (3, "en", "mixed: c@d.org from 8.8.8.8"),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    got = {r["doc_id"]: (r["n_emails"], r["n_ips"], r["scrub_sha"])
           for r in q_doc_pii_scrub(spark, d).collect()}
    assert got[0][:2] == (2, 0)
    assert got[1][:2] == (0, 2)
    assert got[2][:2] == (0, 0)
    assert got[3][:2] == (1, 1)
    want = {int(r.doc_id): (int(r.n_emails), int(r.n_ips), r.scrub_sha)
            for r in _oracle(d, ORACLES["doc_pii_scrub"]).itertuples(index=False)}
    assert got == want


def test_winnowing_guarantee(spark, tmp_path):
    """Winnowing's detection guarantee: two documents sharing a
    substring of length >= k + W - 1 (= 11 at k=8, W=4) MUST share at
    least one fingerprint; and the query matches its oracle on a
    corpus with dupes of grams (positional hashing, not set-based)."""
    from codedup.queries import ORACLES, WINNOW_W, q_doc_winnowing

    shared = "the_shared_block_of_text_42"        # len 27 >= 11
    rows = [
        (0, "en", "aaaa " + shared + " bbbb"),
        (1, "en", "cccc dddd " + shared),
        (2, "en", "nothing in common here at all"),
        (3, "en", "xy xy xy xy xy xy xy xy"),     # repeated grams
        (4, "en", "hi"),                             # shorter than k: 1 gram < W
        (5, "en", "abcdefghij"),                     # 3 grams < W: single window
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")

    # guarantee: recompute the fingerprint SETS via the same query
    # machinery but grouped differently — join docs 0 and 1 on fp
    from pyspark.sql import functions as F
    from codedup.queries import NGRAM_K
    docs = spark.read.parquet(d + "/documents.parquet")
    grams = docs.select(
        "doc_id", F.length("text").alias("_len"),
        F.posexplode(F.expr(
            f"transform(sequence(1, greatest(length(text)-{NGRAM_K-1}, 1)),"
            f" i -> substring(text, i, {NGRAM_K}))")).alias("pos", "g"),
    ).withColumn("hv", F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long"))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    n_grams = F.greatest(F.col("_len") - F.lit(NGRAM_K - 1), F.lit(1))
    fps = grams.withColumn("fp", F.min("hv").over(w)) \
        .filter((F.col("pos") <= n_grams - WINNOW_W) | (F.col("pos") == 0)) \
        .select("doc_id", "fp").distinct()
    f0 = {r["fp"] for r in fps.filter("doc_id = 0").collect()}
    f1 = {r["fp"] for r in fps.filter("doc_id = 1").collect()}
    f2 = {r["fp"] for r in fps.filter("doc_id = 2").collect()}
    assert f0 & f1, "shared 27-char substring must share a fingerprint"
    assert not (f0 & f2)

    got = {tuple(r) for r in q_doc_winnowing(spark, d).collect()}
    want = {tuple(int(x) for x in r)
            for r in _oracle(d, ORACLES["doc_winnowing"]).itertuples(index=False)}
    assert got == want


def test_large_exact_group_expands_to_all_pairs(spark, tmp_path):
    """600 byte-identical docs (plus one distinct doc) re-expand from one
    sha group to all 600*599/2 intra pairs at Jaccard 1.0, each once
    with a < b.  Engine-only: the oracle's gram self-join over 600
    identical docs is too slow for this tier."""
    body = "def boiler():\n    return 'vendored copy'\n" * 8
    rows = [(i, "py", body) for i in range(600)]
    rows.append((600, "py", "an unrelated document with its own words"))
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")

    got = q_dedup_minhash_lsh(spark, d).toPandas()
    assert len(got) == 600 * 599 // 2 == 179_700
    assert (got.jaccard_ppm == 1_000_000).all()
    assert (got.a < got.b).all()
    assert not got.duplicated(["a", "b"]).any()
    assert not ((got.a == 600) | (got.b == 600)).any()


def test_cluster_edges_linear_in_sha_group(spark, tmp_path, monkeypatch):
    """A 2,000-copy sha group plus one near-duplicate clusters from the
    pipeline's edge rule: one star of exact edges per group plus the
    verified representative pairs, so CC sees at most m edges for m
    copies instead of the m(m-1)/2 re-expanded pairs."""
    import random

    import codedup.stages.cluster as cc
    from codedup.queries import clear_pairs_cache

    rng = random.Random(16)
    base = " ".join(f"tok{rng.randrange(10_000)}" for _ in range(120))
    near = base[:-10] + " edited!!"
    fillers = ["".join(rng.choice("abcdefghijklmnop ") for _ in range(400))
               for _ in range(200)]
    texts = fillers[:100] + [base] * 2000 + [near] + fillers[100:]
    ids = rng.sample(range(10 * len(texts)), len(texts))
    rows = [(i, "en", t) for i, t in zip(ids, texts)]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")

    seen = []
    real = cc.connected_components

    def counting(edges, *a, **k):
        seen.append(edges.count())
        return real(edges, *a, **k)

    monkeypatch.setattr(cc, "connected_components", counting)
    clear_pairs_cache()
    got = q_dedup_clusters(spark, d).toPandas()
    clear_pairs_cache()

    dup_ids = {i for i, t in zip(ids, texts) if t in (base, near)}
    assert len(got) == 2001
    assert set(got.doc_id) == dup_ids
    assert set(got.cluster_id) == {min(dup_ids)}
    assert seen and max(seen) <= 2001
