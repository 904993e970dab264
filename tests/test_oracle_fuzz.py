"""Cross-engine fuzz: hypothesis-generated corpora must satisfy
Spark == DuckDB for the text-hygiene queries.  This is where oracle
divergences actually live (unicode whitespace classes, empty docs,
regex semantics, NULL-vs-'' aggregation edges) — the sf corpora are too
tame to hit them.  derandomize=True keeps the suite deterministic;
example counts are small because each example pays a Spark job.
"""

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from codedup.queries import ORACLES, QUERIES

# printable-ish text incl. newlines/tabs/punctuation/accents; no
# surrogates (unencodable), no NUL (parquet/duckdb string edge we do
# not promise)
_CHARS = st.characters(
    blacklist_categories=("Cs",), blacklist_characters="\x00", max_codepoint=0x2FFF)
_TEXTS = st.lists(st.text(alphabet=_CHARS, max_size=80), min_size=1, max_size=6)

_FUZZED = ["doc_repetition_stats", "paragraph_dedup_stats", "doc_pii_scrub",
           "text_stats", "dedup_minhash_lsh_tokens", "doc_winnowing",
           "winnowing_pairs", "simhash_tokens", "lang_id_heuristic",
           "doc_category_rules", "doc_minhash_fingerprint",
           "dedup_ngram_jaccard", "dedup_containment", "doc_rarest_terms",
           "bpe_token_stats", "paragraph_dedup_apply", "doc_fingerprint",
           "substring_dedup_apply", "dedup_exact", "dedup_minhash_lsh",
           "gopher_quality_filter"]

# the vertical tab (\x0b) separates tokens for Java's \s and the Python
# kernels but not for RE2's \s; the oracles spell the class out
_VT_TEXTS = ["the cat\x0bsat on the mat!\x0b", "the cat sat on the mat",
             "the\x0b\x0bcat sat on the mat"]

_SETTINGS = settings(
    max_examples=4, deadline=None, derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)


def _write_corpus(spark, d: str, texts: list[str]) -> None:
    rows = [(i, "en", t) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")


def _oracle(sf_dir: str, sql: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    return con.execute(sql).fetchdf()


def _norm(rows):
    return sorted(tuple(str(v) for v in r) for r in rows)


@pytest.mark.parametrize("qname", _FUZZED)
def test_fuzz_engine_equals_oracle(spark, tmp_path_factory, qname):
    run = [0]

    @_SETTINGS
    @given(_TEXTS)
    @example(_VT_TEXTS)
    def inner(texts):
        run[0] += 1
        d = str(tmp_path_factory.mktemp(f"fuzz_{qname}_{run[0]}"))
        _write_corpus(spark, d, texts)
        got = _norm([tuple(r) for r in QUERIES[qname](spark, d).collect()])
        want = _norm([tuple(r) for r in
                      _oracle(d, ORACLES[qname]).itertuples(index=False)])
        assert got == want, f"{qname} diverged on {texts!r}"

    inner()


# --- wider families (VERDICT r3 #7): events, name pools, embeddings ---

_EVENT_ROWS = st.lists(
    st.tuples(
        st.integers(0, 3),                      # user_id (collisions)
        st.integers(0, 4_000_000),              # epoch seconds (~46 days)
        st.sampled_from(["view", "click", "buy"]),
        st.integers(-32, 32),                   # value quarters
    ),
    min_size=1, max_size=40,
)

_EVENT_QUERIES = ["user_sessions", "events_daily_top_types", "user_activity"]


def _write_events(d: str, rows) -> None:
    import pandas as pd

    pdf = pd.DataFrame({
        "event_id": range(len(rows)),
        "ts": pd.to_datetime([r[1] for r in rows], unit="s").astype("datetime64[us]"),
        "user_id": [r[0] for r in rows],
        "event_type": [r[2] for r in rows],
        "value": [r[3] / 4.0 for r in rows],    # dyadic: f64 sums exact
        "props": "",
    })
    pdf.to_parquet(d + "/events.parquet", index=False)


@pytest.mark.parametrize("qname", _EVENT_QUERIES)
def test_fuzz_events_family(spark, tmp_path_factory, qname):
    """Timestamp windows/sessionization: exact 30-min gap boundaries,
    ts ties broken by event_id, day-boundary rollups, float sums kept
    dyadic so round(,2) is engine-exact."""
    run = [0]

    @_SETTINGS
    @given(_EVENT_ROWS)
    def inner(rows):
        run[0] += 1
        d = str(tmp_path_factory.mktemp(f"fz_ev_{qname}_{run[0]}"))
        _write_events(d, rows)
        got = _norm([tuple(r) for r in QUERIES[qname](spark, d).collect()])
        con = duckdb.connect()
        con.execute("CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{d}/events.parquet')")
        want = _norm([tuple(r) for r in
                      con.execute(ORACLES[qname]).fetchdf().itertuples(index=False)])
        assert got == want, f"{qname} diverged on {rows!r}"

    inner()


_DOC_IDS = st.lists(st.integers(0, 600), min_size=1, max_size=60, unique=True)


def test_fuzz_apply_plan_moves_name_pools(spark, tmp_path_factory):
    """The S10 conflict discipline (claims, blocked names, family slot
    sequences) over RANDOM doc_id pools — collisions in stem/suffix
    families vary with the id set, so the fixed sf corpus exercises only
    one collision pattern."""
    run = [0]

    @_SETTINGS
    @given(_DOC_IDS)
    def inner(ids):
        import pandas as pd

        run[0] += 1
        d = str(tmp_path_factory.mktemp(f"fz_apply_{run[0]}"))
        pd.DataFrame({"doc_id": sorted(ids), "lang": "en", "text": ""}) \
            .to_parquet(d + "/documents.parquet", index=False)
        got = _norm([tuple(r) for r in
                     QUERIES["apply_plan_moves"](spark, d).collect()])
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{d}/documents.parquet')")
        want = _norm([tuple(r) for r in
                      con.execute(ORACLES["apply_plan_moves"]).fetchdf()
                      .itertuples(index=False)])
        assert got == want, f"apply_plan_moves diverged on {sorted(ids)!r}"

    inner()


# quarter-integer embeddings: every dot product / squared distance is a
# dyadic rational computed in the same f64 op order on both engines, so
# round(..., 6) can never split; first component offset by +4 keeps
# norms nonzero (NaN cosine semantics differ between engines and are
# out of contract)
_EMB_ROWS = st.lists(
    st.tuples(st.integers(0, 9),                         # label
              st.lists(st.integers(-8, 8), min_size=64, max_size=64)),
    min_size=2, max_size=24,
)

_EMB_QUERIES = ["semantic_dedup", "label_centroid_classifier",
                "feedback_model_predictions", "ann_topk_cosine",
                "embedding_similar_pairs", "ann_lsh_bucketed", "ann_ivf_topk"]


def _write_embeddings_fuzz(d: str, rows) -> None:
    import numpy as np
    import pandas as pd

    vecs = []
    for _lab, q in rows:
        v = np.asarray(q, dtype=np.float32) / 4.0
        v[0] += 4.0
        vecs.append(v)
    pd.DataFrame({
        "vec_id": range(len(rows)),
        "embedding": vecs,
        "label": np.asarray([r[0] for r in rows], dtype=np.int32),
    }).to_parquet(d + "/embeddings.parquet", index=False)


@pytest.mark.parametrize("qname", _EMB_QUERIES)
def test_fuzz_embeddings_family(spark, tmp_path_factory, qname):
    run = [0]

    @_SETTINGS
    @given(_EMB_ROWS)
    def inner(rows):
        run[0] += 1
        d = str(tmp_path_factory.mktemp(f"fz_emb_{qname}_{run[0]}"))
        _write_embeddings_fuzz(d, rows)
        got = _norm([tuple(r) for r in QUERIES[qname](spark, d).collect()])
        con = duckdb.connect()
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{d}/embeddings.parquet')")
        want = _norm([tuple(r) for r in
                      con.execute(ORACLES[qname]).fetchdf().itertuples(index=False)])
        assert got == want, f"{qname} diverged on seed row set {run[0]}"

    inner()


def test_doc_minhash_fingerprint_null_text(spark, tmp_path):
    """ADVICE r4: the map-only form must drop NULL-text docs like the
    explode-form oracle does (no (NULL, NULL, -1/NULL) row)."""
    d = str(tmp_path)
    rows = [(0, "en", "hello world of spark"), (1, "en", None), (2, "en", "x")]
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    got = _norm([tuple(r) for r in
                 QUERIES["doc_minhash_fingerprint"](spark, d).collect()])
    want = _norm([tuple(r) for r in
                  _oracle(d, ORACLES["doc_minhash_fingerprint"])
                  .itertuples(index=False)])
    assert got == want
    assert len(got) == 2          # NULL-text doc dropped on both sides


# --- TPC/join family (VERDICT r4 #5): skewed keys, NULL-edge keys,
# tie-heavy orderings.  Prices are quarter-integers (dyadic: f64 sums
# and products with quarter discounts carry <= 2 decimals, so
# round(,2) is engine-exact); order/line keys collide onto a small
# customer pool to exercise skew; o_custkey/c_nationkey may be NULL
# (orphan rows — anti/semi/inner join NULL-key semantics agree across
# engines and must stay that way).

_CUST_ROWS = st.lists(
    st.tuples(st.integers(0, 5),                  # name pool index
              st.one_of(st.none(), st.integers(0, 3))),   # nationkey
    min_size=1, max_size=12,
)
_ORDER_ROWS = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 14)),   # custkey (skewed)
              st.sampled_from(["O", "F", "P"]),
              st.integers(0, 1_600_000),          # totalprice quarters
              st.integers(990, 1010)),            # orderkey base offset
    min_size=1, max_size=30,
)
_LINE_ROWS = st.lists(
    st.tuples(st.integers(-5, 5),                 # days around the cutoff
              st.sampled_from(["A", "N", "R"]),
              st.sampled_from(["O", "F"]),
              st.integers(1, 50),                 # quantity
              st.integers(0, 400_000),            # extendedprice quarters
              st.integers(0, 4)),                 # discount quarters
    min_size=1, max_size=30,
)

_TPC_QUERIES = ["pricing_summary", "top_orders_per_customer",
                "customers_without_orders", "revenue_by_nation",
                "big_customers_semi", "orders_keyset_page",
                "nation_customer_sample"]


def _write_tpc(d: str, custs, orders, lines) -> None:
    import pandas as pd

    cutoff = pd.Timestamp("1998-09-02")
    pd.DataFrame({
        "n_nationkey": [0, 1, 2, 3],
        "n_name": ["ALGERIA", "BRAZIL", "CANADA", "CHINA"],
    }).to_parquet(d + "/nation.parquet", index=False)
    pd.DataFrame({
        "c_custkey": range(len(custs)),
        "c_name": [f"Customer#{n:03d}" for n, _ in custs],
        "c_nationkey": pd.array([nk for _, nk in custs], dtype="Int64"),
    }).to_parquet(d + "/customer.parquet", index=False)
    pd.DataFrame({
        # orderkeys straddle the keyset cursor (> 1000) to exercise it
        "o_orderkey": [r[3] + 2 * i for i, r in enumerate(orders)],
        "o_custkey": pd.array([r[0] for r in orders], dtype="Int64"),
        "o_orderstatus": [r[1] for r in orders],
        "o_totalprice": [r[2] / 4.0 for r in orders],
    }).to_parquet(d + "/orders.parquet", index=False)
    pd.DataFrame({
        "l_shipdate": pd.to_datetime(
            [cutoff + pd.Timedelta(days=r[0]) for r in lines]
        ).astype("datetime64[us]"),
        "l_returnflag": [r[1] for r in lines],
        "l_linestatus": [r[2] for r in lines],
        "l_quantity": [float(r[3]) for r in lines],
        "l_extendedprice": [r[4] / 4.0 for r in lines],
        "l_discount": [r[5] / 4.0 for r in lines],
    }).to_parquet(d + "/lineitem.parquet", index=False)


@pytest.mark.parametrize("qname", _TPC_QUERIES)
def test_fuzz_tpc_family(spark, tmp_path_factory, qname):
    run = [0]

    @_SETTINGS
    @given(_CUST_ROWS, _ORDER_ROWS, _LINE_ROWS)
    def inner(custs, orders, lines):
        run[0] += 1
        d = str(tmp_path_factory.mktemp(f"fz_tpc_{qname}_{run[0]}"))
        _write_tpc(d, custs, orders, lines)
        got = _norm([tuple(r) for r in QUERIES[qname](spark, d).collect()])
        con = duckdb.connect()
        for t in ("nation", "customer", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{d}/{t}.parquet')")
        # fetchall, not fetchdf: pandas degrades nullable int columns
        # to float64, turning NULL keys into 'nan' vs Spark's 'None'
        want = _norm([tuple(r) for r in con.execute(ORACLES[qname]).fetchall()])
        assert got == want, f"{qname} diverged on corpus {run[0]}"

    inner()


# --- the last unfuzzed queries (r5): varied langs + planted near-dups ---

_LANG_DOCS = st.lists(
    st.tuples(st.sampled_from(["en", "es", "fr", "de", ""]),
              st.text(alphabet=_CHARS, max_size=60)),
    min_size=1, max_size=10,
)


def test_fuzz_token_count_by_lang(spark, tmp_path_factory):
    run = [0]

    @_SETTINGS
    @given(_LANG_DOCS)
    def inner(rows):
        run[0] += 1
        d = str(tmp_path_factory.mktemp(f"fz_lang_{run[0]}"))
        data = [(i, lang, t) for i, (lang, t) in enumerate(rows)]
        spark.createDataFrame(data, "doc_id long, lang string, text string") \
            .coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
        got = _norm([tuple(r) for r in
                     QUERIES["token_count_by_lang"](spark, d).collect()])
        want = _norm([tuple(r) for r in
                      _oracle(d, ORACLES["token_count_by_lang"])
                      .itertuples(index=False)])
        assert got == want

    inner()


# near-dup cluster family: random texts never share enough 8-grams to
# form LSH pairs, so the CC queries would fuzz only the empty case —
# plant mutated copies (prefix-preserving suffix edit at J >= ~0.9) so
# connected components / savings actually traverse edges
_CC_BASE = st.lists(st.text(alphabet=_CHARS, min_size=40, max_size=80),
                    min_size=1, max_size=4)


@pytest.mark.parametrize("qname", ["dedup_clusters", "cluster_savings"])
def test_fuzz_cc_family_planted(spark, tmp_path_factory, qname):
    run = [0]

    @_SETTINGS
    @given(_CC_BASE)
    def inner(bases):
        run[0] += 1
        d = str(tmp_path_factory.mktemp(f"fz_cc_{qname}_{run[0]}"))
        texts = []
        for t in bases:
            texts.append(t)
            texts.append(t + "x")          # near-dup (suffix edit)
            texts.append(t)                # exact dup too
        _write_corpus(spark, d, texts)
        got = _norm([tuple(r) for r in QUERIES[qname](spark, d).collect()])
        want = _norm([tuple(r) for r in
                      _oracle(d, ORACLES[qname]).itertuples(index=False)])
        assert got == want, f"{qname} diverged on corpus {run[0]}"

    inner()


# --- decontamination family: needs a source column + gram collisions ---

# tiny vocab so token 8-grams genuinely collide across docs; doc = a
# window into a shared word stream per example
_DECON_DOCS = st.lists(
    st.tuples(
        st.sampled_from(["src0", "src1", "src2"]),
        st.integers(0, 30),                     # offset into the stream
        st.integers(0, 24),                     # doc length in tokens
    ),
    min_size=1, max_size=8,
)
_DECON_STREAM = st.lists(
    st.sampled_from(["a", "b", "c", "the", "x"]), min_size=1, max_size=60)


def test_fuzz_decontaminate_ngram(spark, tmp_path_factory):
    from codedup.queries import ORACLES, QUERIES

    run = [0]

    @_SETTINGS
    @given(_DECON_STREAM, _DECON_DOCS)
    def inner(stream, docs):
        run[0] += 1
        d = str(tmp_path_factory.mktemp(f"fz_decon_{run[0]}"))
        rows = []
        for i, (src, off, n) in enumerate(docs):
            toks = (stream * 3)[off:off + n]    # overlapping windows share grams
            rows.append((i, "en", src, " ".join(toks)))
        spark.createDataFrame(
            rows, "doc_id long, lang string, source string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
        got = _norm([tuple(r) for r in
                     QUERIES["decontaminate_ngram"](spark, d).collect()])
        want = _norm([tuple(r) for r in
                      _oracle(d, ORACLES["decontaminate_ngram"])
                      .itertuples(index=False)])
        assert got == want, f"decontaminate_ngram diverged on corpus {run[0]}"

    inner()


_INCR_DOCS = st.lists(
    st.tuples(st.text(alphabet=_CHARS, min_size=40, max_size=80),
              st.booleans(),                  # base doc in the new shard?
              st.booleans()),                 # its near-dup in the new shard?
    min_size=1, max_size=4,
)


def test_fuzz_dedup_incremental_batch(spark, tmp_path_factory):
    """New-shard projection over planted near/exact dups with random
    shard membership: backfill vs within-batch flags and the old×old
    exclusion must match the all-pairs SQL."""
    from codedup.queries import _INCR_NEW_SOURCE

    run = [0]

    @_SETTINGS
    @given(_INCR_DOCS)
    def inner(docs):
        run[0] += 1
        d = str(tmp_path_factory.mktemp(f"fz_incr_{run[0]}"))
        rows, i = [], 0
        for t, base_new, dup_new in docs:
            rows.append((i, "en", _INCR_NEW_SOURCE if base_new else "old", t))
            rows.append((i + 1, "en", _INCR_NEW_SOURCE if dup_new else "old", t + "x"))
            rows.append((i + 2, "en", "old", t))          # exact dup in corpus
            i += 3
        spark.createDataFrame(
            rows, "doc_id long, lang string, source string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
        got = _norm([tuple(r) for r in
                     QUERIES["dedup_incremental_batch"](spark, d).collect()])
        want = _norm([tuple(r) for r in
                      _oracle(d, ORACLES["dedup_incremental_batch"])
                      .itertuples(index=False)])
        assert got == want, f"dedup_incremental_batch diverged on corpus {run[0]}"

    inner()


_DSIR_DOCS = st.lists(
    st.tuples(st.text(alphabet=_CHARS, max_size=60),
              st.booleans()),                 # in the target sample?
    min_size=1, max_size=6,
)


def test_fuzz_dsir_importance(spark, tmp_path_factory):
    """DSIR hashed-ngram importance scores over random corpora with
    random target membership: bucket weights, integer micro-nat scores
    and selection ranks must match the DuckDB form (incl. empty target
    sample, empty docs, unicode whitespace tokenization)."""
    from codedup.queries import _DSIR_TARGET_SOURCE

    run = [0]

    @_SETTINGS
    @given(_DSIR_DOCS)
    @example([(t, i == 1) for i, t in enumerate(_VT_TEXTS)])
    def inner(docs):
        run[0] += 1
        d = str(tmp_path_factory.mktemp(f"fz_dsir_{run[0]}"))
        rows = [(i, "en", _DSIR_TARGET_SOURCE if tgt else "raw", t)
                for i, (t, tgt) in enumerate(docs)]
        spark.createDataFrame(
            rows, "doc_id long, lang string, source string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
        got = _norm([tuple(r) for r in
                     QUERIES["dsir_importance"](spark, d).collect()])
        want = _norm([tuple(r) for r in
                      _oracle(d, ORACLES["dsir_importance"])
                      .itertuples(index=False)])
        assert got == want, f"dsir_importance diverged on corpus {run[0]}"

    inner()
