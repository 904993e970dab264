"""AnnParams (VERDICT r2 #6): the ANN knobs are config now; a
different setting must change the physical plan/work but never break
the semantics — the pruned searches degrade to exact brute force when
the knobs are opened fully.  Blocking (derived, not configured) is
result-invariant by construction."""

import pandas as pd

from codedup import operators
from codedup.config import DEFAULT_ANN, AnnParams
from codedup.queries import (
    q_ann_lsh_bucketed,
    q_ann_topk_cosine,
    q_embedding_similar_pairs,
)

SF = "/root/testdata/sf0.001"


def _pdf(df):
    return df.toPandas().sort_values(list(df.columns), ignore_index=True)


def test_blocking_is_result_invariant(spark, monkeypatch):
    """Block counts split rows, never the dim axis — any forced count
    (block_count faked) gives bit-identical top-k and pairs."""
    want = _pdf(q_ann_topk_cosine(spark, SF))
    w2 = _pdf(q_embedding_similar_pairs(spark, SF))
    # block_pairs asks for the probe count, then the candidate count
    forced = iter([2, 3])
    monkeypatch.setattr(operators, "block_count", lambda *a, **kw: next(forced))
    got = _pdf(q_ann_topk_cosine(spark, SF))
    assert got.equals(want)
    monkeypatch.setattr(operators, "block_count", lambda *a, **kw: 5)
    g2 = _pdf(q_embedding_similar_pairs(spark, SF))
    assert g2.equals(w2)


def test_lsh_fully_open_equals_brute_force(spark):
    """n_planes=1 with Hamming-1 multi-probe covers both buckets ->
    zero pruning -> must equal the exact brute-force top-5 (same
    (sim6 desc, neighbor_id) order rule)."""
    brute = _pdf(q_ann_topk_cosine(spark, SF))
    open_lsh = _pdf(q_ann_lsh_bucketed(spark, SF, AnnParams(n_planes=1)))
    assert open_lsh.equals(brute)


def test_lsh_planes_change_plan_not_contract(spark):
    """More planes = different literal plan (more hyperplane terms,
    more probe flips) and more pruning, same output schema."""
    p6 = q_ann_lsh_bucketed(spark, SF, DEFAULT_ANN)
    p3 = q_ann_lsh_bucketed(spark, SF, AnnParams(n_planes=3))
    s6 = p6._jdf.queryExecution().executedPlan().toString()
    s3 = p3._jdf.queryExecution().executedPlan().toString()
    assert s6 != s3
    assert p6.columns == p3.columns == ["query_id", "neighbor_id", "rank"]


def test_ivf_nprobe_full_equals_brute_force(spark):
    """nprobe = n_cells searches every cell -> exact brute force."""
    from codedup.ann import golden_centroids
    from codedup.queries import q_ann_ivf_topk

    got = _pdf(q_ann_ivf_topk(spark, SF,
                              AnnParams(ivf_nprobe=len(golden_centroids()))))
    brute = _pdf(q_ann_topk_cosine(spark, SF))
    assert got.equals(brute)


def test_semantic_dedup_policy(spark):
    """SemDeDup keep-lowest-id policy: every >=0.45 cosine pair that
    shares a cell must have its higher id dropped; kept+dropped
    partition the table; a corpus with near-dups actually drops rows."""
    from codedup.queries import q_embedding_similar_pairs, q_semantic_dedup

    sd = q_semantic_dedup(spark, SF).toPandas()
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert len(sd) == n == sd.vec_id.nunique()
    kept = set(sd[sd.kept == 1].vec_id)
    dropped = set(sd[sd.kept == 0].vec_id)
    assert kept.isdisjoint(dropped) and kept | dropped == set(sd.vec_id)

    cell_of = dict(zip(sd.vec_id, sd.cell))
    pairs = q_embedding_similar_pairs(spark, SF).collect()
    same_cell = [(r["a"], r["b"]) for r in pairs if cell_of[r["a"]] == cell_of[r["b"]]]
    for a, b in same_cell:
        assert max(a, b) in dropped, f"near-pair ({a},{b}) shares a cell but kept both"


def test_probe_hamming_zero_prunes_harder(spark):
    """probe_hamming=0 searches only the probe's own bucket — a legal
    setting that returns (possibly) fewer/different rows but never a
    wrong schema; radius 2 fully open equals brute force; radius > 2 is
    an explicit error, not silent."""
    import pytest

    df = q_ann_lsh_bucketed(spark, SF, AnnParams(probe_hamming=0))
    assert df.columns == ["query_id", "neighbor_id", "rank"]
    assert df.count() > 0
    # radius 2 with 2 planes covers ALL 4 buckets -> exact brute force
    full = _pdf(q_ann_lsh_bucketed(spark, SF, AnnParams(n_planes=2, probe_hamming=2)))
    assert full.equals(_pdf(q_ann_topk_cosine(spark, SF)))
    with pytest.raises(ValueError):
        q_ann_lsh_bucketed(spark, SF, AnnParams(probe_hamming=3)).count()


# --- dimension guard (ADVICE r3) -----------------------------------------

def _write_bad_dim_tables(tmp_path):
    """An sf_dir whose embeddings are 3-dim (pinned models are 64-dim)."""
    import pandas as pd

    d = tmp_path / "bad_sf"
    d.mkdir()
    pd.DataFrame({
        "vec_id": [1, 2, 3],
        "label": [0, 1, 2],
        "embedding": [[0.1, 0.2, 0.3]] * 3,
    }).to_parquet(str(d / "embeddings.parquet"), index=False)
    return str(d)


def test_feedback_scoring_raises_on_dim_mismatch(spark, tmp_path):
    """zip_with NULL-pads a wrong-width embedding; without the guard
    every row silently lands in 'review'.  It must raise instead."""
    import pytest as _pytest

    from codedup.queries import q_feedback_model_predictions

    bad = _write_bad_dim_tables(tmp_path)
    with _pytest.raises(Exception, match="embedding dim"):
        # collect, not count: count() prunes every column incl. the guard
        q_feedback_model_predictions(spark, bad).collect()


def test_ivf_assignment_raises_on_dim_mismatch(spark, tmp_path):
    """Same hazard for the pinned 64-dim IVF centroids (semantic_dedup
    and ann_ivf_topk both assign through probe_cells)."""
    import pytest as _pytest

    from codedup.queries import q_semantic_dedup

    bad = _write_bad_dim_tables(tmp_path)
    with _pytest.raises(Exception, match="embedding dim"):
        q_semantic_dedup(spark, bad).count()
