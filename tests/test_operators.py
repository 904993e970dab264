"""Exact set-similarity join operators vs a brute-force oracle."""

import numpy as np
import pandas as pd
import pytest

from codedup.operators import blocked_jaccard_join


def _brute_force(sets: dict[int, set], t: float) -> set[tuple[int, ...]]:
    """(a, b, c, na, nb) for every pair a < b with Jaccard >= t."""
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= t:
                out.add((a, b, inter, len(sets[a]), len(sets[b])))
    return out


@pytest.fixture(scope="module")
def random_sets():
    rng = np.random.default_rng(3)
    sets = {}
    # overlapping sets drawn from a smallish universe + planted near-dups
    for i in range(60):
        n = int(rng.integers(5, 40))
        sets[i] = set(rng.integers(0, 300, n).tolist())
    for i in range(60, 80):  # planted: copy of i-60 with small edits
        base = set(sets[i - 60])
        for _ in range(int(rng.integers(0, 3))):
            base.add(int(rng.integers(300, 320)))
        sets[i] = base
    return sets


def _to_df(spark, sets):
    rows = [(d, int(g)) for d, s in sets.items() for g in s]
    return spark.createDataFrame(rows, "doc_id long, g long")


@pytest.mark.parametrize("t", [0.5, 0.6, 0.8])
def test_blocked_join_exact(spark, random_sets, t):
    sh = _to_df(spark, random_sets)
    got = blocked_jaccard_join(sh, t, n_blocks=4).toPandas()
    got_set = set(zip(got.a, got.b, got.c, got.na, got.nb))
    assert got_set == _brute_force(random_sets, t)


def test_blocked_containment_exact(spark, random_sets):
    """metric='containment' must match brute force c/min(|A|,|B|)."""
    t = 0.7

    def brute():
        out = set()
        ids = sorted(random_sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(random_sets[a] & random_sets[b])
                m = min(len(random_sets[a]), len(random_sets[b]))
                if m and (inter * 1_000_000) // m >= 700_000:
                    out.add((a, b, inter))
        return out

    sh = _to_df(spark, random_sets)
    got = blocked_jaccard_join(sh, t, n_blocks=4, metric="containment").toPandas()
    got = got[(got.c * 1_000_000) // got[["na", "nb"]].min(axis=1) >= 700_000]
    assert set(zip(got.a, got.b, got.c)) == brute()
