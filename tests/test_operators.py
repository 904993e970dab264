"""Exact set-similarity join operators vs a brute-force oracle."""

import numpy as np
import pandas as pd
import pytest

from codedup import operators
from codedup.operators import block_count, blocked_jaccard_join


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


# the sweep's result must not depend on its execution shape: every test
# below runs at these forced block counts (block_count faked)
FORCED_BLOCKS = (1, 2, 4, 16)


def _force_blocks(monkeypatch, n_blocks):
    monkeypatch.setattr(operators, "block_count", lambda *a, **kw: n_blocks)


def test_block_count_fills_one_wave():
    """block_count is a pure function of (task slots, bytes)."""
    # triangle: smallest nb with nb(nb+1)/2 >= P
    assert block_count(4, 0) == 3
    assert block_count(32, 0) == 8
    assert block_count(1, 0) == 1
    # grid against k blocks: smallest n with k*n >= P
    for p, k in [(4, 1), (4, 3), (32, 1), (32, 5), (7, 2)]:
        n = block_count(p, 0, other=k)
        assert k * n >= p and k * (n - 1) < p
    # the byte term raises the count to ceil(bytes / BLOCK_BYTES)
    bb = operators.BLOCK_BYTES
    assert block_count(4, 10 * bb) == 10
    assert block_count(4, 10 * bb + 1) == 11
    assert block_count(4, 2 * bb) == 3
    assert block_count(4, 10 * bb, other=4) == 10
    # never below 1
    assert block_count(0, 0) == 1
    assert block_count(0, 0, other=8) == 1


@pytest.mark.parametrize("t", [0.5, 0.6, 0.8])
def test_blocked_join_exact(spark, random_sets, monkeypatch, t):
    sh = _to_df(spark, random_sets)
    want = _brute_force(random_sets, t)
    for n_blocks in FORCED_BLOCKS:
        _force_blocks(monkeypatch, n_blocks)
        got = blocked_jaccard_join(sh, t).toPandas()
        got_set = set(zip(got.a, got.b, got.c, got.na, got.nb))
        assert got_set == want, n_blocks


def test_blocked_containment_exact(spark, random_sets, monkeypatch):
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
    for n_blocks in FORCED_BLOCKS:
        _force_blocks(monkeypatch, n_blocks)
        got = blocked_jaccard_join(sh, t, metric="containment").toPandas()
        got = got[(got.c * 1_000_000) // got[["na", "nb"]].min(axis=1) >= 700_000]
        assert set(zip(got.a, got.b, got.c)) == brute(), n_blocks
