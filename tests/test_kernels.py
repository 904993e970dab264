"""Kernel unit tests: hash determinism, estimator quality, edge cases
(SURVEY §5.2.2)."""

import numpy as np
import pytest

from codedup import kernels as K


def test_normalization_crlf_trailing_ws():
    a = K.shingle_hashes("def f():\n    return 1\n", 9)
    b = K.shingle_hashes("def f():\r\n    return 1   \r\n", 9)
    assert np.array_equal(a, b)


def test_shingles_deterministic_and_distinct():
    t = "the quick brown fox jumps over the lazy dog" * 3
    s1, s2 = K.shingle_hashes(t, 9), K.shingle_hashes(t, 9)
    assert np.array_equal(s1, s2)
    assert s1.dtype == np.uint64
    assert np.unique(s1).size == s1.size  # distinct by construction


def test_shingles_edge_cases():
    assert K.shingle_hashes("", 9).size == 0
    # trailing whitespace normalizes away; bare newlines remain
    ws = K.shingle_hashes("   \n  \n", 9)
    assert np.array_equal(ws, K.shingle_hashes("\n\n", 9))
    assert K.shingle_hashes("hi", 9).size == 1  # shorter than k -> one shingle
    u = K.shingle_hashes("∑ € 漢字 🎉 Ω", 9)
    assert u.size > 0  # unicode round-trips through utf-8


def test_minhash_determinism_and_shape():
    s = K.shingle_hashes("some content for hashing purposes", 9)
    m1 = K.minhash_signature(s, 128, 42)
    m2 = K.minhash_signature(s, 128, 42)
    assert np.array_equal(m1, m2)
    assert m1.shape == (128,) and m1.dtype == np.int64
    m3 = K.minhash_signature(s, 128, 43)  # different seed -> different sig
    assert not np.array_equal(m1, m3)


def test_minhash_empty_sentinel():
    empty = K.minhash_signature(np.empty(0, dtype=np.uint64), 128, 42)
    assert (empty == K.EMPTY_MIN).all()
    nonempty = K.minhash_signature(K.shingle_hashes("abc def ghi jkl", 4), 128, 42)
    assert not (nonempty == K.EMPTY_MIN).any()


def test_minhash_estimator_unbiased():
    """MinHash agreement must track true Jaccard within statistical
    bounds (this catches the correlated-permutation failure mode of
    narrow affine families, see kernels.minhash_perms docstring)."""
    rng = np.random.default_rng(0)
    errs = []
    for _ in range(40):
        n = 500
        overlap = int(n * rng.uniform(0.4, 0.98))
        pool = rng.integers(0, 1 << 63, size=2 * n - overlap).astype(np.uint64)
        A, B = np.unique(pool[:n]), np.unique(pool[n - overlap:])
        jt = K.exact_jaccard(A, B)
        est = (K.minhash_signature(A, 128, 42) == K.minhash_signature(B, 128, 42)).mean()
        errs.append(est - jt)
    errs = np.array(errs)
    assert abs(errs.mean()) < 0.02          # unbiased
    assert np.abs(errs).max() < 0.15        # ~3.4 sigma at std=sqrt(p(1-p)/128)


def test_simhash_monotone_under_small_edits():
    base = "".join(f"line number {i} with some text\n" for i in range(80))
    h0 = K.simhash64(K.shingle_hashes(base, 9))
    small = base.replace("number 10", "number 10x")
    large = "".join(f"totally different content {i} here\n" for i in range(80))
    d_small = K.hamming64(h0, K.simhash64(K.shingle_hashes(small, 9)))
    d_large = K.hamming64(h0, K.simhash64(K.shingle_hashes(large, 9)))
    assert d_small < d_large
    assert d_small <= 8
    assert d_large > 20


def test_hamming64():
    assert K.hamming64(0, 0) == 0
    assert K.hamming64(-1, 0) == 64
    assert K.hamming64(0b1011, 0b0001) == 2


def test_jaccard_edges():
    e = np.empty(0, dtype=np.uint64)
    s = np.array([1, 2, 3], dtype=np.uint64)
    assert K.exact_jaccard(e, e) == 1.0
    assert K.exact_jaccard(e, s) == 0.0
    assert K.exact_jaccard(s, s) == 1.0


@pytest.mark.parametrize(
    "a,b,expect",
    [
        ("hello world", "say hello!", 5),
        ("abc", "xabcy", 3),
        ("abc", "xyz", 0),
        ("", "x", 0),
        ("aaaa", "aa", 2),
        ("banana", "ananas", 5),
    ],
)
def test_lcs_known_cases(a, b, expect):
    assert K.lcs_length(a, b) == expect


def test_lcs_large_and_capped():
    a = "A" * 5000 + "B" * 5000
    b = "C" * 3000 + "A" * 2500
    assert K.lcs_length(a, b) == 2500
    # cap truncates both sides BEFORE matching
    assert K.lcs_length(a, b, max_chars=1000) == 0      # 'A'*1000 vs 'C'*1000
    assert K.lcs_length(a, a, max_chars=1000) == 1000


def test_lcs_unicode_and_separator_safety():
    # code point 0 in content must not alias the separator
    assert K.lcs_length("a\x00b", "\x00b") == 2
    assert K.lcs_length("漢字テスト", "前漢字後") == 2


def test_lcs_fraction():
    assert K.lcs_fraction("abcd", "abcd") == 1.0
    assert K.lcs_fraction("", "") == 1.0
    assert K.lcs_fraction("", "x") == 0.0


def test_char_shingles_window_code_points_not_bytes():
    """ADVICE r1: oracles define char k-grams via substr(); windowing
    UTF-8 bytes would give a different shingle COUNT for multibyte text
    (k bytes straddle characters).  Count must equal n_chars - k + 1
    when all k-grams are distinct."""
    t = "∑€漢字🎉Ωabc"          # 9 code points, 22 utf-8 bytes
    s = K.shingle_hashes(t, 4, normalize_ws=False)
    assert s.size == len(t) - 4 + 1
    # ascii unchanged by the decode switch: still distinct windows
    a = K.shingle_hashes("abcdefgh", 3, normalize_ws=False)
    assert a.size == 6


def test_token_shingles():
    toks = "alpha beta gamma delta".split()
    s = K.shingle_hashes("alpha beta gamma delta", 3, mode="token")
    assert s.size == len(toks) - 3 + 1  # 2 distinct trigrams
    # whitespace amount/kind between tokens is irrelevant
    s2 = K.shingle_hashes("alpha\t beta\n\ngamma   delta", 3, mode="token")
    assert np.array_equal(s, s2)
    # fewer than k tokens -> one shingle of all tokens
    assert K.shingle_hashes("one two", 3, mode="token").size == 1
    # no tokens -> empty
    assert K.shingle_hashes("   \n\t ", 3, mode="token").size == 0
    # token identity matters, not concatenation ("ab c" != "a bc")
    x = K.shingle_hashes("ab c d", 2, mode="token")
    y = K.shingle_hashes("a bc d", 2, mode="token")
    assert not np.array_equal(x, y)


def test_token_jaccard_matches_string_gram_jaccard():
    """Hashed token trigram sets must have the same Jaccard as the
    string 3-token-substring sets the SQL oracle builds."""
    a = "w1 w2 w3 w4 w5 w6 w7 w8"
    b = "w1 w2 w3 w4 w5 w6 w7 zz"

    def string_grams(t, k=3):
        tk = t.split()
        return {" ".join(tk[i:i + k]) for i in range(max(len(tk) - k + 1, 1))}

    sa = K.shingle_hashes(a, 3, mode="token")
    sb = K.shingle_hashes(b, 3, mode="token")
    inter, union = K.jaccard_counts(sa, sb)
    ga, gb = string_grams(a), string_grams(b)
    assert (inter, union) == (len(ga & gb), len(ga | gb))


def test_batch_signature_kernels_match_per_doc():
    """minhash_signatures_batch / simhash64_batch must be row-identical
    to the per-document kernels they replace in the signature stage —
    including empty documents (EMPTY_MIN row / simhash 0), singleton
    groups bigger than the internal tile budget, and mixed sizes."""
    rng = np.random.default_rng(7)
    docs = [
        rng.integers(0, 1 << 63, size=s, dtype=np.uint64)
        for s in (0, 1, 3, 285, 0, 1000, 17, 0)
    ]
    concat = np.concatenate([d for d in docs]) if docs else np.empty(0, np.uint64)
    sizes = np.array([d.size for d in docs], dtype=np.int64)
    mh = K.minhash_signatures_batch(concat, sizes, 128, 42)
    sh = K.simhash64_batch(concat, sizes)
    for i, d in enumerate(docs):
        assert np.array_equal(mh[i], K.minhash_signature(d, 128, 42)), i
        assert sh[i] == K.simhash64(d), i
    # same values whatever the byte order of the input array
    assert np.array_equal(K.simhash64_batch(concat.astype(">u8"), sizes), sh)
    # all-empty batch
    z = np.zeros(3, dtype=np.int64)
    assert np.array_equal(
        K.minhash_signatures_batch(np.empty(0, np.uint64), z, 16, 1),
        np.stack([K.minhash_signature(np.empty(0, np.uint64), 16, 1)] * 3))
    assert np.array_equal(
        K.simhash64_batch(np.empty(0, np.uint64), z), np.zeros(3, np.int64))
