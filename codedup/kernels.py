"""Numpy signature kernels shared by the Spark pandas UDFs, the
single-process oracle, and the fixture generator.

These are the content-payload analogs of the reference's hash kernels
(/root/reference/src/image_dedup/hasher.py:10-71):

    sha256  -> stays sha256 (but computed JVM-side via F.sha2, not here)
    pHash   -> 128-permutation MinHash over char-shingle sets
    dHash   -> 64-bit SimHash (second, independent signal)
    Hamming -> Hamming over SimHash (JVM-side bit_count(xor) on the hot
               path; `hamming64` here for oracle/tests)

Everything is batch-vectorized numpy; nothing here loops per row except
the per-document shingle pass (vectorized *within* each document).
"""

from __future__ import annotations

import numpy as np

# --- constants -----------------------------------------------------------
FNV_PRIME = np.uint64(1099511628211)
MERSENNE61 = np.uint64((1 << 61) - 1)  # modulus for MinHash permutations
U64 = np.uint64

# Sentinel MinHash value for documents with zero shingles (empty after
# normalization): int64 -1 == uint64 max, which a real minimum attains
# with probability ~n/2^64 — so an empty doc never spuriously matches a
# non-empty one, but two empty docs share a signature (and ARE
# duplicates of each other).
EMPTY_MIN = np.int64(-1)


_SM_A = U64(0x9E3779B97F4A7C15)
_SM_B = U64(0xBF58476D1CE4E5B9)
_SM_C = U64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer — public-domain mixing function.
    In-place uint64 ops on a fresh copy (no astype round-trips: inputs
    are already uint64 and every op preserves dtype)."""
    x = x + _SM_A          # new array; wraps mod 2^64
    x ^= x >> U64(30)
    x *= _SM_B
    x ^= x >> U64(27)
    x *= _SM_C
    x ^= x >> U64(31)
    return x


def normalize_text(text: str) -> str:
    """CRLF->LF and strip trailing spaces/tabs per line.

    Mirrors the robustness intent of perceptual hashing (re-encoded
    images hash alike, hasher.py:19-36): trivially-reformatted code
    shingles alike.  The strip set is EXPLICITLY " \\t": a bare
    rstrip() also eats exotic unicode whitespace (NEL, vertical tab),
    which made normalization disagree with its own fast-path guard
    (found by hypothesis).
    """
    if "\r" in text:
        text = text.replace("\r\n", "\n").replace("\r", "\n")
    if " \n" in text or "\t\n" in text or text.endswith((" ", "\t")):
        text = "\n".join(line.rstrip(" \t") for line in text.split("\n"))
    return text


def _poly_windows(arr: np.ndarray, k: int) -> np.ndarray:
    """Distinct SplitMix64-finalized polynomial hashes of all length-k
    windows of a uint64 symbol array (one window of the whole array if
    it is shorter than k)."""
    n = arr.size
    if n <= k:
        win = arr[None, :]
        width = n
    else:
        win = np.lib.stride_tricks.sliding_window_view(arr, k)
        width = k
    pw = np.empty(width, dtype=U64)
    acc = 1
    for j in range(width - 1, -1, -1):  # pw[j] = FNV_PRIME**(width-1-j) mod 2^64
        pw[j] = acc
        acc = (acc * int(FNV_PRIME)) & 0xFFFFFFFFFFFFFFFF
    with np.errstate(over="ignore"):
        h = (win * pw[None, :]).sum(axis=1, dtype=U64)
        h = _splitmix64(h)
    return np.unique(h)


def shingle_hashes(text: str, k: int, normalize_ws: bool = True,
                   mode: str = "char") -> np.ndarray:
    """Distinct 64-bit hashes of all k-gram shingles of ``text`` (uint64).

    mode="char": k-grams of Unicode CODE POINTS (decoded via utf-32-le,
    like lcs_length) — matching the substr() semantics of the SQL
    oracles for non-ASCII text; hashing over UTF-8 bytes would window
    k *bytes* and diverge on any multibyte character (ADVICE r1).

    mode="token": k-grams of whitespace-separated tokens; each token is
    hashed (blake2b-8) to a 64-bit symbol, then the same rolling
    polynomial runs over token symbols — so a token trigram set equals
    (whp, injectively) the set of distinct k-token substrings.

    Both modes: rolling polynomial hash finalized with SplitMix64; a
    document shorter than k symbols (but non-empty) yields one shingle
    (the whole symbol sequence).  Empty (no symbols after
    normalization/tokenization) yields an empty array.
    """
    if normalize_ws:
        text = normalize_text(text)
    if mode == "token":
        import hashlib
        import re

        # ASCII whitespace class of Java regex \s (Spark split), vertical
        # tab included; Python str.split() also eats Unicode whitespace
        # and RE2 \s (DuckDB) omits \x0b, so the oracles spell out this
        # same class (queries._WS)
        toks = [t for t in re.split("[ \\t\\n\\r\\f\\x0b]+", text) if t]
        if not toks:
            return np.empty(0, dtype=U64)
        arr = np.fromiter(
            (int.from_bytes(hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(),
                            "little") for t in toks),
            dtype=U64, count=len(toks),
        )
        return _poly_windows(arr, k)
    cps = np.frombuffer(text.encode("utf-32-le", errors="surrogatepass"),
                        dtype=np.uint32)
    if cps.size == 0:
        return np.empty(0, dtype=U64)
    return _poly_windows(cps.astype(U64), k)


# --- MinHash -------------------------------------------------------------

_PERM_CACHE: dict[tuple[int, int], np.ndarray] = {}


def minhash_perms(num_perm: int, seed: int) -> np.ndarray:
    """Deterministic per-permutation 64-bit seeds.

    NOTE on the hash family: the textbook affine family
    ((a*h+b) mod prime) is NOT usable with narrow multipliers — with
    a < 2^31 and h < 2^32 the map wraps the modulus only ~4 times, so it
    is piecewise-monotonic and the per-permutation minima are heavily
    correlated (measured: agreement 0.72 for a pair with true
    Jaccard 0.94).  Instead each "permutation" is an independent PRF:
    splitmix64(h XOR seed_i), which is min-wise independent for
    practical purposes (random-oracle argument)."""
    key = (num_perm, seed)
    if key not in _PERM_CACHE:
        rng = np.random.default_rng(seed)
        _PERM_CACHE[key] = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64) * U64(2) + U64(1)
    return _PERM_CACHE[key]


_MH_CHUNK = 256  # shingles per inner block: 128 perms x 256 x 8 B = 256 KB, L2-resident


def minhash_signature(shingles: np.ndarray, num_perm: int, seed: int) -> np.ndarray:
    """num_perm-slot MinHash signature (int64) from 64-bit shingle hashes:
    slot i = min over shingles of splitmix64(h ^ seed_i), stored as the
    signed-int64 view of the uint64 minimum (equality-compatible).

    Computed in shingle-axis chunks so the (num_perm x chunk) temporary
    stays cache-resident: the unchunked matrix is ~1 KB x n_shingles of
    memory traffic per document, which becomes the throughput ceiling
    when many workers hash concurrently.  Chunking changes nothing about
    the values (min is associative)."""
    if shingles.size == 0:
        return np.full(num_perm, EMPTY_MIN, dtype=np.int64)
    seeds = minhash_perms(num_perm, seed)[:, None]
    acc = None
    with np.errstate(over="ignore"):
        for lo in range(0, shingles.size, _MH_CHUNK):
            vals = _splitmix64(shingles[None, lo:lo + _MH_CHUNK] ^ seeds)
            m = vals.min(axis=1)
            acc = m if acc is None else np.minimum(acc, m, out=acc)
    return acc.view(np.int64)


def minhash_signatures_batch(concat: np.ndarray, sizes: np.ndarray,
                             num_perm: int, seed: int) -> np.ndarray:
    """MinHash signatures for MANY documents at once: ``concat`` is the
    concatenation of every document's shingle array (uint64), ``sizes``
    the per-document shingle counts.  Returns (n_docs, num_perm) int64,
    row-identical to calling :func:`minhash_signature` per document
    (min is associative; the arithmetic per element is unchanged) —
    asserted in tests/test_kernels.py.  Vectorizing across documents
    amortizes the per-numpy-call overhead that dominates the per-doc
    form at ~300 shingles/doc (measured ~3x on the signature stage)."""
    n = sizes.size
    out = np.full((n, num_perm), EMPTY_MIN, dtype=np.int64)
    nz = np.nonzero(sizes > 0)[0]
    if nz.size == 0:
        return out
    seeds = minhash_perms(num_perm, seed)
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes, out=bounds[1:])
    # tile + buffer shape measured on the sf1.0 batch (10k docs, 2.7M
    # shingles): 32768x64 with preallocated work/scratch buffers runs
    # 2.05 s vs 3.98 s for the old allocate-per-chunk 131072x32 —
    # the splitmix temporaries are the stage's main memory traffic, and
    # the scalar uint64 multiply is the irreducible floor
    SH_BUDGET = 1 << 15   # shingles per tile
    PCHUNK = 64           # perms per inner pass
    res = np.empty((nz.size, num_perm), dtype=np.uint64)
    buf = np.empty((PCHUNK, SH_BUDGET), dtype=U64)
    scr = np.empty((PCHUNK, SH_BUDGET), dtype=U64)
    i = 0
    with np.errstate(over="ignore"):
        while i < nz.size:
            j = i + 1
            start = bounds[nz[i]]
            while j < nz.size and bounds[nz[j] + 1] - start <= SH_BUDGET:
                j += 1
            docs = nz[i:j]
            lo, hi = bounds[docs[0]], bounds[docs[-1] + 1]
            seg = concat[lo:hi]
            L = seg.size
            starts = bounds[docs] - lo
            if L > SH_BUDGET:     # single over-budget document
                bl = np.empty((PCHUNK, L), dtype=U64)
                sc = np.empty((PCHUNK, L), dtype=U64)
            else:
                bl = buf[:, :L]
                sc = scr[:, :L]
            for plo in range(0, num_perm, PCHUNK):
                phi = min(plo + PCHUNK, num_perm)
                b = bl[:phi - plo]
                s = sc[:phi - plo]
                # splitmix64 unrolled into the reused buffers (values
                # identical to _splitmix64: same ops, same order)
                np.bitwise_xor(seg[None, :], seeds[plo:phi, None], out=b)
                b += _SM_A
                np.right_shift(b, U64(30), out=s)
                b ^= s
                b *= _SM_B
                np.right_shift(b, U64(27), out=s)
                b ^= s
                b *= _SM_C
                np.right_shift(b, U64(31), out=s)
                b ^= s
                res[i:j, plo:phi] = np.minimum.reduceat(b, starts, axis=1).T
            i = j
    out[nz] = res.view(np.int64)
    return out


def simhash64_batch(concat: np.ndarray, sizes: np.ndarray) -> np.ndarray:
    """SimHash64 for many documents at once over concatenated shingle
    arrays; element-identical to :func:`simhash64` per document
    (asserted in tests/test_kernels.py)."""
    n = sizes.size
    out = np.zeros(n, dtype=np.int64)
    nz = np.nonzero(sizes > 0)[0]
    if nz.size == 0:
        return out
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes, out=bounds[1:])
    shifts = np.arange(64, dtype=U64)
    SH_BUDGET = 1 << 13
    i = 0
    while i < nz.size:
        j = i + 1
        start = bounds[nz[i]]
        while j < nz.size and bounds[nz[j] + 1] - start <= SH_BUDGET:
            j += 1
        docs = nz[i:j]
        lo, hi = bounds[docs[0]], bounds[docs[-1] + 1]
        # '<u8' pins the byte order the view below relies on (a no-op
        # copy-free cast on little-endian data)
        seg = np.ascontiguousarray(concat[lo:hi]).astype("<u8", copy=False)
        starts = bounds[docs] - lo
        # bit matrix straight from the little-endian byte view: column b
        # of unpackbits(..., bitorder='little') IS (h >> b) & 1, with no
        # 64-wide uint64 shift/mask temporaries (measured 13x on the
        # signature stage: 3.4 s -> 0.26 s per 10k-doc batch)
        bits = np.unpackbits(seg.view(np.uint8).reshape(-1, 8), axis=1,
                             bitorder="little")
        ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
        maj = (ones * 2) > sizes[docs][:, None]
        packed = (maj.astype(np.uint64) << shifts[None, :]).sum(
            axis=1, dtype=np.uint64)
        out[docs] = packed.view(np.int64)
        i = j
    return out


# --- SimHash -------------------------------------------------------------


def simhash64(shingles: np.ndarray) -> int:
    """64-bit SimHash over the full 64-bit shingle hashes (weight 1 per
    distinct shingle).  Returned as signed int64 (Spark LongType)."""
    if shingles.size == 0:
        return 0
    # chunked like minhash_signature: the (chunk x 64) bit matrix stays
    # cache-resident; the bit-count accumulation is order-free
    shifts = np.arange(64, dtype=U64)[None, :]
    ones = np.zeros(64, dtype=np.int64)
    for lo in range(0, shingles.size, _MH_CHUNK):
        bits = (shingles[lo:lo + _MH_CHUNK, None] >> shifts) & U64(1)
        ones += bits.sum(axis=0, dtype=np.int64)
    n = shingles.size
    sim = ones * 2 > n
    packed = 0
    for j in range(64):
        if sim[j]:
            packed |= 1 << j
    return packed - (1 << 64) if packed >= (1 << 63) else packed  # as signed int64


def hamming64(x: int, y: int) -> int:
    """Popcount of XOR of two 64-bit values (signed-int64 inputs ok).

    Spark-side equivalent: F.bit_count(a ^ b) (hasher.py:60-71 analog)."""
    return ((int(x) ^ int(y)) & 0xFFFFFFFFFFFFFFFF).bit_count()


# --- exact verification kernels -----------------------------------------


def jaccard_counts(sa: np.ndarray, sb: np.ndarray) -> tuple[int, int]:
    """(|A ∩ B|, |A ∪ B|) of two distinct-shingle-hash sets."""
    if sa.size == 0 or sb.size == 0:
        return 0, int(sa.size + sb.size)
    inter = int(np.intersect1d(sa, sb, assume_unique=True).size)
    return inter, int(sa.size + sb.size - inter)


def exact_jaccard(sa: np.ndarray, sb: np.ndarray) -> float:
    """True Jaccard of two distinct-shingle-hash sets.  Both empty -> 1.0
    (both documents normalize to nothing -> identical)."""
    inter, union = jaccard_counts(sa, sb)
    if union == 0:
        return 1.0
    return inter / float(union)


def _suffix_array_levels(codes: np.ndarray) -> tuple[np.ndarray, list[tuple[int, np.ndarray]]]:
    """Suffix array by prefix doubling (Manber–Myers), fully vectorized;
    O(n log n).  Also returns the per-level rank arrays
    [(2^k, rank_k)] where rank_k orders length-2^k prefixes — equality
    of rank_k implies exact equality of 2^k symbols (suffix lengths in a
    generalized a#b string are all distinct, so padding never aliases).
    Sorting uses one packed int64 key per round instead of lexsort."""
    n = codes.size
    # int32 everywhere when the packed key rank*(n+1)+key2 < 2^31, i.e.
    # n <= ~46000 (always true under lcs_max_chars=20000): halves memory
    # traffic, which is the scaling ceiling when many workers run LCS
    # concurrently (suffix sorting is bandwidth-bound, not FLOP-bound)
    dt = np.int32 if n < 46000 else np.int64
    order = np.argsort(codes, kind="stable")
    sc = codes[order]
    rank = np.empty(n, dtype=dt)
    rank[order] = np.concatenate([[0], np.cumsum(sc[1:] != sc[:-1], dtype=dt)])
    sa = order
    levels: list[tuple[int, np.ndarray]] = [(1, rank)]
    k = 1
    stride = dt(n + 1)
    while k < n and rank[sa[-1]] != n - 1:
        key2 = np.zeros(n, dtype=dt)
        key2[: n - k] = rank[k:] + dt(1)  # 0 = "past end", ranks shifted +1
        packed = rank * stride + key2
        order = np.argsort(packed, kind="stable")
        ps = packed[order]
        new_rank = np.empty(n, dtype=dt)
        new_rank[order] = np.concatenate([[0], np.cumsum(ps[1:] != ps[:-1], dtype=dt)])
        rank = new_rank
        sa = order
        k <<= 1
        levels.append((k, rank))
    return sa, levels


def _pairwise_lcp(x: np.ndarray, y: np.ndarray, n: int,
                  levels: list[tuple[int, np.ndarray]]) -> np.ndarray:
    """Vectorized LCP of suffix pairs (x[i], y[i]) using the doubling
    rank levels: walk levels high->low, advancing 2^k where ranks agree.
    Replaces Kasai's per-character python loop with ~log n array passes
    (identical results)."""
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    lcp = np.zeros(x.size, dtype=np.int64)
    for width, rank in reversed(levels):
        ok = (x < n) & (y < n)
        idx_x = np.where(ok, x, 0)
        idx_y = np.where(ok, y, 0)
        eq = ok & (rank[idx_x] == rank[idx_y])
        lcp[eq] += width
        x[eq] += width
        y[eq] += width
    return lcp


def lcs_length(a: str, b: str, max_chars: int = 0) -> int:
    """Longest-common-substring length via generalized suffix array
    (north_star's suffix-array LCS check, BASELINE.json:6).

    Builds the suffix array of a#b (separator = unique smallest symbol),
    then takes the max LCP over adjacent suffix pairs that come from
    different sides of the separator."""
    if max_chars:
        a, b = a[:max_chars], b[:max_chars]
    if not a or not b:
        return 0
    ca = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    cb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    # shift all code points by +1 so symbol 0 is free for the (unique) separator
    codes = np.concatenate([ca + 1, np.zeros(1, dtype=np.int64), cb + 1])
    n = codes.size
    sa, levels = _suffix_array_levels(codes)
    boundary = len(ca)
    from_a = sa < boundary
    diff = np.nonzero(from_a[1:] != from_a[:-1])[0]
    if diff.size == 0:
        return 0
    lcp = _pairwise_lcp(sa[diff], sa[diff + 1], n, levels)
    # a cross-side LCP cannot include the separator (it occurs once), so
    # it is automatically capped at the true common-substring length
    return int(lcp.max())


def lcs_fraction(a: str, b: str, max_chars: int = 0) -> float:
    """LCS length / min(len) on the (possibly truncated) inputs."""
    if max_chars:
        a, b = a[:max_chars], b[:max_chars]
    m = min(len(a), len(b))
    if m == 0:
        return 1.0 if len(a) == len(b) else 0.0
    return lcs_length(a, b) / float(m)
