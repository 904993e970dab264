"""Pipeline configuration + config fingerprint.

The reference exposes its tuning surface through CLI flags
(/root/reference/src/image_dedup/cli.py:151-204: --threshold 10,
--hash-size 16, --no-cache, ...).  Here the whole surface is one frozen
dataclass whose sha256 fingerprint keys every checkpoint table, so a
config change automatically invalidates cached stages (the reference's
size/mtime invalidation, cache.py:91-95, generalized).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, replace


@dataclass(frozen=True)
class DedupConfig:
    """Only values that decide results: the fingerprint covers every
    field, so a field that is an execution shape (partition or block
    counts, batch sizes) would invalidate checkpoints for nothing."""

    # Bump whenever a kernel's hash semantics or a stage table's layout
    # changes: it participates in the fingerprint, so stale signature
    # caches and stage checkpoints self-invalidate (the reference's
    # cache has no such guard — a silent-staleness bug class).
    kernel_version: int = 5  # v5: the reps stage is the sha-group table
    #     (file_id, sha256, content, members); v4: char shingles window
    #     CODE POINTS (not utf-8 bytes) and shingle_mode="token" is implemented

    # --- shingling (replaces image decode, hasher.py:19-47) ---
    shingle_k: int = 9            # char n-gram length
    shingle_mode: str = "char"    # "char" | "token"
    normalize_ws: bool = True     # strip trailing ws per line, CRLF->LF before shingling

    # --- signatures ---
    minhash_seed: int = 42

    # --- LSH banding (north_star: b=16, r=8); num_perm = bands * rows_per_band ---
    bands: int = 16
    rows_per_band: int = 8

    # --- verification thresholds (analog of avg-Hamming <= 10, dedup.py:220-227) ---
    jaccard_threshold: float = 0.80
    # JVM-side cheap prefilter before the (expensive) Python verify:
    # drop candidates whose MinHash-estimated Jaccard is below
    # threshold - margin.  At margin 0.15 a true 0.80-Jaccard pair is
    # rejected with prob ~P(z < -4.3σ) ≈ 1e-5 (σ = sqrt(p(1-p)/128)).
    # None disables.
    minhash_prefilter_margin: float | None = 0.15
    lcs_min_frac: float = 0.0         # 0 disables the LCS gate; >0 requires LCS/minlen >= frac
    lcs_max_chars: int = 20000        # cap per-side content length for LCS (cost bound)
    # Compute the suffix-array LCS signal at all?  With lcs_min_frac=0
    # the LCS never gates accept/reject, so turning the SIGNAL off
    # changes no pair decisions and no clusters — it only writes the
    # -1.0 not-computed sentinel into lcs_frac.  It is the verify
    # stage's single biggest cost line (sweep table, BENCH/BASELINE.md);
    # default True because the north-star names LCS as the confirmation
    # signal.  lcs_min_frac > 0 requires it (validated).
    lcs_signal: bool = True

    # --- skew handling (SURVEY §4.2) ---
    band_bucket_cap: int = 64     # buckets larger than this are "hot"
    # hot-bucket strategy: "star" pairs members with the bucket min only
    # (O(k), preserves cluster membership); "salted" keeps COMPLETE pair
    # coverage but spreads the O(k^2) join over salt_buckets tasks;
    # "auto" salts medium-hot buckets (size <= cap*salt_buckets) and
    # stars gigantic ones
    hot_bucket_mode: str = "star"
    salt_buckets: int = 8

    @property
    def num_perm(self) -> int:
        """MinHash permutations: one signature slot per band row (north_star: 128)."""
        return self.bands * self.rows_per_band

    def fingerprint(self) -> str:
        """Stable 16-hex config id; keys checkpoint manifests."""
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)

    def __post_init__(self) -> None:
        if self.bands < 1 or self.rows_per_band < 1:
            raise ValueError(
                f"bands and rows_per_band must be positive "
                f"(got {self.bands}, {self.rows_per_band})"
            )
        if self.shingle_mode not in ("char", "token"):
            raise ValueError(f"unknown shingle_mode {self.shingle_mode!r}")
        if self.lcs_min_frac > 0 and not self.lcs_signal:
            raise ValueError("lcs_min_frac > 0 requires lcs_signal=True "
                             "(the gate needs the signal computed)")


@dataclass(frozen=True)
class AnnParams:
    """Tuning surface for the approximate embedding searches (VERDICT
    r2 #6: these were module constants a cluster user could not change).
    Each value trades recall for work, so it changes results.  The
    sandbox defaults are sized for the sf0.001-0.1 test tables and MUST
    be re-derived at scale:

      n_planes      ~ log2(n / target_bucket_rows): 6 -> 64 buckets is
                      right for 10^3-10^5 vectors; at 10^9 vectors use
                      ~14-17 so buckets stay O(10^4-10^5).
      probe_hamming   multi-probe radius (0, 1 or 2); r explodes each
                      probe into sum_{i<=r} C(n_planes, i) bucket
                      values (all still one equi-join).
      ivf_nprobe      cells probed per query, tuned for the recall
                      target (recall gate in tests/test_ann_ivf.py);
                      nprobe = the number of cells (ann.IVF_N_CELLS)
                      degrades to exact brute force (also tested).
    """

    n_planes: int = 6
    probe_hamming: int = 1
    ivf_nprobe: int = 6


DEFAULT_ANN = AnnParams()
