"""Reusable relational operators that Spark lacks natively.

``blocked_jaccard_join`` / ``blocked_jaccard_join_text`` — exact
all-pairs set-similarity self-join as a block-pair sweep (one shared
kernel, ``_sweep_block_pairs``).  Unlike MinHash-LSH this is EXACT — no
probabilistic recall.  It is the only exact join: a prefix-filtered
(PPJoin) join's cost swings with the shingle-frequency distribution, and
on the catalog corpora it measured 18x slower than the sweep.
``block_pairs`` is the block-pair scaffold it shares with the embedding
matmuls in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-task memory bound: a task holds one block pair, ~2 * BLOCK_BYTES
# of input as Catalyst estimates it (on-disk bytes for a file scan),
# times the kernel's expansion — the sweep packs <= 12 bytes per text
# char (8-byte gram + <= 4-byte index), an embedding block 8 per float.
BLOCK_BYTES = 32 << 20


def block_count(parallelism: int, nbytes: int, other: int | None = None) -> int:
    """Fewest blocks whose block-pair tasks fill one wave of
    ``parallelism`` slots — self-join (other=None): the smallest nb with
    nb(nb+1)/2 >= parallelism; grid against ``other`` blocks: the
    smallest n with other*n >= parallelism — raised to
    ceil(nbytes / BLOCK_BYTES), never below 1.  Fewer blocks cost less:
    each block is shipped to and unpacked by every pair task it is in."""
    if other is None:
        n = 1
        while n * (n + 1) // 2 < parallelism:
            n += 1
    else:
        n = -(-parallelism // other)
    return max(n, -(-nbytes // BLOCK_BYTES), 1)


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for df (no Spark job); 0 when unknown."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 if size >= conf.defaultSizeInBytes() else size


def block_pairs(pack, x: DataFrame, y: DataFrame | None = None) -> DataFrame:
    """Block pairs of ``x`` with itself (the xblk <= yblk triangle, y
    None) or with ``y`` (one x block unless its bytes need more), block
    counts from block_count over defaultParallelism.  ``pack(df, n)``
    returns one row per non-empty block, block id 0..n-1 in ``blk``; the
    result has every packed column prefixed ``x`` and ``y``.

    One pair per task, by a dense pair id: the kernels are CPU-dense and
    pairs are few, so this is the finest stealing grain (lumping 4-5
    pairs per task left a 20-30% straggler tail)."""
    P = x.sparkSession.sparkContext.defaultParallelism

    def side(df, prefix):
        return df.select([F.col(c).alias(prefix + c) for c in df.columns])

    if y is None:
        nb = block_count(P, _plan_bytes(x))
        # both sides read the blocks: without it the pack UDF runs twice
        blocks = pack(x, nb).localCheckpoint(eager=True)
        pairs = side(blocks, "x").crossJoin(side(blocks, "y")) \
            .filter(F.col("xblk") <= F.col("yblk"))
        pid, n_pairs = F.expr("yblk * (yblk + 1) div 2 + xblk"), nb * (nb + 1) // 2
    else:
        nx = block_count(1, _plan_bytes(x), other=1)
        ny = block_count(P, _plan_bytes(y), other=nx)
        pairs = side(pack(x, nx), "x").crossJoin(side(pack(y, ny), "y"))
        pid, n_pairs = F.col("xblk") * ny + F.col("yblk"), nx * ny
    return (pairs.withColumn("_pair", pid.cast("int"))
            .repartitionById(n_pairs, "_pair").drop("_pair"))


def blocked_jaccard_join(sh: DataFrame, threshold: float,
                         metric: str = "jaccard") -> DataFrame:
    """Exact all-pairs Jaccard join for SMALL-VOCABULARY corpora, as a
    block-partitioned inverted-index scan — fully distributed, nothing
    ever collected to the driver.

    When the distinct-element universe is small relative to corpus size
    (every element is frequent), prefix filtering cannot prune — the
    inverted-list cost sum(df(g)^2) is intrinsic.  This operator splits
    that cost across block pairs instead: documents are packed into
    NB dense set-blocks (ONE groupBy shuffle), the NB*(NB+1)/2
    unordered block pairs crossJoin (``block_pairs``), and each task
    intersects one block pair with a sparse postings expansion over the
    pair-local vocabulary — exact integer threshold math, bit-identical
    to the naive all-pairs SQL.

    Output: (a, b, c, na, nb) for pairs with jaccard >= threshold, a<b
    by doc_id.  Every unordered doc pair lives in exactly one unordered
    block pair, so no dedup is needed.

    Scale contract: NB comes from ``block_count`` (one wave of pairs,
    no block above BLOCK_BYTES); per-task memory is one block pair.
    Total work is the intrinsic sum(df(g)^2) regardless of NB.  The
    10^12-file path is MinHash-LSH (probabilistic); this is the EXACT
    quadratic baseline, distributed."""
    def block_sets(pdf):
        import numpy as np

        pdf = pdf.sort_values(["doc_id", "g"])
        docs = pdf["doc_id"].to_numpy()
        uniq, start = np.unique(docs, return_index=True)
        return uniq, np.append(start, docs.size), pdf["g"].to_numpy().astype(np.int64)

    return _sweep_block_pairs(block_pairs(_set_packer(block_sets), sh),
                              threshold, metric)


def blocked_jaccard_join_text(docs: DataFrame, id_col: str, text_col: str,
                              k: int, threshold: float,
                              metric: str = "jaccard") -> DataFrame:
    """blocked_jaccard_join specialized to char-k-gram sets of a text
    column: shingling happens INSIDE the pack UDF (numpy rolling hash
    per document, kernels.shingle_hashes), so only the raw documents are
    shuffled once — no exploded (doc, gram) rows ever exist as a
    DataFrame.  Empty text packs one sentinel gram, mirroring the SQL
    substr('', i, k) = '' singleton set."""
    def block_sets(pdf):
        import numpy as np

        from codedup import kernels as K

        pdf = pdf.sort_values("doc_id")
        offsets = [0]
        grams = []
        for text in pdf[text_col]:
            h = np.unique(K.shingle_hashes(text, k, normalize_ws=False))
            if h.size == 0:
                h = np.zeros(1, dtype=np.uint64)  # '' gram sentinel
            grams.append(h.view(np.int64))
            offsets.append(offsets[-1] + h.size)
        return pdf["doc_id"].to_numpy(), offsets, np.concatenate(grams)

    docs = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col))
    return _sweep_block_pairs(block_pairs(_set_packer(block_sets), docs),
                              threshold, metric)


def _set_packer(block_sets):
    """block_pairs' ``pack``: block doc_id % n.  One exchange, not two:
    repartition(n, _blk) co-locates each block, so a partition-level
    groupby replaces groupBy.applyInPandas (a second hash exchange of
    the same rows).  ``block_sets(pdf)`` -> (doc_ids, offsets, grams)."""
    import pandas as pd

    def pack_part(it):
        parts = [pdf for pdf in it]
        if not parts:
            return
        for blk, pdf in pd.concat(parts).groupby("_blk", sort=False):
            yield _pack_row(int(blk), *block_sets(pdf))

    return lambda df, n: (
        df.withColumn("_blk", F.pmod(F.col("doc_id"), F.lit(n)))
        .repartition(n, "_blk")
        .mapInPandas(pack_part, schema="blk long, doc_ids binary, offsets binary,"
                                        " vocab binary, inv binary")
    )


def _pack_row(blk: int, doc_ids, offsets, grams):
    """One packed-block row.  Besides the raw postings the pack
    precomputes, ONCE PER BLOCK, everything the sweep would otherwise
    rebuild once per block PAIR (a block participates in NB+1 pairs):

      vocab   — sorted distinct grams of the block (int64)
      inv     — posting -> block-vocab id, doc-major (int32)

    The gram-major inverted index (bygram) and per-gram counts (gcnt)
    are NOT shipped: both are derivable from inv in ~10 ms per pair
    (one bincount + one stable argsort), while shipping them doubled
    the sweep's shuffle volume — each block row rides the exchange to
    NB+1 pair tasks (guide §2.3, shuffle fewer bytes).
    """
    import numpy as np
    import pandas as pd

    vocab, inv = np.unique(grams, return_inverse=True)
    # narrowest lossless dtypes (guide §2.3 — shuffle fewer bytes: the
    # packed postings are most of the sweep's shuffle volume); the
    # sweep re-derives the dtype from vocab/doc counts, so no flag
    # column is needed
    idt = np.int16 if vocab.size < (1 << 15) else np.int32
    inv = inv.astype(idt)
    return pd.DataFrame({
        "blk": [blk],
        "doc_ids": [np.asarray(doc_ids, dtype=np.int64).tobytes()],
        "offsets": [np.asarray(offsets, dtype=np.int64).tobytes()],
        "vocab": [vocab.tobytes()],
        "inv": [inv.tobytes()],
    })


def _sweep_block_pairs(pairs: DataFrame, threshold: float,
                       metric: str = "jaccard") -> DataFrame:
    """Shared sweep over ``block_pairs`` of packed set-blocks: each task
    intersects one block pair with a sparse inverted-index postings
    expansion over the pair-local vocabulary (cost = the intrinsic
    sum_g df_x(g) * df_y(g), exact int64 counts).

    metric="jaccard":      threshold on c / (na + nb - c)
    metric="containment":  threshold on c / min(na, nb) — max-containment,
        the near-SUBSET detector (a small file pasted inside a big one
        has high containment but low Jaccard); same candidates, same
        exact integer math, different denominator."""
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown metric {metric!r}")
    import numpy as np
    import pandas as pd

    min_ppm = int(round(threshold * 1_000_000))

    X_CHUNK = 1024    # x docs per count matrix: X_CHUNK * n_y int64
    # per-gram expansion-vs-gemm breakeven: a gemm column costs
    # ~n_x*n_y MACs at ~17 effective GFLOPS (incl. matrix build), a
    # gather entry ~5 ns, so only grams whose df product exceeds ~1e5
    # pay their way as dense columns (measured on the sf1.0 corpus:
    # H drops to the few-hundred boilerplate grams, everything else
    # rides the cache-resident per-doc bincount)
    HOT_MACS = 1 << 17

    def gen(it):
        for pdf in it:
            for row in pdf.itertuples(index=False):
                xdocs = np.frombuffer(row.xdoc_ids, dtype=np.int64)
                xoff = np.frombuffer(row.xoffsets, dtype=np.int64)
                vx = np.frombuffer(row.xvocab, dtype=np.int64)
                ivx = np.frombuffer(
                    row.xinv,
                    dtype=np.int16 if vx.size < (1 << 15) else np.int32)
                ydocs = np.frombuffer(row.ydoc_ids, dtype=np.int64)
                yoff = np.frombuffer(row.yoffsets, dtype=np.int64)
                vy = np.frombuffer(row.yvocab, dtype=np.int64)
                ivy = np.frombuffer(
                    row.yinv,
                    dtype=np.int16 if vy.size < (1 << 15) else np.int32)
                same = row.xblk == row.yblk
                n_x, n_y = xdocs.size, ydocs.size
                x_sizes = np.diff(xoff)
                y_sizes = np.diff(yoff)
                # derived once per pair rather than shipped (see
                # _pack_row): per-gram counts on both sides, and the
                # y-side gram-major inverted index
                gcx = np.bincount(ivx, minlength=vx.size).astype(np.int32)
                gcy = np.bincount(ivy, minlength=vy.size).astype(np.int32)
                ddt = np.int16 if n_y < (1 << 15) else np.int32
                y_row = np.repeat(np.arange(n_y, dtype=ddt), y_sizes)
                bygy = y_row[np.argsort(ivy, kind="stable")]

                # Intersection counts, HYBRID by per-gram cost (guide
                # §1.2 — fix the algorithm; §2.5 — skew needs a split,
                # one regime never fits):
                #   * COLD grams (the vocabulary tail): inverted-index
                #     gather — per x doc, concatenate the y-postings of
                #     its cold grams and bincount them into that doc's
                #     count row.  Cost is the intrinsic
                #     sum_g df_x(g)*df_y(g); the scatter target is one
                #     n_y row (cache-resident), not an n_x*n_y matrix.
                #   * HOT grams (boilerplate shared by a large doc
                #     fraction, where df_x*df_y explodes): dense 0/1
                #     gemm over JUST the hot columns — n_x * V_hot *
                #     n_y MACs with V_hot tiny.
                # Split per gram at df_x(g)*df_y(g) > HOT_MACS (the
                # measured expansion-entry vs gemm-column breakeven).
                # Both halves produce exact integer counts (float32
                # 0/1 sums are exact below 2^24 columns).
                vocab = np.union1d(vx, vy)      # both inputs sorted+unique
                V = vocab.size
                mapx = np.searchsorted(vocab, vx)
                mapy = np.searchsorted(vocab, vy)
                cxp = np.zeros(V, dtype=np.int64)
                cxp[mapx] = gcx
                cyp = np.zeros(V, dtype=np.int64)
                cyp[mapy] = gcy
                hot = (cxp * cyp) > HOT_MACS
                H = int(np.count_nonzero(hot))

                # block-x-domain tables for the cold per-doc gather:
                # for every x-block gram, where its y postings live and
                # how many there are (0 when absent on y or hot)
                pos = np.searchsorted(vy, vx)
                posc = np.minimum(pos, vy.size - 1)
                on_y = vy[posc] == vx
                hot_xb = hot[mapx]
                # int32 index arithmetic throughout the gather: posting
                # counts and offsets fit easily, and the idx temporaries
                # are the gather's main memory traffic
                reps_xb = np.where(on_y & ~hot_xb, gcy[posc], 0).astype(np.int32)
                yso = np.zeros(vy.size, dtype=np.int32)
                np.cumsum(gcy[:-1], out=yso[1:])
                ystart_xb = yso[posc]

                # dense 0/1 matrix of HOT gram membership per y doc
                if H:
                    dt = np.float32 if H < (1 << 24) else np.float64
                    hotcol = np.cumsum(hot) - 1      # pair gram -> hot col
                    y_row_doc = np.repeat(
                        np.arange(n_y, dtype=np.int32), y_sizes)
                    hot_yb = hot[mapy]
                    colmap_yb = np.where(hot_yb, hotcol[mapy], 0)
                    hm_y = hot_yb[ivy]
                    ymat = np.zeros((n_y, H), dtype=dt)
                    ymat[y_row_doc[hm_y], colmap_yb[ivy[hm_y]]] = 1.0
                    colmap_xb = np.where(hot_xb, hotcol[mapx], 0)
                    x_row_doc = np.repeat(
                        np.arange(n_x, dtype=np.int32), x_sizes)
                    # reused across chunks: the ONLY chunk-sized buffers.
                    # The old int64 count matrix + chunk-level ppm/denom
                    # temporaries streamed ~1 GB of freshly mmapped pages
                    # per block pair; under 32 concurrent tasks that page-
                    # fault + DRAM traffic tripled per-pair wall (measured
                    # 1.4 s idle -> 3.2 s mean contended).  Everything
                    # below chunk level is a 25 KB per-doc row in cache.
                    xmat = np.zeros((min(X_CHUNK, n_x), H), dtype=dt)
                    gout = np.empty((min(X_CHUNK, n_x), n_y), dtype=dt)

                # exact integer threshold algebra, per doc row (floor-div
                # >= T  <=>  c*1e6 >= T*denom for denom >= 1):
                #   jaccard:      c*1e6 >= T*(na+nb-c)
                #             <=> c*(1e6+T) >= T*(na+nb)
                #   containment:  c*1e6 >= T*min(na, nb)
                mp_nb = min_ppm * y_sizes            # int64, once per pair
                if metric == "containment":
                    lhs_mul = 1_000_000
                else:
                    lhs_mul = 1_000_000 + min_ppm
                out_a = []
                out_b = []
                out_c = []
                out_na = []
                out_nb = []
                for lo in range(0, n_x, X_CHUNK):
                    hi = min(lo + X_CHUNK, n_x)

                    # --- hot half: gemm over the hot columns only ---
                    if H:
                        rlo, rhi = int(xoff[lo]), int(xoff[hi])
                        ivx_sl = ivx[rlo:rhi]
                        hm_x = hot_xb[ivx_sl]
                        xmat[:hi - lo].fill(0)
                        xmat[(x_row_doc[rlo:rhi] - lo)[hm_x],
                             colmap_xb[ivx_sl[hm_x]]] = 1.0
                        np.matmul(xmat[:hi - lo], ymat.T, out=gout[:hi - lo])

                    # --- cold half + threshold, one cache-resident row
                    # per x doc ---
                    for d in range(lo, hi):
                        gs = ivx[xoff[d]:xoff[d + 1]]
                        reps = reps_xb[gs]
                        m = reps > 0
                        if m.any():
                            reps = reps[m]
                            tot = int(reps.sum(dtype=np.int64))
                            # fused single-repeat index build: delta[i] =
                            # (y-slice start of gram i) - (running start of
                            # its segment in idx), so idx = arange + repeat
                            delta = ystart_xb[gs[m]].copy()
                            delta[1:] -= np.cumsum(reps[:-1], dtype=np.int32)
                            idx = (np.arange(tot, dtype=np.int32)
                                   + np.repeat(delta, reps))
                            crow = np.bincount(bygy[idx], minlength=n_y)
                            if H:
                                # float 0/1 sums are exact below 2^24 cols
                                crow += gout[d - lo].astype(np.int64)
                        elif H:
                            crow = gout[d - lo].astype(np.int64)
                        else:
                            continue
                        na_d = int(x_sizes[d])
                        if metric == "containment":
                            rhs = np.minimum(mp_nb, min_ppm * na_d)
                        else:
                            rhs = mp_nb + min_ppm * na_d
                        keep = crow * lhs_mul >= rhs
                        if same:
                            # docs are id-sorted: self + lower ids form a
                            # prefix of the y row
                            cut = int(np.searchsorted(ydocs, xdocs[d],
                                                      side="right"))
                            keep[:cut] = False
                        bi = np.nonzero(keep)[0]
                        if bi.size == 0:
                            continue
                        xa = int(xdocs[d])
                        yb = ydocs[bi]
                        # (na, nb) follow the (a, b) id order, not block order
                        flip = xa > yb
                        nb_v = y_sizes[bi]
                        out_a.append(np.minimum(xa, yb))
                        out_b.append(np.maximum(xa, yb))
                        out_c.append(crow[bi])
                        out_na.append(np.where(flip, nb_v, na_d))
                        out_nb.append(np.where(flip, na_d, nb_v))
                if out_a:
                    yield pd.DataFrame({
                        "a": np.concatenate(out_a),
                        "b": np.concatenate(out_b),
                        "c": np.concatenate(out_c),
                        "na": np.concatenate(out_na),
                        "nb": np.concatenate(out_nb),
                    }).astype("int64")

    return pairs.mapInPandas(gen, schema="a long, b long, c long, na long, nb long")

