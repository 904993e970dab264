"""Embedding similarity search (J6 family): the one cosine kernel
every embedding search shares, and the IVF (inverted-file) approximate
nearest neighbor search built on it.

Kernel: :func:`cosine` scores a probes × members block with one gemm,
        :func:`topk` keeps each probe's tie-aware top-k of a block, and
        :func:`rerank` takes the global top-k.  :func:`keyed_topk` is
        the keyed cogroup search IVF and sign-random-projection LSH
        (queries.q_ann_lsh_bucketed) share; brute-force top-k, the
        all-pairs threshold join and SemDeDup call the same cosine.

Index:  pyspark.ml KMeans (fixed seed) partitions the corpus into
        n_cells Voronoi cells; every vector stores its cell id.
Search: each probe ranks the n_cells centroids (centroid matrix is
        genuinely broadcast-small: n_cells x dim), keeps its ``nprobe``
        nearest cells and meets the members of those cells, keyed by
        cell id — pruning to ~ n * nprobe / n_cells candidates per
        probe — then scores exact cosine inside the candidates and
        ranks the global top-k.

Like every IVF, recall is probabilistic (a true neighbor can sit just
across a cell boundary), so recall@k is tested against the exact
brute-force block matmul (tests/test_ann_ivf.py); with the pinned
centroids the search is also value-exact against its DuckDB oracle
(queries.SQL_ANN_IVF_TOPK).  At 10^12 rows: n_cells ~ sqrt(n), the
assignments table is bucketed by cell, and the probe-side explode is
nprobe rows per query — the same join-pruning story the bucketed-LSH
plan test asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

IVF_N_CELLS = 16    # ~sqrt(n) at scale; 16 fits the sf0.001-0.1 tables
IVF_SEED = 42


def golden_centroids() -> list[list[float]]:
    """The pinned coarse-quantizer centroids (KMeans seed=42 at sf0.01,
    regenerated by tools/make_ivf_centroids.py; reproduction asserted in
    tests/test_ann_ivf.py).  Production IVF works exactly this way: the
    quantizer is trained offline and the centroid matrix ships with
    every search — so pinning is the realistic shape, and it makes the
    whole search SQL-expressible for the value-exact oracle.

    Loaded as a PACKAGE resource (codedup/golden/) so the spark-submit
    --py-files codedup.zip deployment ships the quantizer with the code
    (ADVICE r3: a __file__-relative path outside the package broke
    zipped installs at import time)."""
    from codedup.golden import load_golden

    return load_golden("ivf_centroids.json")["centroids"]


def build_ivf(emb: DataFrame, n_cells: int = 16, seed: int = 42,
              id_col: str = "vec_id", emb_col: str = "embedding"):
    """-> (assigned DataFrame with a `cell` column, centroids list).

    KMeans training scans the table a bounded number of iterations;
    at scale, train on a sample (KMeans is robust to it) and assign
    the full table with one transform pass."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec = emb.withColumn("_v", array_to_vector(F.col(emb_col).cast("array<double>")))
    model = KMeans(k=n_cells, seed=seed, featuresCol="_v", predictionCol="cell").fit(vec)
    assigned = model.transform(vec).drop("_v")
    centroids = [c.tolist() for c in model.clusterCenters()]
    return assigned, centroids


def probe_cells(probes: DataFrame, centroids: list[list[float]], nprobe: int,
                id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """(id, embedding) -> nprobe rows (id, embedding, cell): the query's
    nearest cells by Euclidean distance to the centroid matrix.  One
    tiny Arrow stage; the centroid matrix (n_cells x dim) is the only
    closure-captured data — broadcast-sized by construction."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cmat = np.asarray(centroids, dtype=np.float64)

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            q = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            if q.ndim != 2 or q.shape[1] != cmat.shape[1]:
                # same contract as dim_guarded: out-of-contract input
                # fails loudly, never scores against a mismatched model
                raise ValueError(
                    f"embedding dim {q.shape[-1]} != model dim {cmat.shape[1]}")
            # FULL squared Euclidean (incl. ||q||^2), rounded to 6
            # decimals BEFORE the argmin/argsort: the relational reference
            # (_ranked_cells) and the DuckDB oracles rank by
            # (round(dist, 6), cell id), so two cells whose true
            # distances differ by <5e-7 must resolve to the LOWEST cell
            # id here too — argmin returns the first (lowest) index on
            # ties and the stable argsort preserves cell order, which
            # is exactly the oracle's tie-break (ADVICE r4).
            d = np.round(
                (q * q).sum(axis=1)[:, None]
                - 2.0 * (q @ cmat.T)
                + (cmat * cmat).sum(axis=1)[None, :], 6)
            if nprobe == 1:
                # assignment fast path: argmin is O(k) per row where the
                # argsort below is O(k log k) — at n=10^6, cells=10^3
                # that is the difference between the full-table
                # assignment job being cheap or sort-bound
                near = np.argmin(d, axis=1)[:, None]
            else:
                near = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), nprobe),
                emb_col: [e for e in pdf[emb_col] for _ in range(nprobe)],
                "cell": near.reshape(-1).astype("int32"),
            })

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(emb_col, probes.schema[emb_col].dataType),
        T.StructField("cell", T.IntegerType()),
    ])
    return probes.select(id_col, emb_col).mapInPandas(gen, schema=schema)


_DIST6 = ("round(aggregate(zip_with(CAST({e} AS array<double>), c, "
          "(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v), 6)")

# Dimension guard (ADVICE r3): zip_with pads the shorter array with
# NULL, so scoring a table whose embedding dim != the pinned model's
# dim would silently produce NULL distances and wrong-but-plausible
# output.  The CASE lives INSIDE the used expression so Catalyst cannot
# prune it; out-of-contract input fails loudly instead.
_DIM_GUARDED = ("CASE WHEN size({e}) != {d} THEN "
                "raise_error(concat('embedding dim ', CAST(size({e}) AS STRING),"
                " ' != model dim {d}')) ELSE {expr} END")


def dim_guarded(expr: str, emb_col: str, dim: int) -> str:
    """Wrap ``expr`` so it raises if ``emb_col`` is not ``dim``-wide."""
    return _DIM_GUARDED.format(e=emb_col, d=dim, expr=expr)


def _ranked_cells(emb: DataFrame, centroids: list[list[float]],
                  id_col: str, emb_col: str) -> DataFrame:
    """Every (vector, cell) pair with the rounded squared distance and
    the per-vector closeness rank (ties broken by cell id) — the
    relational reference that probe_cells' argmin/argsort is tested
    against (tests/test_ann_scale_path.py): rn = 1 is the assignment,
    rn <= nprobe the probe selection, ranked exactly as the DuckDB
    oracles rank.  The centroid table is k rows — broadcast by
    construction; distances round to 6 decimals so the oracle's float
    summation order cannot flip a rank."""
    spark = emb.sparkSession
    cent = F.broadcast(spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, c array<double>"))
    dim = len(centroids[0])
    d = emb.crossJoin(cent).withColumn(
        "dist6", F.expr(dim_guarded(_DIST6.format(e=emb_col), emb_col, dim)))
    w = Window.partitionBy(id_col).orderBy(F.asc("dist6"), F.asc("cell"))
    return d.withColumn("rn", F.row_number().over(w)).drop("c")


def cosine(q, m):
    """Cosine similarity of every row of ``q`` against every row of
    ``m`` in float64: ``(q @ m.T) / (|q| · |m|)`` — one gemm, then one
    division by the product of the two row norms, the order of
    operations the DuckDB oracles use.  A zero-norm row gives NaN.

    Memory: the (rows of q) × (rows of m) float64 result plus one
    temporary of the same shape (the norm products)."""
    import numpy as np

    q = np.asarray(q, dtype=np.float64)
    m = np.asarray(m, dtype=np.float64)
    qn = np.sqrt((q * q).sum(axis=1))
    mn = np.sqrt((m * m).sum(axis=1))
    sim = q @ m.T
    with np.errstate(divide="ignore", invalid="ignore"):
        sim /= qn[:, None] * mn[None, :]
    return sim


def topk(sim, qids, nids, k: int):
    """The per-group top-k of every embedding search: ``sim`` is a
    probes × members block from :func:`cosine` (overwritten), ``qids``
    / ``nids`` its row / column ids.  Returns a pandas frame (query_id,
    neighbor_id, sim6) with each probe's k best members under (sim6
    desc, neighbor_id asc), sim6 = the similarity rounded to 6.
    Self-matches and NaN (zero-norm vectors) are excluded.

    TIE-AWARE (ADVICE r4): members tied at the k-th similarity resolve
    to the LOWEST neighbor ids, so the union of per-group top-ks holds
    the global top-k :func:`rerank` takes.  The k-th value bounds the
    candidates (ties included) and one lexsort orders them.

    Per-task memory bound of the kernel (this plus :func:`cosine`):
    about two probes × members float64 arrays (16 bytes per pair) and
    a few one-byte masks of that shape, plus the two input matrices —
    never a probes × members × dim array."""
    import numpy as np
    import pandas as pd

    np.round(sim, 6, out=sim)
    sim[qids[:, None] == nids[None, :]] = -np.inf
    np.copyto(sim, -np.inf, where=np.isnan(sim))
    n = sim.shape[1]
    if n > k:
        kth = np.partition(sim, n - k, axis=1)[:, n - k]
    else:
        kth = np.full(sim.shape[0], -np.inf)
    rows, cols = np.nonzero((sim >= kth[:, None]) & np.isfinite(sim))
    s = sim[rows, cols]
    order = np.lexsort((nids[cols], -s, rows))
    rows, cols, s = rows[order], cols[order], s[order]
    # position within the probe's run of candidates; keep the first k
    keep = np.arange(rows.size) - np.searchsorted(rows, rows) < k
    return pd.DataFrame({"query_id": qids[rows[keep]],
                         "neighbor_id": nids[cols[keep]],
                         "sim6": s[keep]})


def rerank(cand: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, sim6) candidates -> (query_id,
    neighbor_id, rank) for each query's global top-k under (sim6 desc,
    neighbor_id asc) — the order every exact and approximate search
    and its oracle rank by."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim6"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def keyed_topk(probes: DataFrame, members: DataFrame, k: int) -> DataFrame:
    """Keyed top-k cosine search: probes (query_id, qa, key) meet the
    members (neighbor_id, eb, key) that share their key in one pandas
    cogroup task — one :func:`cosine` gemm and one :func:`topk` per
    key — and only each key's local top-k reaches the global
    :func:`rerank`.  A probe may carry several keys (IVF cells, LSH
    multi-probe buckets) but must reach each member through at most
    one of them, so no pair is scored twice.  Memory per task is the
    :func:`topk` bound for one key's probes × members.

    IVF keys probes by :func:`probe_cells` and members by their cell;
    sign-random-projection LSH keys them by the sign-bit bucket plus
    its Hamming flips (queries.q_ann_lsh_bucketed)."""
    cand = probes.groupBy("key").cogroup(members.groupBy("key")).applyInPandas(
        lambda pl, mr: _key_topk(pl, mr, k),
        schema="query_id long, neighbor_id long, sim6 double")
    return rerank(cand, k)


# The Arrow tasks reach the kernels through private module-level
# functions (_key_topk, _cell_drops): a task closure pickles the values
# of the globals it reads, so a public name rebound at run time (e.g.
# wrapped by a tracer) would travel with the task; a module-level
# function is pickled by name and resolves the kernels in the worker.
def _key_topk(pl, mr, k: int):
    """keyed_topk's task: one key's probes × members -> topk frame."""
    import numpy as np
    import pandas as pd

    if not len(pl) or not len(mr):
        return pd.DataFrame({"query_id": [], "neighbor_id": [], "sim6": []}) \
            .astype({"query_id": "int64", "neighbor_id": "int64", "sim6": "float64"})
    return topk(cosine(np.stack(pl["qa"].to_numpy()), np.stack(mr["eb"].to_numpy())),
                pl["query_id"].to_numpy(), mr["neighbor_id"].to_numpy(), k)


def ivf_topk_blocks(assigned: DataFrame, centroids: list[list[float]],
                    probes: DataFrame, k: int = 5, nprobe: int = 4,
                    id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """IVF search, the FULL-SCALE form (VERDICT r3 #2/#4): probes fan
    out to their nprobe nearest cells (one small Arrow stage), then
    :func:`keyed_topk` scores each cell's probes against its members
    with one BLAS gemm.  No per-pair SQL lambdas: at n=10^6,
    cells=10^3, nprobe=10 the expression form would interpret ~10^9
    lambda steps; this does one 10^3 x 10^3 x dim gemm per cell.

    Equivalent to ivf_topk on the same assignment (tested); returns
    (query_id, neighbor_id, rank) ranked by (cosine rounded 6,
    neighbor_id)."""
    px = probe_cells(probes, centroids, nprobe, id_col, emb_col).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("qa"), F.col("cell").alias("key"))
    mem = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("eb"), F.col("cell").alias("key"))
    return keyed_topk(px, mem, k)


def _cell_drops(pdf, threshold: float, id_col: str, emb_col: str):
    """The SemDeDup gram kernel for one cell: -> (the cell's rows sorted
    by id, dropped mask), where a vector is dropped when some lower-id vector of the
    cell has cosine (rounded to 6) >= threshold.  Memory: two cell ×
    cell float64 arrays plus the cell's vectors."""
    import numpy as np

    pdf = pdf.sort_values(id_col, ignore_index=True)
    v = np.stack(pdf[emb_col].to_numpy())
    sim = np.round(cosine(v, v), 6)
    # dropped[j] = any i<j with sim >= tau  (keep-lowest-id policy)
    return pdf, np.triu(sim >= threshold, k=1).any(axis=0)


def semantic_dedup_cells(assigned: DataFrame, threshold: float,
                         id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """SemDeDup, the FULL-SCALE form: within each cell a vector is
    dropped when some lower-id vector in the same cell has cosine >=
    threshold — same policy as the oracle SQL_SEMANTIC_DEDUP, but the
    within-cell pair join is ONE gram matrix per cell (applyInPandas,
    BLAS) instead of n^2/cells SQL lambda evaluations.  Cells are the
    partition unit, exactly how the 100 TB job buckets.

    Returns (vec_id, cell, kept int)."""
    import pandas as pd

    def dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, dropped = _cell_drops(pdf, threshold, id_col, emb_col)
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(),
            "cell": pdf["cell"].to_numpy(),
            "kept": (~dropped).astype("int32"),
        })

    return assigned.groupBy("cell").applyInPandas(
        dedup, schema=f"{id_col} long, cell int, kept int")


def semantic_dedup_multiprobe(emb: DataFrame, centroids: list[list[float]],
                              threshold: float, nprobe: int = 2,
                              id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """SemDeDup with cell-boundary recovery: each vector participates in
    its ``nprobe`` nearest cells, and is dropped if ANY lower-id vector
    shares ANY of those cells at cosine >= threshold.  Single-cell
    SemDeDup misses near-dup pairs that straddle a Voronoi boundary
    (measured 2.3% of planted pairs at the 1M tier); probing 2 cells
    recovers most of them — the same multi-probe idea as IVF search,
    applied to the dedup pass.  Gram cost is bounded by nprobe^2 x the
    single-cell cost.  Returns (vec_id, cell, kept) with cell = the
    PRIMARY (nearest) cell, like semantic_dedup_cells."""
    import pandas as pd

    multi = probe_cells(emb, centroids, nprobe, id_col, emb_col)

    def dropped_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, dropped = _cell_drops(pdf, threshold, id_col, emb_col)
        return pd.DataFrame({id_col: pdf[id_col].to_numpy()[dropped]})

    dropped = (
        multi.groupBy("cell")
        .applyInPandas(dropped_in_cell, schema=f"{id_col} long")
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    primary = probe_cells(emb, centroids, 1, id_col, emb_col) \
        .select(id_col, "cell")
    return (
        primary.join(dropped, id_col, "left")
        .select(id_col, "cell",
                F.when(F.col("_d").isNull(), 1).otherwise(0).cast("int").alias("kept"))
    )


def ivf_topk(assigned: DataFrame, centroids: list[list[float]],
             probes: DataFrame, k: int = 5, nprobe: int = 4,
             id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Top-k cosine neighbors per probe, searching only nprobe cells.
    Returns (query_id, neighbor_id, rank) ranked by (cosine rounded to
    6, neighbor_id) like the exact variants."""
    px = probe_cells(probes, centroids, nprobe, id_col, emb_col) \
        .select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("qa"), "cell")
    cand_side = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("eb"), "cell"
    )
    dot = "aggregate(zip_with(qa, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    norm = ("sqrt(aggregate(transform({0}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            " 0D, (acc, v) -> acc + v))")
    cand = (
        px.join(cand_side, "cell")     # EQUI join on the cell id
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a (query, neighbor) pair can match through at most one cell
        # (the neighbor has ONE cell), so no dedup is needed
        .withColumn("sim6", F.round(
            F.expr(dot) / (F.expr(norm.format("qa")) * F.expr(norm.format("eb"))), 6))
    )
    return rerank(cand, k)
