"""IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
scale path for similarity search (complements the hyperplane-LSH variant in
similarity.py).

Structure:
- :func:`kmeans_fit` — Lloyd's iterations on the corpus.  Assignments are
  an Arrow-batched numpy matmul (vectorized pandas UDF); centroid updates
  are a JVM ``avg`` per (cell, vector position) whose k·dim rows are
  collected and reassembled on the driver.  Only the k x dim centroid
  matrix ever reaches the driver — the corpus itself never collects.
- :func:`ivf_assign` — one pass tagging each corpus row with its nearest
  centroid id (this is the "inverted file": at scale you'd partition/
  cluster the stored table by this id).
- :func:`ivf_topk` — the guarded query block is probed on the driver
  (each query's ``nprobe`` nearest cells) and broadcast into ONE
  ``mapInPandas`` scan of the corpus: each partition assigns its rows to
  cells, scores only (query, row) pairs in probed cells and emits its
  per-query top-k — the IVF pruning that makes ANN sublinear, with no
  join and no per-pair UDF round trip.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..cache import owned_cache
from ..core import Table
from ..sources import local_frame
from ..wire import local_only, warn_caller

__all__ = ["kmeans_fit", "ivf_assign", "ivf_topk", "ivf_neardup_pairs"]


def _check_ann_params(**vals) -> None:
    """Reject non-positive ``k``/``nprobe`` before any job: ``nprobe=0``
    used to return an empty result and ``nprobe=-1`` to probe all but one
    cell (argpartition on a negative index), both silently."""
    for name, v in vals.items():
        if v is not None and int(v) < 1:
            raise ValueError(f"{name} must be >= 1, got {v}")


def _cell_dists(m: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Squared L2 from each row of ``m`` to each centroid, less the row's
    own |x|^2 (constant per row, so argmin/argpartition ignore it)."""
    return (-2.0 * m @ centroids.T
            + (centroids ** 2).sum(axis=1)[None, :])


def _assign_cells(m: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Nearest cell id per row (int32)."""
    return _cell_dists(m, centroids).argmin(axis=1).astype(np.int32)


def _probe_cells(vectors: np.ndarray, centroids: np.ndarray,
                 nprobe: int) -> np.ndarray:
    """(n, min(nprobe, k_cells)) int32 ids of each vector's nearest cells
    — argpartition (top-n, no full sort); every cell once ``nprobe``
    covers them all.  The one probe expression behind ivf_topk,
    ivf_neardup_pairs and pq's IVF-PQ routes."""
    k_cells = centroids.shape[0]
    take = min(nprobe, k_cells)
    if take >= k_cells:
        return np.tile(np.arange(k_cells, dtype=np.int32),
                       (len(vectors), 1))
    d = _cell_dists(vectors, centroids)
    return np.argpartition(d, take - 1, axis=1)[:, :take].astype(np.int32)


def _probe_udf(centroids: np.ndarray, nprobe: int):
    """array<int> of each vector's ``nprobe`` nearest cell ids."""
    from pyspark.sql.functions import pandas_udf

    def _probe(s):
        m = np.stack(s.to_numpy()).astype(np.float64)
        return pd.Series(list(_probe_cells(m, centroids, nprobe)))

    _probe.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_probe, "array<int>")


def _assign_udf(centroids: np.ndarray):
    from pyspark.sql.functions import pandas_udf

    def _assign(s):
        m = np.stack(s.to_numpy()).astype(np.float64)       # (batch, dim)
        return pd.Series(_assign_cells(m, centroids))

    _assign.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_assign, "int")


def _cell_means(assigned):
    """Per-cell mean vectors computed ENTIRELY JVM-side: ``posexplode`` the
    vector, partial-aggregate ``avg`` per (cell, position) — map-side
    combine makes this safe for ANY cell size — then reassemble each
    cell's dim-length mean with an ``array_sort(collect_list(struct))``
    over dim rows per cell (bounded by the vector width, never by cell
    occupancy).  Only k rows, each dim doubles wide, leave the cluster.

    This replaced a per-cell ``applyInPandas`` mean (VERDICT r6 #2): that
    form materialized a whole cell's vectors in ONE executor's pandas frame
    — at 100 TB a cell is ~corpus/k rows, a guaranteed OOM."""
    per_pos = (assigned
               .select("cell", F.posexplode("v").alias("pos", "x"))
               .groupBy("cell", "pos")
               .agg(F.avg("x").alias("m")))
    return (per_pos.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                 .alias("pm"))
            .select("cell", F.transform("pm", lambda s: s.m)
                    .alias("centroid")))


@local_only
def kmeans_fit(corpus: Table, k: int = 16, iters: int = 5,
               vec_col: str = "embedding", id_col: str = "vec_id",
               seed: int = 42) -> np.ndarray:
    """Lloyd's k-means over the embedding column; returns (k, dim) centroid
    matrix.  Deterministic init: the k rows with smallest ids.

    The (id, vector) projection is persisted ONCE before the loop
    (VERDICT r5 #6): each Lloyd iteration re-reads it for the assign
    UDF, so without the persist a 5-iteration fit is 5 full corpus
    scans — at 100 TB that is the difference between one
    materialization and five.  Held in an ``owned_cache`` construction
    scope, so a failed iteration never leaks executor memory.  The
    deterministic init is a TakeOrdered over the SAME persisted frame
    (r16, guide §2.4): TakeOrdered computes every partition to find the
    global smallest ids, so the one init job also FILLS the cache — the
    previous shape
    scanned the corpus once for the init and a second time for the
    first iteration's cache fill.  The cached projection keeps the scan
    partitioning either way, so the per-partition partial ``avg``
    accumulation order — and with it every centroid byte — is
    unchanged.

    Centroid updates are a JVM partial ``avg`` per (cell, vector
    position): only those k·dim rows are collected and reassembled into
    the centroid matrix on the driver — no per-cell pandas
    materialization anywhere in the fit path, so the fit is safe on the
    FULL corpus, not just on samples."""
    base = corpus.df.select(F.col(id_col).alias("__kid"),
                            F.col(vec_col).alias("v"))
    with owned_cache(base):
        init = (base.orderBy("__kid").limit(k)
                .select("v").toPandas()["v"])
        centroids = np.stack(init.to_numpy()).astype(np.float64)
        vecs = base.select("v")
        for _ in range(iters):
            assigned = vecs.select(
                "v", _assign_udf(centroids)(F.col("v")).alias("cell"))
            # collect the (cell, pos, mean) relation directly — k·dim
            # rows — and reassemble driver-side: identical values to
            # the former _cell_means reassembly aggregation, one
            # Exchange + one stage fewer per Lloyd iteration (r15)
            per_pos = (assigned
                       .select("cell", F.posexplode("v")
                               .alias("pos", "x"))
                       .groupBy("cell", "pos")
                       .agg(F.avg("x").alias("m"))).collect()
            new = centroids.copy()
            for row in per_pos:
                new[int(row["cell"])][int(row["pos"])] = row["m"]
            if np.allclose(new, centroids, atol=1e-9):
                break
            centroids = new
    return centroids


@local_only
def ivf_assign(corpus: Table, centroids: np.ndarray,
               vec_col: str = "embedding") -> Table:
    """Tag rows with their IVF cell id (partition/cluster by this at rest)."""
    return Table(
        corpus.df.withColumn("cell",
                             _assign_udf(centroids)(F.col(vec_col))),
        "ivf_assign")


# gathered (query, row) pair-vector budget per scan chunk, in float64
# cells: 2M = 16 MB per gathered side (the query rows, the corpus rows
# and their product are each this size)
_PAIR_CHUNK_CELLS = 2_000_000


def _topk_select(qi, nid, cos, k: int):
    """Each query row's first ``k`` (qi, nid, cos) under the final
    window's order: cosine descending with NaN LAST (the Arrow bridge
    turns a NaN cosine into a SQL NULL, and a descending sort puts NULLs
    last), then neighbor id ascending."""
    key = np.where(np.isnan(cos), np.inf, -cos)
    o = np.lexsort((nid, key, qi))
    qs = qi[o]
    # rank within the query's run of the sorted order
    keep = o[np.arange(len(qs)) - np.searchsorted(qs, qs) < k]
    return qi[keep], nid[keep], cos[keep]


def _ivf_scan_topk(batches, qids, qraw, probed, centroids, k: int,
                   chunk_cells: int = _PAIR_CHUNK_CELLS):
    """One corpus partition of :func:`ivf_topk`'s fused scan: assign each
    row to its cell, score only (query, row) pairs whose cell the query
    probes (self-matches excluded), and yield the partition's per-query
    top-k as one (query_id, neighbor_id, cosine) frame.

    The cosine is the former per-pair UDF's arithmetic, per pair: a
    float64 elementwise product summed over the row, divided by the
    product of the two row norms — a matmul would change low bits and
    could flip near-tied ranks.  Queries are taken in ranges whose
    gathered pair vectors stay under ``chunk_cells`` floats (one query
    at least)."""
    qn = np.linalg.norm(qraw, axis=1)
    k_cells = centroids.shape[0]
    held = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))
    for pdf in batches:
        if not len(pdf):
            continue
        nids = pdf["nid"].to_numpy()
        m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        cells = _assign_cells(m, centroids)
        cn = np.linalg.norm(m, axis=1)
        # rows grouped by cell: cell c owns order[start[c]:start[c]+cnt[c]]
        order = np.argsort(cells, kind="stable")
        cnt = np.bincount(cells, minlength=k_cells)
        start = np.cumsum(cnt) - cnt
        cum = np.cumsum(cnt[probed].sum(axis=1))
        step = max(1, chunk_cells // m.shape[1])
        q0 = 0
        while q0 < len(qids):
            done = cum[q0 - 1] if q0 else 0
            q1 = max(q0 + 1, int(np.searchsorted(cum, done + step,
                                                 side="right")))
            # one (query, probed cell) entry per block of that cell's rows
            qq = np.repeat(np.arange(q0, q1), probed.shape[1])
            cc = probed[q0:q1].ravel()
            n_each = cnt[cc]
            offs = np.arange(n_each.sum()) - np.repeat(
                np.cumsum(n_each) - n_each, n_each)
            qi = np.repeat(qq, n_each)
            ri = order[np.repeat(start[cc], n_each) + offs]
            keep = nids[ri] != qids[qi]
            qi, ri = qi[keep], ri[keep]
            cos = ((qraw[qi] * m[ri]).sum(axis=1)
                   / (qn[qi] * cn[ri]))
            held = _topk_select(np.concatenate((held[0], qi)),
                                np.concatenate((held[1], nids[ri])),
                                np.concatenate((held[2], cos)), k)
            q0 = q1
    if len(held[0]):
        yield pd.DataFrame({"query_id": qids[held[0]],
                            "neighbor_id": held[1], "cosine": held[2]})


@local_only
def ivf_topk(corpus: Table, queries: Table, centroids: np.ndarray, k: int = 5,
             nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", round_to: int | None = 4,
             max_queries: int | None = 100_000) -> Table:
    """Approximate top-k cosine: score each query against the corpus rows
    in its ``nprobe`` nearest cells.  Output (query_id, neighbor_id,
    cosine), self-matches excluded, ties broken by neighbor id.

    The ``pq_topk`` scan contract: the query block is collected under
    the ``max_queries`` guard (raises past it — slice the query side with
    :func:`similarity.batched_topk`; pass ``None`` to skip the sizing
    probe), probed on the driver, and broadcast once as (ids, vectors,
    probed cells, centroids).  ONE ``mapInPandas`` pass per corpus
    partition then assigns rows to cells, scores the probed pairs and
    keeps an exact per-query top-k, so the merge after the scan sees at
    most ``partitions × queries × k`` rows — never a candidate pair per
    row, and no vector crosses a join or a shuffle."""
    _check_ann_params(k=k, nprobe=nprobe)
    from .pq import _collect_query_block
    from .similarity import _query_guard, _rank_topk

    _query_guard(queries, id_col, max_queries, "ivf_topk",
                 "the query block is collected and broadcast to every "
                 "corpus partition. Slice the query side with "
                 "batched_topk")
    qids, qraw, _ = _collect_query_block(
        Table(queries.df.filter(F.col(id_col).isNotNull())), id_col,
        vec_col)
    spark = corpus.df.sparkSession
    if not len(qids):
        return Table(local_frame(
            spark, [], "query_id long, neighbor_id long, cosine double"),
            "ivf_topk")
    bc = spark.sparkContext.broadcast(
        (qids, qraw, _probe_cells(qraw, centroids, nprobe), centroids))
    kk = int(k)

    def _scan(batches):
        yield from _ivf_scan_topk(batches, *bc.value, kk)

    cand = (corpus.df.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("nid"), F.col(vec_col).alias("v"))
            .mapInPandas(_scan,
                         "query_id long, neighbor_id long, cosine double"))
    return Table(_rank_topk(cand, kk, round_to), "ivf_topk")


@local_only
def ivf_neardup_pairs(corpus: Table, threshold: float = 0.9,
                      k: int | None = None, nprobe: int = 2,
                      iters: int = 3, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      centroids: np.ndarray | None = None,
                      n_vectors: int | None = None,
                      target_cell: int = 256, max_cell: int = 20_000,
                      sample_per_cell: int = 48,
                      seed: int = 42, round_to: int | None = 4,
                      warn_truncation: bool = True) -> Table:
    """Near-duplicate pairs via IVF cells — the ANN regime PAST hyperplane
    LSH's ``max_tables`` cost cap (BASELINE.md sf10 probe: at 200k
    vectors the LSH needs 14 tables for design recall and clamps to 12;
    its candidate volume is fixed by random planes, while IVF's follows
    the data's actual geometry).

    Topology (SemDeDup's blocking scheme, Spark-first):

    - the quantizer fits on a SAMPLE (``sample_per_cell * k`` rows — the
      standard IVF training recipe; fitting Lloyd on the full corpus was
      measured 10x the whole operator's budget at 200k vectors);
    - each vector multi-assigns to its ``nprobe`` nearest cells (catches
      pairs split across a cell boundary — a genuine near-dup's top
      cells all but coincide);
    - ONE shuffle routes (id, vector) into cells, and each cell computes
      its full similarity matrix with a single BLAS matmul inside
      ``applyInPandas`` — ~occupancy² dot products per cell at memory
      bandwidth, NOT a row-expanded pair join (the join form at
      occupancy 256 expanded to ~10^8 candidate ROWS and was 10x slower
      than hyperplane LSH; the matmul does the same flops in seconds);
    - only >=threshold pairs leave the cell (tiny), deduped across the
      nprobe multi-assignments by a final pair-keyed aggregate.

    ``k`` defaults to ``N / target_cell`` so occupancy — and per-cell
    matmul cost — stays constant as the corpus grows; ``max_cell`` truncates
    degenerate cells, and that truncation is LOUD (VERDICT r7 #3, same
    pattern as the incremental store's hot-bucket guard,
    streaming/incremental_dedup.py): a pre-pass ``groupBy(cell).count()``
    counts cells past the cap and ``warnings.warn`` reports how many
    rows lost pair coverage — at 100 TB a degenerate cell (all-zero
    embeddings) silently losing recall is the failure that goes
    unnoticed for months.  The pre-pass is one extra cheap job (re-runs
    the probe UDF scan); production runs that persist the cell
    assignment or handle hot cells offline can pass
    ``warn_truncation=False``.  Pass ``n_vectors`` (or ``centroids``
    from a saved quantizer) to skip the sizing scan on production
    paths."""
    _check_ann_params(k=k, nprobe=nprobe)
    if centroids is None:
        if k is None:
            n = (n_vectors if n_vectors is not None
                 else corpus.df.count())
            k = max(16, int(np.ceil(n / target_cell)))
            if n_vectors is None:
                n_vectors = n
        want = float(k) * sample_per_cell
        if n_vectors is not None:
            frac = min(1.0, want / max(n_vectors, 1))
            sample = (Table(corpus.df.sample(frac, seed=seed), corpus._name)
                      if frac < 1.0 else corpus)
        else:
            # caller supplied k without a corpus count: still never fit
            # Lloyd on the full corpus (measured 10x the operator budget)
            # — a limit() is one cheap scan prefix and the quantizer only
            # needs a representative sample
            sample = Table(corpus.df.limit(int(want)), corpus._name)
        centroids = kmeans_fit(sample, k=k, iters=iters, vec_col=vec_col,
                               id_col=id_col, seed=seed)

    probe_udf = _probe_udf(centroids, nprobe)
    entries = corpus.df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"))

    thr = float(threshold)
    cap = int(max_cell)

    if warn_truncation:
        hot = (entries.groupBy("cell").count()
               .filter(F.col("count") > cap)
               .agg(F.count(F.lit(1)).alias("cells"),
                    F.sum(F.col("count") - cap).alias("dropped"))
               .collect()[0])
        if hot["cells"]:
            warn_caller(
                f"ivf_neardup_pairs: {hot['cells']} cell(s) exceed "
                f"max_cell={cap}; {hot['dropped']} multi-assigned row(s) "
                "will be excluded from pair scoring (recall loss on the "
                "truncated cells).  Raise max_cell, raise k (smaller "
                "cells), or handle the hot cells offline.",
                RuntimeWarning)

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": pd.Series([], dtype="int64"),
                                 "vec_b": pd.Series([], dtype="int64"),
                                 "cosine": pd.Series([], dtype="float64")})
        if len(pdf) > cap:
            pdf = pdf.nsmallest(cap, "vid")
        ids = pdf.vid.to_numpy()
        m = np.stack(pdf.v.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        mn = m / norms[:, None]
        sim = mn @ mn.T
        ia, ib = np.triu_indices(len(ids), 1)
        keep = sim[ia, ib] >= thr
        a, b = ids[ia[keep]], ids[ib[keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi,
                             "cosine": sim[ia[keep], ib[keep]]})

    found = (entries.groupBy("cell")
             .applyInPandas(_cell_pairs,
                            "vec_a long, vec_b long, cosine double")
             .groupBy("vec_a", "vec_b")
             .agg(F.max("cosine").alias("cosine")))
    if round_to is not None:
        found = found.withColumn("cosine",
                                 F.round("cosine", round_to) + F.lit(0.0))
    return Table(found, "ivf_neardup_pairs")


def save_centroids(centroids: np.ndarray, path: str,
                   spark=None) -> None:
    """Persist the coarse quantizer as parquet (cell_id, centroid array) —
    the index artifact an ingest pipeline fits once and reuses across
    sessions/queries (refitting k-means per query would rescan the corpus).
    """
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    df = local_frame(spark, rows, "cell_id int, centroid array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_centroids(path: str, spark=None) -> np.ndarray:
    """Reload a saved quantizer; rows ordered by cell_id so the matrix row
    index IS the cell id (what ``ivf_assign``/``ivf_topk`` expect)."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    rows = spark.read.parquet(path).orderBy("cell_id").collect()
    return np.array([r.centroid for r in rows], dtype=np.float64)
