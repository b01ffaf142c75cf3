"""Product quantization (PQ) — compressed-domain similarity search
(Jégou, Douze & Schmid 2011, "Product quantization for nearest neighbor
search"; the FAISS ``IndexPQ`` recipe, Spark-first).

Why this exists at 100 TB: a dim-64 float32 embedding column is 256
bytes/row; its PQ code at ``m=8`` subspaces is 8 bytes — 32× less to
store, shuffle and (critically) stream through an ANN scan.  Asymmetric
distance computation (ADC) scores a query against CODES ONLY: one
(m × ks) lookup table per query, then ``m`` table lookups + adds per
corpus row — no float vector is ever read at query time.

Topology:

- :func:`pq_fit` trains ``m`` independent k-means codebooks on a BOUNDED
  deterministic sample collected to the driver (the FAISS training
  recipe — codebooks need a representative sample, never the corpus;
  the collect is ``train_rows × dim`` floats, explicitly capped).
- :func:`pq_encode` is one Arrow-batched pandas UDF pass: per batch,
  ``m`` small matmuls against the broadcast codebooks, argmin → one
  ``binary`` cell of ``m`` uint8 codes per row.  Vectors are
  L2-NORMALIZED before encoding so squared-L2 ADC ranks exactly like
  cosine (``|a−b|² = 2 − 2·cos`` on the unit sphere).
- :func:`pq_topk` broadcasts the (guard-bounded) query block into a
  ``mapInPandas`` scan of the codes: per partition each query keeps a
  batch-local top-k under the global (adist, neighbor_id) order, so the
  shuffle after the scan carries ``partitions × queries × k`` candidate
  rows — never ``N × queries``.
- :func:`pq_decode` reconstructs the (normalized) vectors from codes —
  the reconstruction-error contract and a fallback for operators that
  want approximate vectors back.

PQ is not SQL-expressible (trained codebooks), so its gate entries are
rows-only with pytest recall/reconstruction contracts — same contract
family as the LSH/IVF backends.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from ..core import Table
from ..sources import local_frame
from ..wire import local_only, wire_op

__all__ = ["pq_fit", "pq_encode", "pq_decode", "pq_topk", "ivf_pq_topk",
           "pq_range_search", "ivf_pq_range_search",
           "save_codebooks", "load_codebooks",
           "write_pq_codes", "read_pq_codes"]


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1)
    n[n == 0.0] = 1.0
    return m / n[:, None]


def _lloyd(x: np.ndarray, ks: int, iters: int, seed: int) -> np.ndarray:
    """Driver-side numpy Lloyd for ONE subspace: (train, dsub) → (ks, dsub).
    Deterministic seeded init; empty clusters re-seeded from the point
    farthest from its centroid (the standard FAISS fix, deterministic
    argmax) so every code stays usable."""
    rng = np.random.default_rng(seed)
    ks = min(ks, len(x))
    cents = x[rng.choice(len(x), size=ks, replace=False)].copy()
    x2 = (x ** 2).sum(axis=1)
    for _ in range(iters):
        # |x−c|² via the matmul form — the (n, ks) matrix directly,
        # never the (n, ks, dsub) broadcast intermediate
        d = x2[:, None] - 2.0 * x @ cents.T + (cents ** 2).sum(axis=1)
        assign = d.argmin(axis=1)
        mind = d[np.arange(len(x)), assign]
        for j in range(ks):
            sel = assign == j
            if sel.any():
                cents[j] = x[sel].mean(axis=0)
            else:
                far = int(mind.argmax())
                cents[j] = x[far]
                mind[far] = 0.0
    return cents


@local_only
def pq_fit(corpus: Table, m: int = 8, ks: int = 256, iters: int = 10,
           vec_col: str = "embedding", id_col: str = "vec_id",
           train_rows: int = 50_000, seed: int = 42) -> np.ndarray:
    """Train the ``(m, ks, dim/m)`` PQ codebooks on a bounded sample.

    ``ks`` ≤ 256 so a code is one uint8 per subspace; ``dim`` must be
    divisible by ``m``.  The training sample is the first ``train_rows``
    rows under a HASH-OF-ID order (deterministic TakeOrdered over
    ``md5(id)`` — the packing.py boundary-sample convention): uniform
    over the corpus regardless of how ids correlate with content, where
    a smallest-id sample on an ingest-ordered corpus would train only
    on the earliest crawl segment and quantize the rest with inflated
    error (VERDICT r9).  Unlike ``kmeans_fit`` — whose smallest-id rows
    only seed an init that full-corpus Lloyd iterations then correct —
    this sample IS the training set, so its bias matters.  It is the
    ONLY driver-side materialization: ``train_rows × dim`` floats,
    explicitly capped.  ``id_col`` is REQUIRED: codebook bytes are the
    store identity (``pq_index_format``), so a nondeterministic
    unordered sample could lock an owner out of their own incremental
    store on refit (ADVICE r9).  Vectors are normalized before training
    — codebooks live on the unit sphere where the cosine-ranking ADC
    operates."""
    if ks > 256:
        raise ValueError(f"ks={ks} > 256: PQ codes are one uint8 per "
                         "subspace — use more subspaces (m) instead")
    if id_col not in corpus.df.columns:
        raise ValueError(
            f"pq_fit needs id_col={id_col!r} for its deterministic "
            "hash-ordered training sample (codebook bytes are the PQ "
            "store identity — an unordered sample could produce a "
            "different _PQ_FORMAT on every refit); pass the corpus id "
            "column via id_col=")
    sample = (corpus.df
              .orderBy(F.md5(F.concat(F.col(id_col).cast("string"),
                                      F.lit("-pqfit"))), id_col)
              .select(F.col(vec_col).alias("v")))
    rows = sample.limit(train_rows).toPandas()["v"]
    if not len(rows):
        raise ValueError("pq_fit: the corpus (or training sample) is "
                         "empty — nothing to train codebooks on")
    x = _normalize(np.stack(rows.to_numpy()).astype(np.float64))
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    return np.stack([
        _lloyd(x[:, i * dsub:(i + 1) * dsub], ks, iters, seed + i)
        for i in range(m)])


def _adc_tables(qx: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """ADC lookup tables tab[q, i, j] = |q_i − c_ij|², as (Q, m, ks).
    Matmul form per subspace — the (Q, ks, dsub) broadcast intermediate
    would be ~160 MB at the 10k-query guard."""
    m, ks, dsub = codebooks.shape
    tabs = np.empty((len(qx), m, ks))
    for i in range(m):
        sub = qx[:, i * dsub:(i + 1) * dsub]            # (Q, dsub)
        tabs[:, i, :] = ((sub ** 2).sum(axis=1)[:, None]
                         - 2.0 * sub @ codebooks[i].T
                         + (codebooks[i] ** 2).sum(axis=1)[None, :])
    return tabs


def _codes_matrix(rows: np.ndarray, m: int) -> np.ndarray:
    """Decode a column of m-byte PQ codes into an (n, m) uint8 matrix in
    ONE buffer pass.  ``b"".join`` + ``frombuffer`` + ``reshape`` is
    byte-identical to the per-row ``frombuffer`` + ``stack`` loop it
    replaced and ~45× faster — the per-row Python loop ran once per
    Arrow batch and dominated the whole ADC candidate scan (r15,
    guide §4.2: per-batch work, not per-row work)."""
    buf = b"".join(rows)
    if len(buf) != len(rows) * m:
        # np.stack raised on any ragged row; the joined-buffer reshape
        # needs this explicit total-bytes check to stay loud (ADVICE
        # r15).  Exactly compensating per-row corruption (one row m+1
        # bytes, another m−1) still passes — a per-row length loop
        # would reintroduce per-row Python work in the hottest ADC
        # kernel for a defensive-depth-only case; codes are fixed-width
        # by construction (pq_encode emits m bytes per row).
        raise ValueError(
            f"PQ code column is not fixed-width: {len(rows)} rows x "
            f"m={m} subspaces should be {len(rows) * m} bytes, got "
            f"{len(buf)} (corrupt or mixed-m codes)")
    return np.frombuffer(buf, dtype=np.uint8).reshape(len(rows), m)


def _adc_guard(queries: Table, id_col: str, max_queries: int | None,
               name: str) -> None:
    from .similarity import _query_guard

    _query_guard(queries, id_col, max_queries, name,
                 "the ADC tables are built driver-side per query.  "
                 "Batch the queries")


def _collect_query_block(queries: Table, id_col: str, vec_col: str):
    """Collect the (guarded) query block SORTED BY ID — the executor
    self-match mask and the IVF-PQ scoring both ``searchsorted`` into
    it.  Returns (qids, raw vectors, unit-normalized vectors);
    empty-safe."""
    qpdf = queries.df.select(F.col(id_col).alias("qid"),
                             F.col(vec_col).alias("qv")).toPandas()
    raw_ids = qpdf["qid"].to_numpy()
    if not len(raw_ids):
        return raw_ids, np.empty((0, 0)), np.empty((0, 0))
    order = np.argsort(raw_ids, kind="stable")
    qraw = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)[order]
    return raw_ids[order], qraw, _normalize(qraw)


# per-(query-chunk × batch) distance-matrix budget for the executor
# scan: 16M float64 = 128 MB; peak per task is ~3-4× that (one
# per-subspace fancy-index temp of the same shape, plus two bool masks
# and an int32 cumsum in the tie-exact selection below)
_ADC_CHUNK_CELLS = 16_000_000


def _adc_batch_topk(b_qids, b_tabs, m, kk, nids, c):
    """Batch-local ADC top-k for one Arrow batch of codes, yielding
    (query_id, neighbor_id, adist) frames.

    Correctness: candidates are pre-sorted by neighbor id and the
    selection is EXACT under the final window's (adist, neighbor_id)
    order — rows strictly below the per-query k-th distance, plus the
    smallest-id tied rows AT it (tied codes — duplicate vectors — can
    never be dropped arbitrarily).  Everything is O(Q×n): a value-only
    ``np.partition`` finds the threshold, boolean masks + a cumsum pick
    the tie winners — no per-row sort, no index argsort.
    Memory: the query axis is chunked so all (q_chunk × batch)
    intermediates stay bounded; self-matches (INCLUDING duplicate query
    ids — the left/right searchsorted range covers every occurrence)
    are masked on the few matching columns, never a full Q×N equality
    mask."""
    ord0 = np.argsort(nids, kind="stable")
    nids = nids[ord0]
    c = c[ord0]
    n = len(c)
    self_cols = np.nonzero(np.isin(nids, b_qids))[0]
    self_lo = np.searchsorted(b_qids, nids[self_cols], side="left")
    self_hi = np.searchsorted(b_qids, nids[self_cols], side="right")
    take = min(kk, n)
    qchunk = max(1, _ADC_CHUNK_CELLS // max(1, n))
    for q0 in range(0, len(b_qids), qchunk):
        q1 = min(q0 + qchunk, len(b_qids))
        ad = np.zeros((q1 - q0, n))
        for i in range(m):
            ad += b_tabs[q0:q1, i, :][:, c[:, i]]
        for ci, lo, hi in zip(self_cols, self_lo, self_hi):
            lo, hi = max(lo, q0), min(hi, q1)
            if lo < hi:
                ad[lo - q0:hi - q0, ci] = np.inf
        # exact top-`take` under (adist, nid): threshold at the k-th
        # smallest value, keep everything strictly below it plus the
        # FIRST (= smallest-nid, columns are nid-sorted) ties at it
        kth = np.partition(ad, take - 1, axis=1)[:, take - 1:take]
        lt = ad < kth
        eq = ad == kth
        need = take - lt.sum(axis=1, dtype=np.int32)
        eq_keep = eq & (np.cumsum(eq, axis=1, dtype=np.int32)
                        <= need[:, None])
        row_idx, col_idx = np.nonzero(lt | eq_keep)
        rows_d = ad[row_idx, col_idx]
        keep = np.isfinite(rows_d)
        yield pd.DataFrame({"query_id": b_qids[q0:q1][row_idx[keep]],
                            "neighbor_id": nids[col_idx[keep]],
                            "adist": rows_d[keep]})


def _adc_batch_range(b_qids, b_tabs, b_radii, m, nids, c):
    """Batch-local ADC range scan for one Arrow batch of codes: every
    (query, code) pair with ``adist <= radius[query]``, self-matches
    (including duplicate query ids) masked.  No selection order to
    preserve (unlike the top-k kernel), so candidates need no nid sort;
    the query axis is chunked under the same distance-matrix budget."""
    n = len(c)
    self_cols = np.nonzero(np.isin(nids, b_qids))[0]
    self_lo = np.searchsorted(b_qids, nids[self_cols], side="left")
    self_hi = np.searchsorted(b_qids, nids[self_cols], side="right")
    qchunk = max(1, _ADC_CHUNK_CELLS // max(1, n))
    for q0 in range(0, len(b_qids), qchunk):
        q1 = min(q0 + qchunk, len(b_qids))
        ad = np.zeros((q1 - q0, n))
        for i in range(m):
            ad += b_tabs[q0:q1, i, :][:, c[:, i]]
        for ci, lo, hi in zip(self_cols, self_lo, self_hi):
            lo, hi = max(lo, q0), min(hi, q1)
            if lo < hi:
                ad[lo - q0:hi - q0, ci] = np.inf
        row, col = np.nonzero(ad <= b_radii[q0:q1][:, None])
        yield pd.DataFrame({"query_id": b_qids[q0:q1][row],
                            "neighbor_id": nids[col],
                            "adist": ad[row, col]})


def _query_quant_err(qx: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Per-query squared quantization error ``|q − decode(encode(q))|²``
    — the ADC bias correction for RANGE search.  ADC measures
    ``|q − x̂|²`` against the reconstructed neighbor, so even an exact
    duplicate sits at the query's own reconstruction error, never at 0
    (the r9 tie-break review's 'ADC is asymmetric' lesson), and
    ``E[ADC] ≈ d² + E|x−x̂|²`` for true distance d.  A fixed cosine
    radius would therefore miss near-dups wholesale; adding the
    query's own error (≈ a near neighbor's — nearby vectors quantize
    alike) recenters the radius.  Driver-side numpy over the collected
    query block: Q×m small matmuls."""
    m, ks, dsub = codebooks.shape
    err = np.zeros(len(qx))
    for i in range(m):
        sub = qx[:, i * dsub:(i + 1) * dsub]
        d = ((sub ** 2).sum(axis=1)[:, None]
             - 2.0 * sub @ codebooks[i].T
             + (codebooks[i] ** 2).sum(axis=1)[None, :])
        err += d.min(axis=1)
    return np.maximum(err, 0.0)


def _range_radii(qx: np.ndarray, codebooks: np.ndarray,
                 min_cosine: float, correct_bias: bool) -> np.ndarray:
    base = 2.0 * (1.0 - float(min_cosine))
    radii = np.full(len(qx), base)
    if correct_bias:
        radii = radii + _query_quant_err(qx, codebooks)
    return radii


def _encode_udf(codebooks: np.ndarray):
    from pyspark.sql.functions import pandas_udf

    m, _, dsub = codebooks.shape
    # |x−c|² = |x|² − 2x·c + |c|²; |x|² is constant per row per argmin
    cnorm = (codebooks ** 2).sum(axis=2)              # (m, ks)

    def _enc(s):
        x = _normalize(np.stack(s.to_numpy()).astype(np.float64))
        out = np.empty((len(x), m), dtype=np.uint8)
        for i in range(m):
            sub = x[:, i * dsub:(i + 1) * dsub]
            d = -2.0 * sub @ codebooks[i].T + cnorm[i][None, :]
            out[:, i] = d.argmin(axis=1).astype(np.uint8)
        return pd.Series([r.tobytes() for r in out])

    _enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_enc, "binary")


@local_only
def pq_encode(corpus: Table, codebooks: np.ndarray,
              vec_col: str = "embedding",
              out_col: str = "pq_code") -> Table:
    """Encode each vector as ``m`` uint8 codes in one ``binary`` cell —
    one Arrow-batched UDF pass (m small matmuls per batch).  Drop
    ``vec_col`` afterwards to realize the ~32× storage cut; every
    PQ consumer reads codes only."""
    return Table(
        corpus.df.withColumn(out_col,
                             _encode_udf(codebooks)(F.col(vec_col))),
        "pq_encode")


@local_only
def pq_decode(codes: Table, codebooks: np.ndarray,
              code_col: str = "pq_code",
              out_col: str = "embedding") -> Table:
    """Reconstruct the (unit-normalized) approximate vectors from codes —
    concatenated codebook rows; error is the PQ quantization error the
    pytest contract bounds."""
    from pyspark.sql.functions import pandas_udf

    m, _, dsub = codebooks.shape

    def _dec(s):
        c = _codes_matrix(s.to_numpy(), m)
        out = np.empty((len(c), m * dsub))
        for i in range(m):
            out[:, i * dsub:(i + 1) * dsub] = codebooks[i][c[:, i]]
        return pd.Series([r.astype(np.float32) for r in out])

    _dec.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return Table(
        codes.df.withColumn(out_col,
                            pandas_udf(_dec, "array<float>")
                            (F.col(code_col))),
        "pq_decode")


# 8 MB of float64 — far above any sane (m ≤ 64, ks ≤ 256) codebook,
# far below anything that should ride a JSON node
_MAX_CODEBOOK_FLOATS = 1_000_000


def codebooks_to_wire(codebooks) -> dict:
    """Encode trained ``(m, ks, dsub)`` codebooks as a bounded literal
    relation for a wire node (float64 repr round-trips exactly through
    JSON, so the replayed ADC tables are bit-identical)."""
    cb = np.asarray(codebooks, dtype=np.float64)
    if cb.ndim != 3:
        raise ValueError(
            f"codebooks must be a (m, ks, dsub) array, got shape "
            f"{cb.shape}")
    if cb.size > _MAX_CODEBOOK_FLOATS:
        raise ValueError(
            f"codebooks carry {cb.size} floats (> "
            f"{_MAX_CODEBOOK_FLOATS}) — is this a trained PQ codebook "
            "or a corpus?")
    m, ks, dsub = cb.shape
    return {"m": int(m), "ks": int(ks), "dsub": int(dsub),
            "data": [float(x) for x in cb.reshape(-1)]}


def codebooks_from_wire(enc) -> np.ndarray:
    """Rebuild codebooks from their wire dict; mis-shaped/hostile nodes
    fail loudly."""
    if not isinstance(enc, dict) or \
            set(enc) != {"m", "ks", "dsub", "data"}:
        raise ValueError(
            "codebooks wire form must be a {m, ks, dsub, data} dict "
            "(codebooks_to_wire output)")
    m, ks, dsub = int(enc["m"]), int(enc["ks"]), int(enc["dsub"])
    if m < 1 or ks < 1 or dsub < 1 or m * ks * dsub > \
            _MAX_CODEBOOK_FLOATS:
        raise ValueError(
            f"codebooks wire form declares an invalid shape "
            f"({m}, {ks}, {dsub})")
    data = enc["data"]
    if len(data) != m * ks * dsub:
        raise ValueError(
            f"codebooks wire form carries {len(data)} floats, "
            f"declared shape needs {m * ks * dsub}")
    return np.asarray(data, dtype=np.float64).reshape(m, ks, dsub)


def centroids_to_wire(centroids) -> dict:
    """Encode trained coarse centroids — a bounded (k_cells, d)
    float64 relation — for a wire node (same exact-repr JSON
    round-trip as codebooks_to_wire)."""
    c = np.asarray(centroids, dtype=np.float64)
    if c.ndim != 2:
        raise ValueError(
            f"centroids must be a (k_cells, d) array, got shape "
            f"{c.shape}")
    if c.size > _MAX_CODEBOOK_FLOATS:
        raise ValueError(
            f"centroids carry {c.size} floats (> "
            f"{_MAX_CODEBOOK_FLOATS}) — is this a trained coarse "
            "quantizer or a corpus?")
    k_cells, d = c.shape
    return {"k_cells": int(k_cells), "d": int(d),
            "data": [float(x) for x in c.reshape(-1)]}


def centroids_from_wire(enc) -> np.ndarray:
    """Rebuild coarse centroids from their wire dict; mis-shaped/
    hostile nodes fail loudly."""
    if not isinstance(enc, dict) or set(enc) != {"k_cells", "d",
                                                 "data"}:
        raise ValueError(
            "centroids wire form must be a {k_cells, d, data} dict "
            "(centroids_to_wire output)")
    k_cells, d = int(enc["k_cells"]), int(enc["d"])
    if k_cells < 1 or d < 1 or k_cells * d > _MAX_CODEBOOK_FLOATS:
        raise ValueError(
            f"centroids wire form declares an invalid shape "
            f"({k_cells}, {d})")
    data = enc["data"]
    if len(data) != k_cells * d:
        raise ValueError(
            f"centroids wire form carries {len(data)} floats, "
            f"declared shape needs {k_cells * d}")
    return np.asarray(data, dtype=np.float64).reshape(k_cells, d)


def _topk_schema(k, nprobe=None, **_) -> str:
    if nprobe is not None:      # ivf_pq_topk's checks, as run locally
        from .ivf import _check_ann_params

        _check_ann_params(k=k, nprobe=nprobe)
    return "query_id long, neighbor_id long, cosine double"


def _load_artifacts(codes: Table, codebooks, centroids=None):
    """A string artifact argument is a store PATH (over the wire the
    server maps a registered store NAME to it)."""
    spark = codes.df.sparkSession
    if isinstance(codebooks, str):
        codebooks = load_codebooks(codebooks, spark=spark)
    if isinstance(centroids, str):
        from .ivf import load_centroids
        centroids = load_centroids(centroids, spark=spark)
    return codebooks, centroids


# the query block ships as the (id, vector) columns the scan reads
_QUERY_RELATION = {"queries": (
    "max_queries", lambda df, a: df.select(a["id_col"], a["vec_col"]))}


# trained-artifact APPLICATION serializes: the codebooks (and coarse
# centroids) ride as bounded literals or NAME a registered store, the
# bounded query block rides as rows or a same-server subtree, and the
# code scan runs where the store lives — only Q×k rows cross back.
# FITS stay local-only (pq_fit/pq_encode are eager and sample-dependent)
@wire_op("pq_topk", tables=("codes",),
         relations=_QUERY_RELATION,
         stores={"codebooks": (codebooks_to_wire, codebooks_from_wire)},
         kwargs=("k", "id_col", "code_col", "vec_col", "round_to",
                 "max_queries"),
         schema=_topk_schema)
def pq_topk(codes: Table, queries: Table, codebooks: np.ndarray,
            k: int = 5, id_col: str = "vec_id",
            code_col: str = "pq_code", vec_col: str = "embedding",
            round_to: int | None = 4,
            max_queries: int = 10_000) -> Table:
    """Approximate top-k cosine neighbors by asymmetric distance
    computation over PQ codes: (query_id, neighbor_id, cosine) with
    ``cosine = 1 − adc/2`` (exact on the unit sphere up to the code's
    quantization error).

    The scan reads ONLY the 8-byte codes — at 100 TB this is the
    32×-less-IO exhaustive path; compose with ``ivf_assign``'s cell
    column (filter the codes table by the query's probed cells before
    calling) for the sublinear IVF-PQ layout.  Each partition keeps a
    per-query batch-local top-k under the SAME (adist, neighbor_id)
    order the final window uses (tied codes — duplicate vectors — must
    not be dropped arbitrarily), so the merge sees ``partitions ×
    queries × k`` rows, never N×Q.  The query block is collected to the
    driver under the same ``max_queries`` guard as
    :func:`similarity.cosine_topk` (pass ``None`` to skip the sizing
    probe).  ``codebooks`` may be a :func:`save_codebooks` store path."""
    codebooks, _ = _load_artifacts(codes, codebooks)
    _adc_guard(queries, id_col, max_queries, "pq_topk")
    qids, _, qx = _collect_query_block(queries, id_col, vec_col)
    spark = codes.df.sparkSession
    if not len(qids):
        return Table(local_frame(
            spark, [], "query_id long, neighbor_id long, cosine double"),
            "pq_topk")
    m, ks, dsub = codebooks.shape
    # ship the ADC tables as a broadcast variable, not a closure capture:
    # at the 10k-query guard they are ~160 MB — per-EXECUTOR once, never
    # per task binary
    bc = spark.sparkContext.broadcast((qids, _adc_tables(qx, codebooks)))
    kk = int(k)

    def _scan(batches):
        b_qids, b_tabs = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c = _codes_matrix(pdf["pq_code"].to_numpy(), m)
            nids = pdf["nid"].to_numpy()
            yield from _adc_batch_topk(b_qids, b_tabs, m, kk, nids, c)

    cand = codes.df.select(F.col(id_col).alias("nid"),
                           F.col(code_col).alias("pq_code")) \
        .mapInPandas(_scan, "query_id long, neighbor_id long, adist double")
    from .similarity import _rank_topk

    return Table(
        _rank_topk(cand, kk, round_to, order_col="adist", ascending=True,
                   cosine_expr=F.lit(1.0) - F.col("adist") / F.lit(2.0)),
        "pq_topk")


def _pq_range_scored(codes: Table, queries: Table, codebooks: np.ndarray,
                     min_cosine: float, id_col: str, code_col: str,
                     vec_col: str, max_queries: int | None,
                     correct_bias: bool, name: str):
    """Flat ADC range-scan candidates: (cand_df(query_id, neighbor_id,
    adist), broadcast) — broadcast returned so corpus-self-dedup loops
    can destroy it after materializing each chunk.  (None, None) for an
    empty query block."""
    _adc_guard(queries, id_col, max_queries, name)
    qids, _, qx = _collect_query_block(queries, id_col, vec_col)
    spark = codes.df.sparkSession
    if not len(qids):
        return None, None
    m, ks, dsub = codebooks.shape
    radii = _range_radii(qx, codebooks, min_cosine, correct_bias)
    bc = spark.sparkContext.broadcast(
        (qids, _adc_tables(qx, codebooks), radii))

    def _scan(batches):
        b_qids, b_tabs, b_radii = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c = _codes_matrix(pdf["pq_code"].to_numpy(), m)
            nids = pdf["nid"].to_numpy()
            yield from _adc_batch_range(b_qids, b_tabs, b_radii, m,
                                        nids, c)

    cand = codes.df.select(F.col(id_col).alias("nid"),
                           F.col(code_col).alias("pq_code")) \
        .mapInPandas(_scan,
                     "query_id long, neighbor_id long, adist double")
    return cand, bc


def _range_export(cand, round_to: int | None):
    cos = F.lit(1.0) - F.col("adist") / F.lit(2.0)
    if round_to is not None:
        cos = F.round(cos, round_to) + F.lit(0.0)
    return cand.select("query_id", "neighbor_id", cos.alias("cosine"))


@local_only
def pq_range_search(codes: Table, queries: Table, codebooks: np.ndarray,
                    min_cosine: float = 0.9, id_col: str = "vec_id",
                    code_col: str = "pq_code",
                    vec_col: str = "embedding",
                    round_to: int | None = 4,
                    max_queries: int = 10_000,
                    correct_bias: bool = True) -> Table:
    """ε-range search over PQ codes (FAISS ``IndexPQ.range_search``,
    Spark-first): every (query_id, neighbor_id, cosine) with ADC
    cosine ≥ ``min_cosine`` — the UNBOUNDED-count sibling of
    :func:`pq_topk` for near-duplicate retrieval, where "all neighbors
    above the band" is the contract and a top-k cap is the wrong shape.

    The cosine is the ADC ESTIMATE (1 − adist/2): biased low by the
    neighbor's reconstruction error, so with ``correct_bias`` (default)
    each query's radius is widened by its OWN quantization error —
    without it an exact duplicate would be missed wholesale (its ADC
    distance is the query's reconstruction error, never 0).  Candidates
    above the widened radius are a RECALL device; rescore exactly
    against the float vectors before thresholding decisions (that is
    what :func:`similarity.pq_neardup_pairs` does).  Same scan shape as
    ``pq_topk``: codes-only read, broadcast per-query state under the
    ``max_queries`` guard."""
    cand, _ = _pq_range_scored(codes, queries, codebooks, min_cosine,
                               id_col, code_col, vec_col, max_queries,
                               correct_bias, "pq_range_search")
    spark = codes.df.sparkSession
    if cand is None:
        return Table(local_frame(
            spark, [], "query_id long, neighbor_id long, cosine double"),
            "pq_range_search")
    return Table(_range_export(cand, round_to), "pq_range_search")


@wire_op("ivf_pq_topk", tables=("codes",),
         relations=_QUERY_RELATION,
         stores={"centroids": (centroids_to_wire, centroids_from_wire),
                 "codebooks": (codebooks_to_wire, codebooks_from_wire)},
         kwargs=("k", "nprobe", "id_col", "code_col", "vec_col",
                 "cell_col", "round_to", "max_queries"),
         schema=_topk_schema)
def ivf_pq_topk(codes: Table, queries: Table, centroids: np.ndarray,
                codebooks: np.ndarray, k: int = 5, nprobe: int = 4,
                id_col: str = "vec_id", code_col: str = "pq_code",
                vec_col: str = "embedding", cell_col: str = "cell",
                round_to: int | None = 4,
                max_queries: int = 10_000) -> Table:
    """IVF-PQ: cell-pruned asymmetric-distance top-k — the composed
    sublinear layout (FAISS ``IndexIVFPQ``).  :func:`pq_topk` scans every
    code; here each query scores only the codes in its ``nprobe`` nearest
    k-means cells, so the candidate volume is ``~nprobe/k_cells`` of the
    corpus per query AND the rows are 8-byte codes, multiplying the two
    reductions.

    ``codes`` must carry ``cell_col`` (encode via
    ``pq_encode(ivf_assign(corpus, centroids), codebooks)`` and store
    PARTITIONED BY the cell column — the probed-cell ``isin`` filter
    below then prunes partitions at the scan, which is what makes this
    sublinear in IO at rest, not just in compute).  If the codes table
    still has the float ``vec_col``, the cell is derived on the fly.

    Queries (collected under the same ``max_queries`` guard as
    :func:`pq_topk` — the ADC tables are driver-built per query) are
    probed driver-side against the coarse centroids; corpus assignment
    and query probing both run in raw L2 space (consistent geometry),
    the ADC itself on the unit sphere.  With ``nprobe >= k_cells`` the
    candidate set is the whole corpus and the result is EXACTLY
    ``pq_topk``'s (same ADC, same tie-break) — the differential
    contract pytest pins.  Either artifact may be a store path."""
    from .ivf import _check_ann_params

    _check_ann_params(k=k, nprobe=nprobe)
    codebooks, centroids = _load_artifacts(codes, codebooks, centroids)
    cand, _ = _ivf_pq_scored(codes, queries, centroids, codebooks,
                             nprobe, id_col, code_col, vec_col,
                             cell_col, max_queries, "ivf_pq_topk")
    spark = codes.df.sparkSession
    if cand is None:
        return Table(local_frame(
            spark, [], "query_id long, neighbor_id long, cosine double"),
            "ivf_pq_topk")
    from .similarity import _rank_topk

    return Table(
        _rank_topk(cand, int(k), round_to, order_col="adist",
                   ascending=True,
                   cosine_expr=F.lit(1.0) - F.col("adist") / F.lit(2.0)),
        "ivf_pq_topk")


def _ivf_pq_scored(codes: Table, queries: Table, centroids: np.ndarray,
                   codebooks: np.ndarray, nprobe: int, id_col: str,
                   code_col: str, vec_col: str, cell_col: str,
                   max_queries: int | None, name: str,
                   min_cosine: float | None = None,
                   correct_bias: bool = True):
    """The shared cell-pruned ADC candidate pipeline: probed-cell isin
    filter (partition pruning at rest) → broadcast (query, cell[,
    radius]) join → per-row ADC.  Returns (cand_df, broadcast) with an
    ``adist`` column — unfiltered for the top-k tail, or filtered to
    ``adist <= radius`` per query when ``min_cosine`` is set (range
    mode, radius bias-corrected like :func:`_pq_range_scored`).
    (None, None) for an empty query block."""
    from .ivf import _check_ann_params, _probe_cells, ivf_assign

    _check_ann_params(nprobe=nprobe)
    if cell_col not in codes.df.columns:
        if vec_col in codes.df.columns:
            assigned = ivf_assign(codes, centroids, vec_col=vec_col)
            codes = (assigned if cell_col == "cell" else Table(
                assigned.df.withColumnRenamed("cell", cell_col),
                assigned._name))
        else:
            raise ValueError(
                f"{name} needs a {cell_col!r} column on the codes "
                f"table (or the float {vec_col!r} to derive it): encode "
                "with pq_encode(ivf_assign(corpus, centroids), codebooks) "
                "and store partitioned by cell")
    _adc_guard(queries, id_col, max_queries, name)
    qids, qraw, qx = _collect_query_block(queries, id_col, vec_col)
    spark = codes.df.sparkSession
    if not len(qids):
        return None, None
    m, ks, dsub = codebooks.shape
    # broadcast, not closure capture — ~160 MB at the query guard
    bc = spark.sparkContext.broadcast((qids, _adc_tables(qx, codebooks)))
    # driver-side probe on the RAW vectors — must rank cells exactly as
    # ivf_assign's raw-space squared-L2 does for the same vector
    probed = _probe_cells(qraw, centroids, nprobe)
    radii = (None if min_cosine is None
             else _range_radii(qx, codebooks, min_cosine, correct_bias))
    if radii is None:
        qcells = local_frame(
            spark,
            [(int(q), int(c)) for q, cs in zip(qids, probed) for c in cs],
            "query_id long, cell int")
    else:
        # the per-query radius rides the broadcast probe relation, so
        # the range filter below is a plain column comparison
        qcells = local_frame(
            spark,
            [(int(q), int(c), float(r))
             for q, cs, r in zip(qids, probed, radii)
             for c in cs],
            "query_id long, cell int, radius double")
    if cell_col != "cell":
        qcells = qcells.withColumnRenamed("cell", cell_col)
    cell_lits = sorted({int(c) for cs in probed for c in cs})

    def _adc(qs, cs):
        b_qids, b_tabs = bc.value
        c = _codes_matrix(cs.to_numpy(), m)
        qi = np.searchsorted(b_qids, qs.to_numpy())
        out = np.zeros(len(c))
        for i in range(m):
            out += b_tabs[qi, i, c[:, i]]
        return pd.Series(out)

    _adc.__annotations__ = {"qs": pd.Series, "cs": pd.Series,
                            "return": pd.Series}
    from pyspark.sql.functions import pandas_udf
    adc_udf = pandas_udf(_adc, "double")

    cand = (codes.df
            .filter(F.col(cell_col).isin(cell_lits))   # partition pruning
            .select(F.col(id_col).alias("neighbor_id"),
                    F.col(code_col).alias("pq_code"), F.col(cell_col))
            .join(F.broadcast(qcells), cell_col)
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("adist", adc_udf(F.col("query_id"),
                                         F.col("pq_code"))))
    if radii is not None:
        cand = (cand.filter(F.col("adist") <= F.col("radius"))
                .drop("radius"))
    return cand.drop("pq_code", cell_col), bc


@local_only
def ivf_pq_range_search(codes: Table, queries: Table,
                        centroids: np.ndarray, codebooks: np.ndarray,
                        min_cosine: float = 0.9, nprobe: int = 4,
                        id_col: str = "vec_id",
                        code_col: str = "pq_code",
                        vec_col: str = "embedding",
                        cell_col: str = "cell",
                        round_to: int | None = 4,
                        max_queries: int = 10_000,
                        correct_bias: bool = True) -> Table:
    """Cell-pruned ε-range search (FAISS ``IndexIVFPQ.range_search``):
    :func:`pq_range_search`'s contract over the sublinear IVF-PQ
    layout — each query scans only its ``nprobe`` nearest cells' codes
    and keeps everything within its (bias-corrected) cosine radius.
    Same caveat: the emitted cosine is the ADC estimate; rescore
    exactly before thresholding decisions."""
    cand, _ = _ivf_pq_scored(codes, queries, centroids, codebooks,
                             nprobe, id_col, code_col, vec_col,
                             cell_col, max_queries,
                             "ivf_pq_range_search",
                             min_cosine=min_cosine,
                             correct_bias=correct_bias)
    spark = codes.df.sparkSession
    if cand is None:
        return Table(local_frame(
            spark, [], "query_id long, neighbor_id long, cosine double"),
            "ivf_pq_range_search")
    return Table(_range_export(cand, round_to), "ivf_pq_range_search")


def save_codebooks(codebooks: np.ndarray, path: str, spark=None) -> None:
    """Persist trained PQ codebooks as parquet (subspace, code,
    centroid) — like :func:`ivf.save_centroids`, the index artifact an
    ingest pipeline fits ONCE and reuses across sessions; refitting per
    query would rescan (a sample of) the corpus."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    m, ks, _ = codebooks.shape
    # every row carries the expected (m, ks): a partially-written store
    # (lost trailing subspace) is then DETECTABLE at load, not silently
    # truncated
    rows = [(int(i), int(j), int(m), int(ks),
             [float(x) for x in codebooks[i, j]])
            for i in range(m) for j in range(ks)]
    df = local_frame(
        spark, rows,
        "subspace int, code int, m int, ks int, centroid array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_codebooks(path: str, spark=None) -> np.ndarray:
    """Reload saved codebooks as the ``(m, ks, dsub)`` matrix; row order
    restored from the (subspace, code) keys, so the array indices ARE
    the wire codes."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    df = spark.read.parquet(path)
    if "m" not in df.columns or "ks" not in df.columns:
        raise ValueError(
            f"codebook store at {path} predates the self-describing "
            "(m, ks) schema — its completeness cannot be verified "
            "(a lost trailing subspace would silently truncate); "
            "re-save it with save_codebooks")
    rows = df.orderBy("subspace", "code").collect()
    if not rows:
        raise ValueError(f"codebook store at {path} is empty")
    m, ks = rows[0].m, rows[0].ks
    if (len(rows) != m * ks or rows[-1].subspace != m - 1
            or rows[-1].code != ks - 1):
        raise ValueError(
            f"codebook store at {path} is incomplete: {len(rows)} rows, "
            f"last (subspace={rows[-1].subspace}, code={rows[-1].code}) "
            f"vs declared m={m}, ks={ks}")
    cents = np.array([r.centroid for r in rows], dtype=np.float64)
    return cents.reshape(m, ks, -1)


@local_only
def write_pq_codes(codes: Table, path: str, vec_col: str = "embedding",
                   cell_col: str = "cell", code_col: str = "pq_code",
                   mode: str = "overwrite") -> None:
    """Materialize a PQ-coded corpus AT REST: drop the float vectors and
    write the 8-byte codes, PARTITIONED BY the IVF cell when present —
    :func:`ivf_pq_topk`'s probed-cell ``isin`` filter then prunes whole
    partitions at the scan (the sublinear-IO half of IVF-PQ).  Same
    store-once topology as :func:`quantize.write_quantized`: the encode
    runs exactly once, every downstream ANN pass reads codes only."""
    if code_col not in codes.df.columns:
        raise ValueError(f"no {code_col!r} column — encode with "
                         "pq_encode(...) before write_pq_codes")
    df = codes.df
    if vec_col in df.columns:
        df = df.drop(vec_col)
    w = df.write.mode(mode)
    if cell_col in df.columns:
        w = w.partitionBy(cell_col)
    w.parquet(path)


def read_pq_codes(path: str, code_col: str = "pq_code",
                  spark=None) -> Table:
    """Open a :func:`write_pq_codes` store (cell partition column, when
    present, comes back as a normal column usable by ``ivf_pq_topk``)."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    t = Table(spark.read.parquet(path), "pq_store")
    if code_col not in t.df.columns:
        raise ValueError(f"not a PQ code store (missing {code_col!r}): "
                         f"{path}")
    return t
