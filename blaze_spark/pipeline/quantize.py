"""Embedding quantization — int8 storage/bandwidth compression for
embedding columns (brief's training-data-pipeline surface; no reference
counterpart — blaze has no vector ops at all, blaze/expr/arrays.py is
numpy-only reshaping).

At 100 TB an ``array<float>`` embedding column dominates storage and
every shuffle that carries it; symmetric per-vector int8 quantization
cuts both 4× with bounded error (max |x̂ − x| ≤ scale/2, scale =
max|x|/127).  This is the standard serving-index trick (FAISS SQ8);
SemDeDup-style near-dup blocking and IVF cell routing are tolerant of
it, so the quantized column can feed the whole ANN family.

Both directions are pure JVM ``transform`` projections — no UDF, no
shuffle, whole-stage codegen — and the arithmetic (abs-max, /127,
round-half-away-from-zero) is engine-portable, so the DuckDB oracle
reproduces the exact int values.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core import Table, _derived
from ..wire import local_only

__all__ = ["quantize_embeddings", "dequantize_embeddings",
           "write_quantized", "read_quantized"]


@local_only
def quantize_embeddings(t: Table, vec_col: str = "embedding",
                        out_col: str = "qembedding",
                        scale_col: str = "qscale") -> Table:
    """Symmetric per-vector int8 quantization: adds ``out_col``
    (``array<tinyint>``, values in [−127, 127]) and ``scale_col``
    (double).  ``x̂ = q * scale`` with ``scale = max|x| / 127``; a
    zero vector gets scale 1.0 and an all-zero code (no NaNs, no
    division by zero).  Drop ``vec_col`` afterwards to realize the 4×
    storage cut."""
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))
    out = t.df.withColumn(scale_col, scale).withColumn(
        out_col,
        F.transform(v, lambda x: F.round(x / F.col(scale_col))
                    .cast("tinyint")))
    res = _derived(out, t)
    res._name = t._name
    return res


@local_only
def dequantize_embeddings(t: Table, q_col: str = "qembedding",
                          scale_col: str = "qscale",
                          out_col: str = "embedding") -> Table:
    """Inverse of :func:`quantize_embeddings`: ``array<float>`` with
    ``x̂ = q * scale`` (≤ scale/2 from the original per element).  The
    output column type matches the raw embedding column so every
    downstream operator (cosine top-k, LSH, IVF) runs unchanged."""
    out = t.df.withColumn(
        out_col,
        F.transform(F.col(q_col),
                    lambda q: (q * F.col(scale_col)).cast("float")))
    res = _derived(out, t)
    res._name = t._name
    return res


@local_only
def write_quantized(t: Table, path: str, vec_col: str = "embedding",
                    q_col: str = "qembedding", scale_col: str = "qscale",
                    mode: str = "overwrite") -> None:
    """Materialize the corpus AT REST as int8 codes: quantize, DROP the
    raw float column, write parquet.  This is the production layout the
    bench's ``quantized_neardup_chain`` deliberately avoids (PLANS.md r9
    topology note): quantize-at-READ re-runs the quantize+dequantize
    projections on EVERY corpus pass (sizing count, k-means init, cell
    assignment — measured ~2× the raw dispatcher at sf10), while a
    stored code table pays the quantize exactly once and every
    downstream pass only the cheap dequantize-on-scan.  Storage drops
    ~4× (measured 3.5× at sf1 with the scale column included)."""
    q = quantize_embeddings(t, vec_col=vec_col, out_col=q_col,
                            scale_col=scale_col)
    q.df.drop(vec_col).write.mode(mode).parquet(path)


def read_quantized(path: str, vec_col: str = "embedding",
                   q_col: str = "qembedding", scale_col: str = "qscale",
                   keep_codes: bool = False, spark=None) -> Table:
    """Open a :func:`write_quantized` store and rehydrate ``vec_col``
    (``array<float>``) via dequantize-on-scan — a pure JVM projection,
    so the scan stays in whole-stage codegen and every ANN operator
    (LSH / IVF / the :func:`similarity.neardup_pairs` dispatcher) runs
    on the result unchanged.  ``keep_codes=True`` retains the int8
    codes and scale alongside the rehydrated vectors (for operators
    that can consume codes directly)."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    t = Table(spark.read.parquet(path), "quantized_store")
    missing = [c for c in (q_col, scale_col) if c not in t.df.columns]
    if missing:
        raise ValueError(
            f"not a quantized store (missing {missing}): {path}")
    out = dequantize_embeddings(t, q_col=q_col, scale_col=scale_col,
                                out_col=vec_col)
    if not keep_codes:
        out = Table(out.df.drop(q_col, scale_col), out._name)
    return out
