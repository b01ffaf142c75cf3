"""Recall contracts — differential scoring of the approximate operators
against their oracle-checked exact counterparts.

The reference's strongest test idea (SURVEY §5; reference
blaze/compute/tests/test_comprehensive.py:65-153) is differential
testing: run two independent implementations of the same semantics and
compare results.  Applied to the approximate family, ground truth comes
from the EXACT paths at fixed seeds — exact 64-bit-shingle Jaccard
(:func:`dedup.exact_jaccard_pairs`), identical-text fingerprints,
brute-force cosine (:func:`similarity.cosine_topk`,
``embedding_neardup_pairs(exact=True)``) — and each approximate
operator's found-set is scored against it.

Every contract returns ONE row::

    (n_true, n_found, n_hit, recall, precision)

``recall = n_hit / n_true`` is the number the auto-sizing formulas
promise (:func:`similarity.lsh_auto_params`);
``precision = n_hit / n_found`` documents how much a downstream
exact-verify stage discards.  All counting happens in one full-outer
join + aggregate — no driver-side set math, so the same contract query
runs unchanged at any scale the exact path can afford.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import carry
from ..core import Table
from ..wire import local_only


def _df(t) -> DataFrame:
    return t.df if isinstance(t, Table) else t


@local_only
def pair_recall(truth, found, a: str = "doc_a", b: str = "doc_b") -> Table:
    """Score an unordered-pair found-set against an exact truth-set.

    Both inputs need columns ``a``/``b`` (id pairs, already oriented
    a < b by every producer in this package).  One full-outer join on
    the pair key feeds a single aggregate — flags are 0/1 so the three
    counts and both ratios come out of one pass."""
    tdf, fdf = _df(truth), _df(found)
    t = (tdf.select(F.col(a).alias("ka"), F.col(b).alias("kb"))
         .distinct().withColumn("in_t", F.lit(1)))
    f = (fdf.select(F.col(a).alias("ka"), F.col(b).alias("kb"))
         .distinct().withColumn("in_f", F.lit(1)))
    j = t.join(f, ["ka", "kb"], "full_outer")
    agg = j.agg(
        F.coalesce(F.sum("in_t"), F.lit(0)).cast("long").alias("n_true"),
        F.coalesce(F.sum("in_f"), F.lit(0)).cast("long").alias("n_found"),
        F.coalesce(F.sum(F.coalesce(F.col("in_t"), F.lit(0))
                         * F.coalesce(F.col("in_f"), F.lit(0))),
                   F.lit(0)).cast("long").alias("n_hit"))
    out = agg.select(
        "n_true", "n_found", "n_hit",
        F.round(F.col("n_hit") / F.col("n_true"), 4).alias("recall"),
        F.round(F.col("n_hit") / F.col("n_found"), 4).alias("precision"))
    # either side may carry a scoped signature/vector cache — keep them
    # alive until this result is dropped (chained-op propagation)
    return Table(carry(out, tdf, fdf), "pair_recall")


@local_only
def topk_recall(truth, found, query_col: str = "query_id",
                neighbor_col: str = "neighbor_id") -> Table:
    """Score an approximate top-k result against the exact top-k: the
    'pair' is (query, neighbor).  Same one-pass counting as
    :func:`pair_recall`; recall here is the standard ANN recall@k."""
    return pair_recall(truth, found, a=query_col, b=neighbor_col)
