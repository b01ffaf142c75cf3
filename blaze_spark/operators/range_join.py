"""Range joins — EXTENSION (SURVEY.md §2.3: the reference validates
equi-only; range predicates are listed as engine extensions).

Two strategies:

- small band table → broadcast nested-loop with the range predicate
  (Catalyst's BroadcastNestedLoopJoin; fine when one side broadcasts).
- both sides large → ``bucketize``: overlap each range with fixed-width
  buckets, equi-join on bucket id, re-filter exactly.  Turns an O(n*m)
  theta-join into a shuffle-friendly equi-join + cheap filter — the only
  formulation that survives 100 TB on both sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core import Table
from ..wire import wire_op

__all__ = ["range_join", "bucketed_range_join"]


@wire_op("range_join", tables=("left", "right"),
         kwargs=("value_col", "lo_col", "hi_col", "how"))
def range_join(left: Table, right: Table, value_col: str,
               lo_col: str, hi_col: str, how: str = "inner") -> Table:
    """Join rows where ``left.value_col`` falls in
    ``[right.lo_col, right.hi_col)``.  Right side is broadcast — use for
    band/dimension tables."""
    l, r = left.df.alias("l"), F.broadcast(right.df.alias("r"))
    cond = ((F.col(f"l.{value_col}") >= F.col(f"r.{lo_col}"))
            & (F.col(f"l.{value_col}") < F.col(f"r.{hi_col}")))
    return Table(l.join(r, cond, how), "range_join")


@wire_op("bucketed_range_join", tables=("left", "right"),
         kwargs=("value_col", "lo_col", "hi_col", "bucket_width"))
def bucketed_range_join(left: Table, right: Table, value_col: str,
                        lo_col: str, hi_col: str, bucket_width: float) -> Table:
    """Scale path: both sides bucketized by ``bucket_width``; ranges explode
    into the buckets they overlap, values map to one bucket, equi-join on
    the bucket id, exact re-filter.  Shuffles on uniform bucket keys instead
    of nested-loop scanning."""
    lb = left.df.withColumn(
        "__bucket", F.floor(F.col(value_col) / bucket_width).cast("long"))
    rb = right.df.withColumn(
        "__bucket",
        F.explode(F.sequence(
            F.floor(F.col(lo_col) / bucket_width).cast("long"),
            F.floor((F.col(hi_col) - 1e-9) / bucket_width).cast("long"))))
    joined = lb.alias("l").join(
        rb.alias("r"), F.col("l.__bucket") == F.col("r.__bucket"))
    exact = joined.filter(
        (F.col(f"l.{value_col}") >= F.col(f"r.{lo_col}"))
        & (F.col(f"l.{value_col}") < F.col(f"r.{hi_col}")))
    keep = [F.col(f"l.{c}") for c in left.columns] + \
           [F.col(f"r.{c}") for c in right.columns]
    return Table(exact.select(*keep), "bucketed_range_join")
