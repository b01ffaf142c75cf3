"""Batch sessionization — split each key's ordered row stream into
sessions wherever the gap between consecutive rows exceeds a threshold.

EXTENSION: the reference has no session concept (its "streaming" is lazy
Python iterators, SURVEY.md §1.1); the streaming-side equivalent is
``blaze_spark.streaming`` session windows.  This is the batch form used by
training-data pipelines (e.g. grouping user events into interaction
sessions before per-session feature extraction).

Plan shape: ONE shuffle.  Both window passes (lag for the gap, running sum
for the session id) share the same ``partitionBy(key).orderBy(order)``
spec, so Catalyst plans a single Exchange + Sort and evaluates both Window
operators over it.  At 100 TB the cost is the one hash-partition on the
session key — the same lower bound any per-key operator has.  Skew note:
one hot key (a bot user) serializes into one task; pre-filter or cap such
keys upstream.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from blaze_spark.core import ColExpr, Table
from blaze_spark.wire import wire_op


def _name(c):
    return c.name if isinstance(c, ColExpr) else c


@wire_op("sessionize", tables=("t",),
         kwargs=("key", "order_by", "gap", "gap_col", "session_col"))
def sessionize(t: Table, key, order_by, gap, gap_col=None,
               session_col: str = "session_id") -> Table:
    """Assign ``session_col`` per row: 0-based session index within ``key``.

    A new session starts when ``gap_col`` (default: ``order_by``) increases
    by MORE than ``gap`` relative to the previous row in ``order_by`` order.
    ``order_by`` must be a deterministic total order within each key (an id
    or exact timestamp) — same requirement the reference's Shift places on
    row order (blaze/expr/collections.py:914-950).
    """
    if isinstance(gap, (bool, str)):
        raise TypeError(f"sessionize: gap must be a number, got {gap!r}")
    k, o = _name(key), _name(order_by)
    g = F.col(_name(gap_col)) if gap_col is not None else F.col(o)
    w = Window.partitionBy(k).orderBy(o)
    new_session = F.when(
        g - F.lag(g).over(w) > F.lit(gap), F.lit(1)).otherwise(F.lit(0))
    run = Window.partitionBy(k).orderBy(o).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return Table(
        t.df.withColumn("__new_s", new_session)
        .withColumn(session_col, F.sum("__new_s").over(run))
        .drop("__new_s"))
