"""Join extensions beyond the reference's equi-join: as-of joins and
skew-salted joins (SURVEY.md §2.3 lists these as engine extensions — the
reference supports only inner/left/right/outer equi-joins).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core import Table
from ..wire import wire_op

__all__ = ["asof_join", "salted_join"]


@wire_op("asof_join", tables=("left", "right"),
         kwargs=("on", "by", "right_cols", "suffix"))
def asof_join(left: Table, right: Table, on: str, by: str,
              right_cols: list[str] | None = None,
              suffix: str = "_right") -> Table:
    """For each left row, attach the most recent right row with
    ``right.on <= left.on`` within the same ``by`` key (DuckDB/ kdb-style
    ASOF JOIN).

    Implementation is the scalable union-window form: tag both inputs,
    union, and carry the last-seen right values forward with
    ``last(..., ignorenulls=True)`` over (by, on) — ONE shuffle on the
    ``by`` key and a sort within partitions, instead of a per-row range
    probe.  At equal timestamps the right row sorts first, so ties match
    (<= semantics).
    """
    rcols = right_cols or [c for c in right.columns if c not in (on, by)]
    lf = left.df.withColumn("__is_left", F.lit(1))
    rf = right.df.select(
        F.col(by), F.col(on),
        *[F.col(c).alias(c + suffix) for c in rcols]
    ).withColumn("__is_left", F.lit(0))

    unioned = lf.unionByName(rf, allowMissingColumns=True)
    w = (Window.partitionBy(by)
         .orderBy(F.col(on).asc(), F.col("__is_left").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = unioned.withColumns({
        c + suffix: F.last(F.col(c + suffix), ignorenulls=True).over(w)
        for c in rcols
    })
    out = filled.filter(F.col("__is_left") == 1).drop("__is_left")
    return Table(out, "asof_join")


# serializable: results equal a plain join whatever the rand() salt
# (the salt only moves rows between reducers)
@wire_op("salted_join", tables=("big", "small"),
         kwargs=("on_left", "on_right", "salt", "how"))
def salted_join(big: Table, small: Table, on_left: str, on_right: str,
                salt: int = 8, how: str = "inner") -> Table:
    """Equi-join resilient to hot keys: the big side gets a random salt in
    [0, salt), the small side is replicated ``salt`` times, and the join key
    becomes (key, salt) — a hot key's rows spread over ``salt`` reducers
    instead of one straggler partition.

    Results are identical to a plain join; use when AQE's skew handling
    isn't available or the skew is extreme.  (AQE skew-join is the
    first-choice knob: spark.sql.adaptive.skewJoin.enabled.)
    """
    bd = big.df.withColumn("__salt", (F.rand(42) * salt).cast("int"))
    sd = small.df.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    joined = bd.join(
        sd,
        (bd[on_left] == sd[on_right]) & (bd["__salt"] == sd["__salt"]),
        how,
    ).drop("__salt")
    if on_left != on_right:
        joined = joined.drop(sd[on_right])
    return Table(joined, "salted_join")
