"""Core expression layer tests — modeled on the reference's canonical
fixtures and assertions (blaze/compute/tests/test_pandas_compute.py,
test_spark.py; SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blaze_spark import by, coalesce, concat, count_values, join, merge, summary
from blaze_spark.core import Table


def rows(t):
    return sorted(tuple(r) for r in t.df.collect())


# -- projection / selection -------------------------------------------------

def test_field_access(t):
    assert t.name.dtype == T.StringType()
    assert rows(t[["name"]]) == [("Alice",), ("Alice",), ("Bob",)]


def test_projection(t):
    p = t[["name", "amount"]]
    assert p.columns == ["name", "amount"]


def test_selection(t):
    assert rows(t[t.amount > 100]) == [("Bob", 200, 2)]


def test_selection_requires_boolean(t):
    with pytest.raises(TypeError):
        t[t.amount + 1]


def test_drop_field(t):
    assert t.drop_field("id").columns == ["name", "amount"]


def test_relabel(t):
    assert t.relabel(name="person").columns == ["person", "amount", "id"]


def test_transform(t):
    t2 = t.transform(double=t.amount * 2)
    assert rows(t2[["double"]]) == [(100,), (200,), (400,)]


# -- arithmetic & promotion ---------------------------------------------------

def test_div_is_float(t):
    # int / int -> float (blaze/expr/arithmetic.py:189-196)
    out = t.transform(r=t.amount / t.id)
    assert dict(out.df.dtypes)["r"] == "double"


def test_floordiv_stays_int(t):
    # int // int keeps integer type (blaze/expr/arithmetic.py:199-210)
    out = t.transform(r=t.amount // 7)
    assert dict(out.df.dtypes)["r"] == "int"
    assert rows(out[["r"]]) == [(7,), (14,), (28,)]


def test_comparison_type_check(t):
    with pytest.raises(TypeError):
        _ = t.amount > t.name


# -- reductions ----------------------------------------------------------------

def test_sum_widens(t):
    assert t.amount.sum().compute() == 350
    assert t.amount.sum().to_table().schema[0].dataType == T.LongType()


def test_mean_var_std_ddof0(t):
    # default biased / ddof=0, NumPy convention (blaze/expr/reductions.py:138-191)
    import numpy as np

    vals = np.array([100, 200, 50])
    assert t.amount.mean().compute() == pytest.approx(vals.mean())
    assert t.amount.var().compute() == pytest.approx(vals.var())
    assert t.amount.std().compute() == pytest.approx(vals.std())
    assert t.amount.var(unbiased=True).compute() == pytest.approx(vals.var(ddof=1))


def test_count_nonnull(spark):
    from blaze_spark import data

    nt = data([("a", 1), ("b", None), ("c", 3)], spark=spark,
              schema="k string, v int")
    assert nt.v.count().compute() == 2  # non-null (reductions.py:194-197)
    assert nt.v.nelements().compute() == 3  # incl. nulls


def test_nunique_any_all(t):
    assert t.name.nunique().compute() == 2
    assert (t.amount > 150).any().compute() is True
    assert (t.amount > 150).all().compute() is False


def test_summary(t):
    out = summary(total=t.amount.sum(), n=t.amount.count()).compute()
    assert out.iloc[0]["total"] == 350
    assert out.iloc[0]["n"] == 3


def test_vnorm(t):
    import numpy as np

    assert t.amount.vnorm(2).compute() == pytest.approx(
        np.linalg.norm([100, 200, 50]))


# -- by / count_values ---------------------------------------------------------

def test_by(t):
    out = by(t.name, total=t.amount.sum())
    assert rows(out) == [("Alice", 150), ("Bob", 200)]


def test_by_expression_grouper(t):
    out = by((t.amount > 100).label("big"), n=t.amount.count())
    assert rows(out) == [(False, 2), (True, 1)]


def test_count_values(t):
    out = count_values(t.name)
    assert rows(out) == [("Alice", 2), ("Bob", 1)]


# -- join ------------------------------------------------------------------------

def test_join_default_keys(t, cities):
    out = join(t, cities)
    # column order: keys, left non-key, right non-key (collections.py:612-687)
    assert out.columns == ["name", "amount", "id", "city"]
    assert rows(out[["name", "city"]]) == [
        ("Alice", "Austin"), ("Alice", "Austin"), ("Bob", "Boston")]


def test_join_left_outer(spark, t):
    from blaze_spark import data

    part = data([("Alice", "x")], spark=spark, schema="name string, tag string")
    out = join(t, part, "name", how="left")
    got = rows(out[["name", "tag"]])
    assert ("Bob", None) in got


def test_join_semi_anti(t, cities):
    semi = join(t, cities[cities.city == "Austin"], "name", how="semi")
    assert {r[0] for r in rows(semi)} == {"Alice"}
    anti = join(t, cities[cities.city == "Austin"], "name", how="anti")
    assert {r[0] for r in rows(anti)} == {"Bob"}


def test_join_suffixes(spark, t):
    from blaze_spark import data

    other = data([("Alice", 1)], spark=spark, schema="name string, amount int")
    out = join(t, other, "name")
    assert out.columns == ["name", "amount_left", "id", "amount_right"]


# -- sort / head / tail / distinct / sample / slice -----------------------------

def test_sort_head(t):
    out = t.sort(t.amount, ascending=False).head(1)
    assert rows(out) == [("Bob", 200, 2)]


def test_tail(t):
    out = t.tail(1, sort_keys="amount")
    assert rows(out) == [("Bob", 200, 2)]


def test_distinct(t):
    assert len(t[["name"]].distinct()) == 2


def test_distinct_on_keep_first(t):
    out = t.distinct(on="name", keep_first_by="id")
    assert rows(out) == [("Alice", 100, 1), ("Bob", 200, 2)]


def test_distinct_keep_last_via_desc_sortkey(t):
    # SortKey .desc() order keys lower to max_by — keep-LAST semantics
    out = t.distinct(on="name", keep_first_by=t.id.desc())
    assert rows(out) == [("Alice", 50, 3), ("Bob", 200, 2)]


def test_distinct_keep_first_rejects_bad_order_keys(t):
    # mixed ascending/descending cannot form one struct comparator
    with pytest.raises(TypeError, match="MIXED sort directions"):
        t.distinct(on="name", keep_first_by=[t.id.asc(), t.amount.desc()])
    # raw Column SortOrder would be an analysis error inside struct —
    # caught up front with a pointer to SortKey
    with pytest.raises(TypeError, match="SortKey"):
        t.distinct(on="name", keep_first_by=F.col("id").desc())


def test_slice(t):
    sliced = t.sort(t.id)[1:3]
    assert len(sliced) == 2


def test_slice_step(spark):
    # reference Slice carries a step (blaze/expr/expressions.py:488-499):
    # t[2:7:2].dshape == "3 * ..."
    df = spark.range(0, 20).withColumnRenamed("id", "n")
    t = Table(df, "nums").sort(F.col("n"))
    assert [r.n for r in t[2:7:2].df.collect()] == [2, 4, 6]
    assert [r.n for r in t[0:10:3].df.collect()] == [0, 3, 6, 9]
    assert [r.n for r in t[15::2].df.collect()] == [15, 17, 19]
    assert len(t[1:3:1]) == 2  # step=1 is the plain slice path


def test_slice_negative_step_raises(t):
    with pytest.raises(ValueError, match="step"):
        t[::-1]


def test_sample(t):
    assert len(t.sample(n=2)) == 2
    assert 0 <= len(t.sample(frac=0.5, seed=1)) <= 3


# -- concat / isin / coalesce ----------------------------------------------------

def test_concat(t):
    assert len(concat(t, t)) == 6


def test_isin(t):
    assert len(t[t.name.isin(["Bob"])]) == 1


def test_coalesce(spark):
    from blaze_spark import data

    nt = data([(None, 1), ("b", 2)], spark=spark, schema="k string, v int")
    out = nt.transform(k2=coalesce(nt.k, nt.v.coerce("string")))
    assert rows(out[["k2"]]) == [("1",), ("b",)]


# -- merge / shift -----------------------------------------------------------------

def test_merge(t):
    out = merge(t.name, z=t.amount + t.id)
    assert out.columns == ["name", "z"]


def test_shift(t):
    out = t.transform(prev=t.amount.shift(1, order_by=t.id))
    assert rows(out[["id", "prev"]]) == [(1, None), (2, 100), (3, 200)]


# -- map / apply -------------------------------------------------------------------

def test_map_pandas_udf(t):
    out = t.transform(m=t.amount.map(lambda x: x * 2 + 1, "int64"))
    assert rows(out[["m"]]) == [(101,), (201,), (401,)]


def test_apply_mapinpandas(t):
    out = t.apply(lambda pdf: pdf[pdf.amount > 60][["name"]],
                  schema="name string")
    assert {r[0] for r in rows(out)} == {"Alice", "Bob"}


# -- interactive --------------------------------------------------------------------

def test_len_and_peek(t):
    assert len(t) == 3
    assert len(t.peek(2)) == 2


def test_dshape_repr(t):
    assert "name: string" in t.dshape


def test_interactive_repr_auto_peeks(t, spark):
    """Reference parity (blaze/interactive.py:35-141): repr computes a
    LIMITED head and renders via pandas; >10 rows get a '...' marker."""
    from blaze_spark import data, set_interactive_repr

    s = repr(t)
    assert "Alice" in s and "Bob" in s  # actual data, not the schema line
    assert "..." not in s  # only 3 rows

    big = data([(i,) for i in range(25)], spark=spark, schema="n int")
    sb = repr(big)
    assert sb.rstrip().endswith("...")  # truncated at head(11)
    assert "24" not in sb  # the tail row was never rendered

    try:
        set_interactive_repr(False)
        assert repr(t).startswith("<Table")  # schema-line fallback
    finally:
        set_interactive_repr(True)


def test_string_repeat_operator(t):
    out = t.transform(r=t.name * 2)
    assert ("BobBob",) in {tuple(r) for r in rows(out[["r"]])}


def test_string_interp_operator(spark):
    from blaze_spark import data

    ft = data([("x=%d",), ("val: %s",)], spark=spark, schema="fmt string")
    out = ft.transform(s=ft.fmt % 7)
    assert {r[0] for r in rows(out[["s"]])} == {"x=7", "val: 7"}


def test_table_iter(t):
    names = sorted(r.name for r in t)
    assert names == ["Alice", "Alice", "Bob"]


def test_create_index_documented_unsupported(t):
    with pytest.raises(NotImplementedError):
        t.create_index("name")


def test_join_full_outer(spark, t):
    from blaze_spark import data, join

    other = data([("Bob", "B"), ("Carol", "C")], spark=spark,
                 schema="name string, tag string")
    out = join(t, other, "name", how="outer")
    names = {r[0] for r in rows(out[["name"]])}
    assert names == {"Alice", "Bob", "Carol"}  # both unmatched sides survive


def test_intersect_except(t, cities):
    a = t[["name"]].distinct()
    b = cities[cities.city == "Austin"][["name"]]
    assert rows(a.intersect(b)) == [("Alice",)]
    assert rows(a.except_(b)) == [("Bob",)]


def test_udaf_grouped_agg(t):
    import numpy as np

    from blaze_spark.core import udaf

    geomean = udaf(lambda s: float(np.exp(np.log(s).mean())), "float64")
    out = by(t.name, gm=geomean(t.amount))
    got = {r.name: r.gm for r in out.df.collect()}
    assert got["Alice"] == pytest.approx(np.exp((np.log(100) + np.log(50)) / 2))
    assert got["Bob"] == pytest.approx(200.0)


def test_sql_interface(t):
    from blaze_spark.interop import sql

    out = sql("SELECT name, sum(amount) AS total FROM tt GROUP BY name",
              tt=t)
    assert rows(out) == [("Alice", 150), ("Bob", 200)]


def test_window_helpers(t):
    from blaze_spark.functions import window as W

    out = t.transform(
        cs=W.cumsum(t.amount, order_by=t.id),
        rn=W.row_number(t, order_by=t.id),
        rm=W.rolling_mean(t.amount, order_by=t.id, window_rows=2),
    )
    got = rows(out[["id", "cs", "rn", "rm"]])
    assert got == [(1, 100, 1, 100.0), (2, 300, 2, 150.0), (3, 350, 3, 125.0)]


def test_float_floordiv_stays_float(spark):
    from blaze_spark import data

    ft = data([(7.5,), (-7.5,)], spark=spark, schema="x double")
    out = ft.transform(r=ft.x // 2)
    assert dict(out.df.dtypes)["r"] == "double"
    assert rows(out[["r"]]) == [(-4.0,), (3.0,)]


def test_join_right_nonkey_collides_with_key_name(spark):
    from blaze_spark import data, join

    l = data([(1, "x")], spark=spark, schema="a int, c string")
    r = data([("x", 9)], spark=spark, schema="b string, a int")
    out = join(l, r, "a", "a")
    assert out.columns == ["a", "c", "b"]
    l2 = data([(1, "x")], spark=spark, schema="a int, c string")
    r2 = data([("x", 9)], spark=spark, schema="c string, a int")
    out2 = join(l2, r2, "c", "c")
    assert out2.columns == ["c", "a_left", "a_right"]


def test_by_multikey_tbig(spark):
    """Reference canonical tbig fixture: multi-key grouping
    (blaze/compute/tests/test_pandas_compute.py:38-46)."""
    from blaze_spark import by, data

    tbig = data(
        [("Alice", "F", 100, 1), ("Alice", "F", 100, 3),
         ("Drew", "F", 100, 4), ("Drew", "M", 100, 5),
         ("Drew", "M", 200, 5)],
        spark=spark, schema="name string, sex string, amount int, id int",
        name="tbig")
    out = by([tbig.name, tbig.sex], total=tbig.amount.sum())
    got = {(r.name, r.sex): r.total for r in out.df.collect()}
    assert got == {("Alice", "F"): 200, ("Drew", "F"): 100,
                   ("Drew", "M"): 300}


def test_sample_by_stratified(star):
    s = star["customer"].sample_by(
        "c_mktsegment", {"BUILDING": 1.0, "MACHINERY": 0.0}, seed=7)
    segs = {r.c_mktsegment for r in s[["c_mktsegment"]].distinct().df.collect()}
    assert "MACHINERY" not in segs
    assert "BUILDING" in segs


def test_pivot_wide(spark):
    from blaze_spark import data

    t = data(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0), ("a", "x", 4.0)],
        spark=spark, schema="k string, p string, v double", name="pv")
    out = t.pivot("k", "p", ["x", "y"], n=t.v.count(), total=t.v.sum())
    rows = {r.k: r for r in out.df.collect()}
    assert rows["a"].n_x == 2 and rows["a"].total_x == 5.0
    assert rows["a"].n_y == 1 and rows["a"].total_y == 2.0
    assert rows["b"].n_y is None  # absent cell -> null
    assert sorted(out.fields) == ["k", "n_x", "n_y", "total_x", "total_y"]


def test_unpivot_melt(spark):
    from blaze_spark import data

    t = data([(1, 10, 1.5), (2, 20, 2.5)], spark=spark,
             schema="id int, a int, b double", name="up")
    out = t.unpivot("id", ["a", "b"], "m", "val")
    got = {(r.id, r.m): r.val for r in out.df.collect()}
    assert got == {(1, "a"): 10.0, (1, "b"): 1.5,
                   (2, "a"): 20.0, (2, "b"): 2.5}


def test_explode_pos_outer(spark):
    from blaze_spark import data

    t = data([(1, [10, 20]), (2, [])], spark=spark,
             schema="id int, xs array<int>", name="ex")
    inner = t.explode("xs", alias="x", pos="i")
    assert [(r.id, r.i, r.x) for r in inner.sort("id", "i").df.collect()] \
        == [(1, 0, 10), (1, 1, 20)]
    outer = t.explode("xs", alias="x", pos="i", outer=True)
    assert (2, None, None) in [(r.id, r.i, r.x) for r in outer.df.collect()]


def test_sessionize_gaps(spark):
    from blaze_spark import data
    from blaze_spark.operators.sessionize import sessionize

    t = data([("u", 1), ("u", 2), ("u", 100), ("u", 101), ("v", 5)],
             spark=spark, schema="k string, seq long", name="sess")
    out = sessionize(t, "k", "seq", gap=10)
    got = {(r.k, r.seq): r.session_id for r in out.df.collect()}
    assert got == {("u", 1): 0, ("u", 2): 0, ("u", 100): 1,
                   ("u", 101): 1, ("v", 5): 0}


def test_grouping_sets(spark):
    from blaze_spark import data, grouping_sets

    t = data([("a", "x", 1), ("a", "y", 2), ("b", "x", 4)],
             spark=spark, schema="k string, p string, v int", name="gs")
    out = grouping_sets([[t.k, t.p], [t.k], []], total=t.v.sum())
    got = {(r.k, r.p): r.total for r in out.df.collect()}
    assert got[("a", "x")] == 1 and got[("a", "y")] == 2
    assert got[("a", None)] == 3 and got[("b", None)] == 4
    assert got[(None, None)] == 7


def test_rolling_range_frame(spark):
    from blaze_spark import data
    from blaze_spark.functions import window as W

    t = data([(1, 10.0), (5, 20.0), (100, 40.0)],
             spark=spark, schema="seq long, v double", name="rr")
    rs = W.rolling_range(t.v, "sum", order_by=t.seq, lower=-10, upper=0)
    got = {r.seq: r.s for r in t.transform(s=rs.col).df.collect()}
    assert got == {1: 10.0, 5: 30.0, 100: 40.0}


def test_sort_mixed_directions(spark):
    from blaze_spark import data

    t = data([("a", 1), ("a", 2), ("b", 1)], spark=spark,
             schema="k string, v int", name="srt")
    rows = [(r.k, r.v) for r in t.sort(("k", "desc"), "v").df.collect()]
    assert rows == [("b", 1), ("a", 1), ("a", 2)]
    rows = [(r.k, r.v)
            for r in t.sort("k", "v", ascending=[True, False]).df.collect()]
    assert rows == [("a", 2), ("a", 1), ("b", 1)]


def test_tail_mixed_directions(spark):
    from blaze_spark import data

    t = data([("a", 1), ("a", 2), ("b", 1), ("b", 3)], spark=spark,
             schema="k string, v int", name="tl")
    out = [(r.k, r.v) for r in
           t.tail(2, sort_keys=["k", "v"],
                  ascending=[True, False]).df.collect()]
    # full order under (k asc, v desc): (a,2),(a,1),(b,3),(b,1) -> last 2
    assert out == [("b", 3), ("b", 1)]


def test_sort_nulls_last_pandas_semantics(spark):
    from blaze_spark import data

    t = data([(1.0,), (None,), (0.5,)], spark=spark,
             schema="v double", name="nl")
    assert [r.v for r in t.sort("v").df.collect()] == [0.5, 1.0, None]
    assert [r.v for r in t.sort("v", ascending=False).df.collect()] \
        == [1.0, 0.5, None]
    assert [r.v for r in
            t.sort("v", na_position="first").df.collect()] \
        == [None, 0.5, 1.0]


# -- cross join (ADVICE r1: must be a real Cartesian product) ----------------

def test_cross_join_is_cartesian(t, cities):
    # 3 x 2 rows -> 6, even though both tables share the `name` column
    out = join(t, cities, how="cross")
    assert out.df.count() == 6
    # shared column suffixed on both sides, nothing silently equi-joined
    assert "name_left" in out.columns and "name_right" in out.columns


def test_cross_join_rejects_keys(t, cities):
    with pytest.raises(ValueError):
        join(t, cities, on_left="name", how="cross")


# -- quoted join projection ----------------------------------------------------

_ODD_NAMES = {"k": "k.id", "a": "a b", "b": "b`c", "v": "v.w x`y"}


@pytest.mark.parametrize("how", ["inner", "left", "right", "outer", "full",
                                 "semi", "anti", "cross"])
def test_join_odd_column_names(spark, how):
    """Names with a dot, a space or a backtick (the join key dotted) join
    as plain names do: the same output names under the same renaming,
    suffixes included, and the same types, nullability and rows."""
    from blaze_spark import data

    def joined(name):
        def table(rows, cols):
            return data(rows, spark=spark, schema=T.StructType(
                [T.StructField(name(c), t) for c, t in cols]))

        lhs = table([(1, "x", 10), (2, "y", 20), (3, None, 30)],
                    [("k", T.LongType()), ("a", T.StringType()),
                     ("v", T.LongType())])
        rhs = table([(1, "p", 100), (2, "q", 200), (4, "r", 400)],
                    [("k", T.LongType()), ("b", T.StringType()),
                     ("v", T.LongType())])
        keys = {} if how == "cross" else {"on_left": name("k")}
        return join(lhs, rhs, how=how, **keys)

    plain, odd = joined(lambda c: c), joined(_ODD_NAMES.get)
    renamed = [_ODD_NAMES[c[0]] + c[1:] for c in plain.columns]
    assert odd.columns == renamed
    assert [(f.dataType, f.nullable) for f in odd.schema.fields] == \
        [(f.dataType, f.nullable) for f in plain.schema.fields]
    assert sorted(map(tuple, odd.df.collect()), key=repr) == \
        sorted(map(tuple, plain.df.collect()), key=repr)


@pytest.mark.parametrize("how", ["inner", "outer", "cross"])
def test_join_construction_is_constant_round_trips(spark, how,
                                                   gateway_commands):
    """Building a join of two 40-column tables sends a bounded number of
    py4j commands: its projection and condition are SQL text, not a
    Column-API call (several round trips each) per output column."""
    from blaze_spark import data

    def wide(prefix):
        return data(spark.range(5).selectExpr(
            "id AS k", *[f"id + {i} AS {prefix}{i}" for i in range(39)]))

    lhs, rhs = wide("a"), wide("b")
    keys = {} if how == "cross" else {"on_left": "k"}
    with gateway_commands() as sent:
        out = join(lhs, rhs, how=how, **keys)
    assert sent.count <= 200, sent.count
    assert len(out.columns) == (80 if how == "cross" else 79)


# -- engine-level SortKey (replaces Column-repr sniffing) --------------------

def test_sortkey_desc(t):
    out = t.sort(t.amount.desc())
    assert [r["amount"] for r in out.df.collect()] == [200, 100, 50]


def test_sortkey_mixed_directions(t):
    out = t.sort(t.name.asc(), t.amount.desc())
    assert [(r["name"], r["amount"]) for r in out.df.collect()] == [
        ("Alice", 100), ("Alice", 50), ("Bob", 200)]


def test_sort_raw_sortorder_column_still_works(t):
    from pyspark.sql import functions as F

    out = t.sort(F.col("amount").desc())
    assert [r["amount"] for r in out.df.collect()] == [200, 100, 50]


# -- shared-ancestor validation (blaze/expr/expressions.py:518-571) ----------

def test_selection_rejects_foreign_predicate(t, cities):
    with pytest.raises(TypeError, match="different table"):
        t[cities.name == "Alice"]


def test_selection_allows_ancestor_predicate(t):
    t2 = t.transform(double=t.amount * 2)
    # predicate built on the parent table still applies (shared ancestor)
    assert t2[t.amount > 100].df.count() == 1


def test_selection_allows_join_descendant(t, cities):
    j = join(t, cities, on_left="name")
    assert j[t.amount > 100].df.count() == 1


def test_merge_rejects_foreign_column(t, cities):
    with pytest.raises(TypeError, match="ancestor"):
        merge(t.amount, cities.city)


# -- udaf with non-numeric result dtype (VERDICT r1 What's-wrong #6) ---------

def test_udaf_string_result(t):
    from blaze_spark.core import udaf

    longest = udaf(lambda s: max(s, key=len), "string")
    out = by(t.id.label("id"), big=longest(t.name))
    assert dict(out.df.dtypes)["big"] == "string"
    assert sorted(r["big"] for r in out.df.collect()) == ["Alice", "Alice", "Bob"]


# -- cast vs coerce (blaze/expr/expressions.py:794-853) ----------------------

def test_cast_is_metadata_only(t):
    from blaze_spark.plans import physical_plan

    c = t.amount.cast("int8")
    assert c.dtype == T.ByteType()      # engine metadata re-declared
    q = t.transform(y=c)
    plan = physical_plan(q)
    assert "cast(" not in plan.lower(), plan   # no runtime conversion
    # values untouched (still the int32 data)
    assert sorted(r.y for r in q.df.collect()) == [50, 100, 200]


def test_coerce_adds_runtime_cast(t):
    from blaze_spark.plans import physical_plan

    q = t.transform(y=t.amount.coerce("double"))
    assert "cast(" in physical_plan(q).lower()
    assert dict(q.df.dtypes)["y"] == "double"


def test_isin_large_set_lowers_to_semi_join(spark, monkeypatch):
    """Above _ISIN_SEMI_THRESHOLD, a direct isin selection becomes a
    broadcast LEFT SEMI join (reference flags the In-literal cliff,
    SURVEY §2.3) with identical semantics."""
    from blaze_spark import core, data

    t = data([(i, f"n{i}") for i in range(50)], spark=spark,
             schema="id long, name string")
    monkeypatch.setattr(core, "_ISIN_SEMI_THRESHOLD", 10)
    big = [int(i) for i in range(0, 100, 2)]  # 50 values > threshold
    sel = t[t.id.isin(big)]
    plan = sel.df._jdf.queryExecution().toString()
    assert "LeftSemi" in plan, plan
    assert sorted(r.id for r in sel.df.collect()) == list(range(0, 50, 2))
    # below threshold stays a plain In filter — no join in the plan
    small = t[t.id.isin([1, 2, 3])]
    assert "LeftSemi" not in small.df._jdf.queryExecution().toString()
    assert len(small) == 3


def test_isin_large_set_composes_correctly(spark, monkeypatch):
    """A large isin composed with another predicate keeps the compact
    array_contains form and still filters correctly."""
    from blaze_spark import core, data

    t = data([(i, i % 2) for i in range(20)], spark=spark,
             schema="id long, par long")
    monkeypatch.setattr(core, "_ISIN_SEMI_THRESHOLD", 5)
    pred = t.id.isin(list(range(0, 20, 2))) & (t.par == 0)
    out = t[pred]
    assert sorted(r.id for r in out.df.collect()) == list(range(0, 20, 2))


def test_isin_large_set_literal_is_lazy(spark, monkeypatch):
    """The array-literal column form of a large isin is built lazily and
    in one JVM call: the direct-selection (semi-join) path must never
    construct it (ADVICE r5 — per-value F.lit costs ~27 s at 50k)."""
    from blaze_spark import core, data
    from blaze_spark.core import _LazyCol

    t = data([(i,) for i in range(30)], spark=spark, schema="id long")
    monkeypatch.setattr(core, "_ISIN_SEMI_THRESHOLD", 10)
    pred = t.id.isin(list(range(0, 60, 2)))
    assert isinstance(pred._ColExpr__col, _LazyCol)
    sel = t[pred]  # semi-join path discards the column form
    assert isinstance(pred._ColExpr__col, _LazyCol), \
        "selection path must not force the array literal"
    assert sorted(r.id for r in sel.df.collect()) == list(range(0, 30, 2))
    # forcing the column (composition) builds via ONE from_json literal
    composed = t[pred & (t.id < 10)]
    assert sorted(r.id for r in composed.df.collect()) == [0, 2, 4, 6, 8]


def test_bulk_array_lit_types(spark):
    from blaze_spark.core import _bulk_array_lit

    df = spark.range(1)
    strs = df.select(_bulk_array_lit(["a", "b"]).alias("v")).first()[0]
    assert strs == ["a", "b"]
    mixed = df.select(_bulk_array_lit([1, 2.5]).alias("v")).first()[0]
    assert mixed == [1.0, 2.5]
    import datetime as dt
    dates = df.select(
        _bulk_array_lit([dt.date(2024, 1, 2)]).alias("v")).first()[0]
    assert dates == [dt.date(2024, 1, 2)]


def test_dir_lists_columns(t):
    """Tab-completion parity (reference Expr.__dir__): column names that
    are valid identifiers appear in dir(table)."""
    d = dir(t)
    assert "amount" in d and "name" in d
    assert "sort" in d  # regular methods still listed


def test_column_1d_collection_ops(t):
    """Reference parity: every expression is a collection — 1-D selection,
    head, distinct, sort on a column (Field[Selection],
    blaze/expr/expressions.py:518-571; collections head/distinct/sort)."""
    assert sorted(t.amount[t.amount > 75].compute().amount) == [100, 200]
    assert int(t.amount[t.amount > 75].count()) == 2
    assert t.amount.sort().compute().amount.tolist() == [50, 100, 200]
    assert sorted(t.name.distinct().compute().name) == ["Alice", "Bob"]
    assert t.amount.distinct().sort().head(2).compute().amount.tolist() == [50, 100]
    with pytest.raises(TypeError, match="boolean ColExpr"):
        t.amount[0]
    with pytest.raises(TypeError, match="iteration"):
        iter(t.amount)


def test_reduction_scalar_algebra(t):
    """Reductions compose into scalar expressions — one aggregation pass
    (reference: 0-D exprs with arithmetic, blaze/expr/reductions.py)."""
    assert int(t.amount.sum() + 1) == 351
    assert float(t.amount.sum() / t.amount.count()) == pytest.approx(350 / 3)
    assert int(1000 - t.amount.sum()) == 650
    assert int(-(-t.amount.sum())) == 350
    assert int(2 * t.amount.max()) == 400
    # different underlying plans refuse to combine
    other = t[t.amount > 75]
    with pytest.raises(TypeError, match="different tables"):
        t.amount.sum() + other.amount.sum()


def test_negative_slice_raises(t):
    with pytest.raises(ValueError, match="negative slice"):
        t[-2:]


def test_scalar_algebra_inside_by(t):
    """Combined reductions are first-class aggregates — usable as by()
    entries (manual per-group mean stays one agg pass)."""
    from blaze_spark import by

    out = {r[0]: r[1] for r in by(
        t.name, avg_manual=t.amount.sum() / t.amount.count()).df.collect()}
    assert out["Alice"] == pytest.approx(75.0)
    assert out["Bob"] == pytest.approx(200.0)


def test_is_sort_order_connect_branch():
    """The Spark Connect branch of _is_sort_order (no _jc, expression on
    ._expr) — exercised with a stub, since this environment has no
    Connect server (documented in OPERATORS.md 'Connect fallbacks')."""
    from blaze_spark.core import _is_sort_order

    class SortOrder:  # stands in for pyspark.sql.connect SortOrder node
        pass

    class NotSort:
        pass

    class FakeCol:
        def __init__(self, expr):
            self._expr = expr  # no _jc attribute -> Connect path

    assert _is_sort_order(FakeCol(SortOrder())) is True
    assert _is_sort_order(FakeCol(NotSort())) is False
    # neither _jc nor _expr -> conservatively False
    class Bare:
        pass

    assert _is_sort_order(Bare()) is False


def test_shape_ndim_dshape_parity(t):
    """Reference Expr.shape/ndim (blaze/expr/expressions.py:733-739,
    945-980): tabular collections are 1-D with a symbolic var leading
    dimension; len() materializes it."""
    assert t.ndim == 1
    assert t.shape == ("var",)
    assert t.columns == t.fields
    assert t.amount.ndim == 1
    assert t.amount.shape == ("var",)
    assert t.amount.dshape == "var * int"
    assert len(t) == 3


def test_large_isin_rejects_unrepresentable_values(t):
    """from_json nulls the WHOLE array literal if one element cannot
    parse; the engine must fail loudly at construction instead of
    silently matching nothing."""
    import pytest as _pytest

    big = list(range(20_000))
    pred = t.amount.isin(big + [2 ** 70])   # > int64
    with _pytest.raises(TypeError, match="homogeneous"):
        _ = (pred & (t.amount > 0)).col     # composing forces the literal
    pred2 = t.amount.isin(big + [True])     # stray bool in an int list
    with _pytest.raises(TypeError, match="homogeneous"):
        _ = (pred2 & (t.amount > 0)).col


def test_keep_first_by_rejects_na_position(t):
    import pytest as _pytest

    with _pytest.raises(TypeError, match="na_position"):
        t.distinct(on=["name"],
                   keep_first_by=[t.amount.desc(na_position="first")])


def test_hash_sample_deterministic_and_key_consistent(spark, sf_dir):
    from blaze_spark import data

    o = data(f"{sf_dir}/orders.parquet", spark=spark, name="orders")
    s1 = {r.o_orderkey for r in
          o.hash_sample(0.2, on="o_orderkey").df.select("o_orderkey").collect()}
    s2 = {r.o_orderkey for r in
          o.hash_sample(0.2, on="o_orderkey").df.select("o_orderkey").collect()}
    assert s1 == s2 and len(s1) > 0          # reproducible
    n = o.df.count()
    assert abs(len(s1) / n - 0.2) < 0.08     # ~frac of rows
    # key-consistency: every lineitem row of a sampled order survives
    li = data(f"{sf_dir}/lineitem.parquet", spark=spark, name="lineitem")
    kept_li = li.hash_sample(0.2, on="l_orderkey").df
    keys = {r.l_orderkey for r in kept_li.select("l_orderkey").distinct().collect()}
    all_of_kept = li.df.filter(li.df.l_orderkey.isin(list(keys))).count()
    assert kept_li.count() == all_of_kept
    # different salt -> different subset
    s3 = {r.o_orderkey for r in
          o.hash_sample(0.2, on="o_orderkey", salt=7).df
          .select("o_orderkey").collect()}
    assert s3 != s1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        o.hash_sample(1.5, on="o_orderkey")


def test_hash_sample_null_keys_form_a_group(spark):
    """NULL keys are a key GROUP (kept or dropped together via a
    sentinel), never silently dropped as md5(NULL)."""
    from blaze_spark import data

    rows = [(i,) for i in range(100)] + [(None,)] * 10
    t = data(rows, spark=spark, schema="k bigint", name="nk")
    kept_hi = t.hash_sample(0.99, on="k").df
    kept_lo = t.hash_sample(0.01, on="k").df
    n_null_hi = kept_hi.filter("k IS NULL").count()
    n_null_lo = kept_lo.filter("k IS NULL").count()
    # all-or-nothing per frac, and at 0.99 the null group is ~surely kept
    assert n_null_hi in (0, 10) and n_null_lo in (0, 10)
    assert n_null_hi == 10


def test_sort_list_argument_is_key_list(spark, star):
    """r7 fuzz catch: sort(["a", "b"]) (the pandas sort_values idiom)
    must sort by those keys — previously the list fell through to
    F.lit(<list>), a CONSTANT key that silently did not sort at all."""
    o = star["orders"]
    a = o.sort("o_totalprice", "o_orderkey").head(5).compute()
    b = o.sort(["o_totalprice", "o_orderkey"]).head(5).compute()
    assert a.o_orderkey.tolist() == b.o_orderkey.tolist()
    assert b.o_totalprice.is_monotonic_increasing
    # the list form serializes to the tree dialect like the varargs form
    assert o.sort(["o_totalprice", "o_orderkey"])._tree is not None

    # a (key, 'desc') tuple is still a direction pair, not a key list
    d = o.sort(("o_totalprice", "desc")).head(3).compute()
    assert d.o_totalprice.is_monotonic_decreasing

    import pytest as _pytest
    with _pytest.raises(TypeError, match="sort key"):
        o.sort(123)
