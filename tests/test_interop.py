"""Interop tests: JSON expression-tree evaluation (server /compute parity)
and the CachedDataset analogue."""

from __future__ import annotations

import pytest

from blaze_spark import by
from blaze_spark.interop import CachedTable, compute_tree, from_tree


def test_tree_selection_projection(t):
    tree = {"op": "projection",
            "args": [{"op": "selection",
                      "args": [{"op": "symbol", "args": ["t"]},
                               {"op": "gt", "args": [
                                   {"op": "field", "args": ["amount"]}, 75]}]},
                     ["name", "amount"]]}
    out = compute_tree(tree, datasets={"t": t})
    assert sorted(out.name) == ["Alice", "Bob"]


def test_tree_by(t):
    tree = {"op": "by",
            "args": [{"op": "symbol", "args": ["t"]},
                     [["name", {"op": "field", "args": ["name"]}]],
                     {"total": {"op": "sum",
                                "args": [{"op": "field", "args": ["amount"]}]}}]}
    out = compute_tree(tree, datasets={"t": t})
    got = dict(zip(out.name, out.total))
    assert got == {"Alice": 150, "Bob": 200}


def test_tree_matches_direct_api(t):
    tree = {"op": "by",
            "args": [{"op": "symbol", "args": ["t"]},
                     [["name", {"op": "field", "args": ["name"]}]],
                     {"mx": {"op": "max",
                             "args": [{"op": "field", "args": ["amount"]}]}}]}
    via_tree = compute_tree(tree, datasets={"t": t}).sort_values("name")
    direct = by(t.name, mx=t.amount.max()).compute().sort_values("name")
    assert via_tree.reset_index(drop=True).equals(direct.reset_index(drop=True))


def test_tree_data_leaf(spark, sf_dir):
    tree = {"op": "head",
            "args": [{"op": "data", "args": [f"{sf_dir}/region.parquet"]}, 3]}
    out = compute_tree(tree, spark=spark)
    assert len(out) == 3


def test_tree_rejects_unknown_ops(t):
    # whitelist hardening: unknown ops never resolve to callables
    with pytest.raises(ValueError):
        from_tree({"op": "__import__", "args": [{"op": "symbol", "args": ["t"]}]},
                  datasets={"t": t})
    with pytest.raises(ValueError):
        from_tree({"op": "selection",
                   "args": [{"op": "symbol", "args": ["t"]},
                            {"op": "eval", "args": ["1"]}]},
                  datasets={"t": t})


def test_tree_unknown_dataset(t):
    with pytest.raises(KeyError):
        from_tree({"op": "symbol", "args": ["nope"]}, datasets={"t": t})


def test_cached_table(t):
    cache = CachedTable()
    a = cache.compute(t[t.amount > 75])
    b = cache.compute(t[t.amount > 75])  # identical plan -> memo hit
    assert len(cache) == 1
    assert a is b
    cache.compute(t[t.amount > 100])
    assert len(cache) == 2


def test_cached_table_confirms_hits_with_same_semantics(t, monkeypatch):
    """A semanticHash collision is a miss, not another plan's rows:
    hits are confirmed with sameSemantics (the cached.ExprCache rule)."""
    cache = CachedTable()
    monkeypatch.setattr(type(t.df), "semanticHash", lambda self: 7)
    a = cache.compute(t[t.amount > 75])
    b = cache.compute(t[t.amount > 100])
    assert len(a) == 2
    assert len(b) != len(a)
    assert b.equals(t[t.amount > 100].compute())


def test_cached_table_entry_cap_not_memoized(t):
    """VERDICT r5 #5: a result larger than max_entry_bytes is returned
    but never stored — the driver memo cannot grow past its caps."""
    cache = CachedTable(max_entry_bytes=1)  # everything is "too big"
    a = cache.compute(t[t.amount > 75])
    assert len(a) == 2 and len(cache) == 0
    b = cache.compute(t[t.amount > 75])
    assert b is not a  # recomputed, not memoized


def test_cached_table_lru_eviction(t):
    """Total-bytes cap evicts least-recently-used entries."""
    probe = CachedTable()
    size = probe._sizeof(probe.compute(t[t.amount > 75]))
    assert size > 0
    # room for about two results, generously under three
    cache = CachedTable(max_total_bytes=int(size * 2.5))
    q1, q2, q3 = t[t.amount > 75], t[t.amount > 100], t[t.amount > 0]
    cache.compute(q1)
    cache.compute(q2)
    cache.compute(q1)      # refresh q1 -> q2 is now LRU
    cache.compute(q3)      # over cap -> evicts q2
    assert len(cache) == 2
    keys = set(cache._memo)
    assert q1.df.semanticHash() in keys and q3.df.semanticHash() in keys


def test_to_tree_roundtrip(spark, sf_dir):
    from blaze_spark import data
    from blaze_spark.interop import from_tree, to_tree

    o = data(f"{sf_dir}/orders.parquet", spark=spark)
    q = o[o.o_totalprice > 400000.0][["o_orderkey", "o_orderstatus"]] \
        .sort("o_orderkey").head(5)
    tree = to_tree(q)
    assert tree["op"] == "head"
    rebuilt = from_tree(tree, spark=spark)
    a = q.compute().reset_index(drop=True)
    b = rebuilt.compute().reset_index(drop=True)
    assert a.equals(b)


def test_to_tree_unserializable_raises(spark, sf_dir):
    from blaze_spark import data
    from blaze_spark.interop import to_tree

    o = data(f"{sf_dir}/orders.parquet", spark=spark)
    s = o.sample(frac=0.5)  # UNSEEDED sample has no stable wire meaning
    with pytest.raises(ValueError):
        to_tree(s)
    # seeded sample serializes (reference to_tree carries Sample, r8)
    assert to_tree(o.sample(frac=0.5, seed=1))["op"] == "sample"
    assert to_tree(o.sample_by("o_orderstatus", {"O": 0.5}, seed=7))[
        "op"] == "sample_by"
    assert to_tree(
        __import__("blaze_spark").summary(
            p90=o.o_totalprice.percentile(0.9)))["op"] == "summary"


def _roundtrip_equal(q, spark):
    from blaze_spark.interop import from_tree, to_tree

    tree = to_tree(q)
    import json
    json.dumps(tree)  # must be pure-JSON serializable (wire format)
    rebuilt = from_tree(tree, spark=spark)
    a = q.compute().reset_index(drop=True)
    b = rebuilt.compute().reset_index(drop=True)
    a = a.sort_values(list(a.columns)).reset_index(drop=True)
    b = b.sort_values(list(b.columns)).reset_index(drop=True)
    assert a.equals(b), f"\n{a}\nvs\n{b}"
    return tree


def test_to_tree_fk_autojoin_roundtrip(spark, sf_dir):
    """r9: with_fk/auto_join record dialect nodes (the reference's
    Field-through-Map lowering, blaze/compute/sql.py:272-276) — the tree
    is pure JSON (the ref table embeds as a subtree) and the rebuilt
    expression computes the identical hop.  var/std carry ddof."""
    from blaze_spark import data

    c = data(f"{sf_dir}/customer.parquet", spark=spark, name="customer")
    n = data(f"{sf_dir}/nation.parquet", spark=spark, name="nation")
    q = c.with_fk("c_nationkey", n, "n_nationkey") \
         .auto_join("c_nationkey.n_name")
    tree = _roundtrip_equal(q, spark)
    assert tree["op"] == "auto_join"
    assert tree["args"][0]["op"] == "with_fk"

    # ddof=1 serializes as a DISTINCT op (pre-r9 servers fail loud)
    assert c.c_acctbal.var(unbiased=True)._tree["op"] == "var_samp"
    assert c.c_acctbal.std(unbiased=True)._tree["op"] == "std_samp"
    assert c.c_acctbal.var()._tree["op"] == "var"
    # and the retired early-r9 flag form is REJECTED, never silently
    # replayed as ddof=0
    from blaze_spark.interop import from_tree
    stale = {"op": "summary", "args": [
        {"op": "symbol", "args": ["customer"]},
        {"v": {"op": "var", "unbiased": True,
               "args": [{"op": "field", "args": ["c_acctbal"]}]}}]}
    with pytest.raises(ValueError, match="retired"):
        from_tree(stale, datasets={"customer": c})

    # a transform BETWEEN the registration and the hop must not drop
    # the FK registry on replay (r9 review: from_tree's transform built
    # a bare Table, so this chain 500'd server-side while computing
    # fine locally)
    f = c.with_fk("c_nationkey", n, "n_nationkey")
    q2 = f.transform(bal2=f.c_acctbal * 2).auto_join("c_nationkey.n_name")
    tree2 = _roundtrip_equal(q2, spark)
    assert tree2["args"][0]["op"] == "transform"


def test_to_tree_by_roundtrip(spark, sf_dir):
    """by/summary/reductions now record their dialect form (ROADMAP r1 #3:
    server round-trip parity beyond the projection/selection chain)."""
    from blaze_spark import by, data

    o = data(f"{sf_dir}/orders.parquet", spark=spark)
    q = by(o.o_orderstatus, n=o.o_orderkey.nelements(),
           total=o.o_totalprice.sum(), hi=o.o_totalprice.max())
    tree = _roundtrip_equal(q, spark)
    assert tree["op"] == "by"


def test_to_tree_summary_roundtrip(spark, sf_dir):
    from blaze_spark import data, summary

    o = data(f"{sf_dir}/orders.parquet", spark=spark)
    q = summary(n=o.o_orderkey.count(), avg=o.o_totalprice.mean())
    assert _roundtrip_equal(q, spark)["op"] == "summary"


def test_to_tree_distinct_relabel_transform_roundtrip(spark, sf_dir):
    from blaze_spark import data

    o = data(f"{sf_dir}/orders.parquet", spark=spark)
    q = (o[["o_orderstatus", "o_orderpriority", "o_totalprice"]]
         .transform(big=o.o_totalprice > 100000.0)
         .relabel(o_orderstatus="status")
         .distinct(on=["status", "o_orderpriority"]))
    # dropDuplicates keeps an arbitrary row — compare keys only
    from blaze_spark.interop import from_tree, to_tree

    tree = to_tree(q)
    rebuilt = from_tree(tree, spark=spark)
    a = q.compute()[["status", "o_orderpriority"]].sort_values(
        ["status", "o_orderpriority"]).reset_index(drop=True)
    b = rebuilt.compute()[["status", "o_orderpriority"]].sort_values(
        ["status", "o_orderpriority"]).reset_index(drop=True)
    assert a.equals(b)


def test_to_tree_pivot_roundtrip(spark, sf_dir):
    from blaze_spark import data

    o = data(f"{sf_dir}/orders.parquet", spark=spark)
    q = o.pivot("o_orderpriority", o.o_orderstatus, ["O", "F", "P"],
                n=o.o_orderkey.nelements())
    assert _roundtrip_equal(q, spark)["op"] == "pivot"


def test_to_tree_unpivot_explode_roundtrip(spark, sf_dir):
    from blaze_spark import data

    p = data(f"{sf_dir}/part.parquet", spark=spark)
    q = p.head(20).unpivot("p_partkey", ["p_size", "p_retailprice"])
    assert _roundtrip_equal(q, spark)["op"] == "unpivot"

    e = data(f"{sf_dir}/embeddings.parquet", spark=spark)
    q2 = e.head(3).explode("embedding", alias="dim", pos="i")
    assert _roundtrip_equal(q2, spark)["op"] == "explode"


def test_fuzz_tree_roundtrip(spark, sf_dir):
    """Property: for randomly composed chains of recorded ops, the engine
    result and the from_tree(to_tree(q)) result agree (hypothesis over the
    op sequence; r5 widened the recorded set to the full core surface)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from blaze_spark import by, data
    from blaze_spark.interop import from_tree, to_tree

    ops = st.lists(
        st.sampled_from(["filter", "project", "transform", "relabel",
                         "distinct", "sort_head"]),
        min_size=1, max_size=4)

    @given(seq=ops, thr=st.floats(min_value=1e4, max_value=4e5),
           agg=st.booleans())
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def run(seq, thr, agg):
        o = data(f"{sf_dir}/orders.parquet", spark=spark, name="orders")
        q = o
        for op in seq:
            cols = q.columns
            if op == "filter" and "o_totalprice" in cols:
                q = q[q.o_totalprice > thr]
            elif op == "project" and {"o_orderkey", "o_orderstatus",
                                      "o_totalprice"} <= set(cols):
                q = q[["o_orderkey", "o_orderstatus", "o_totalprice"]]
            elif op == "transform" and "o_totalprice" in cols:
                q = q.transform(big=q.o_totalprice > 2 * thr)
            elif op == "relabel" and "o_orderstatus" in cols:
                q = q.relabel(o_orderstatus="status")
            elif op == "distinct":
                key = "o_orderstatus" if "o_orderstatus" in cols else \
                    ("status" if "status" in cols else cols[0])
                q = q.distinct(on=[key])
            elif op == "sort_head" and "o_orderkey" in cols:
                q = q.sort("o_orderkey").head(25)
        if agg and "o_orderkey" in q.columns:
            key = "o_orderstatus" if "o_orderstatus" in q.columns else None
            if key:
                q = by(q[key], n=q.o_orderkey.nelements())
        tree = to_tree(q)
        import json
        json.dumps(tree)
        rebuilt = from_tree(tree, spark=spark)
        a = q.compute()
        b = rebuilt.compute()
        cols = sorted(a.columns)
        a = a[cols].sort_values(cols).reset_index(drop=True)
        b = b[cols].sort_values(cols).reset_index(drop=True)
        # distinct(on) keeps an arbitrary row — compare key sets, else frames
        if "distinct" in seq:
            assert len(a) == len(b)
        else:
            assert a.equals(b), f"{seq}\n{a}\n{b}"

    run()


def test_tree_curation_ops_roundtrip(spark):
    """r6: the text/curation projections are unary tree ops, so a server
    client can run the curation passes on registered datasets."""
    from blaze_spark import data
    from blaze_spark.interop import from_tree
    from blaze_spark.pipeline import pii_scrub, repetition_features

    docs = data([(1, "a a a b mail x@y.org"), (2, "clean text here")],
                spark=spark, schema="doc_id bigint, text string",
                name="docs")
    tree = {"op": "pii_scrub",
            "args": [{"op": "repetition_features",
                      "args": [{"op": "symbol", "args": ["docs"]}]}]}
    got = from_tree(tree, spark=spark, datasets={"docs": docs},
                    allow_data_uris=False)
    local = pii_scrub(repetition_features(docs))
    assert sorted(got.df.columns) == sorted(local.df.columns)
    g = {r.doc_id: r for r in got.df.collect()}
    l = {r.doc_id: r for r in local.df.collect()}
    assert g[1].clean_text == l[1].clean_text
    assert g[1].dup_token_frac == l[1].dup_token_frac
    # kinds parameter threads through
    tree2 = {"op": "pii_scrub",
             "args": [{"op": "symbol", "args": ["docs"]}, None,
                      ["email"]]}
    out2 = from_tree(tree2, spark=spark, datasets={"docs": docs},
                     allow_data_uris=False)
    assert "n_email" in out2.df.columns and "n_phone" not in out2.df.columns


def test_join_concat_tree_roundtrip(spark, star):
    """to_tree/from_tree identity for join and concat (r7): the
    serialized form rebuilds to the same result."""
    from blaze_spark import by, concat, data, join
    from blaze_spark.interop import from_tree, to_tree

    o, cst = star["orders"], star["customer"]
    j = join(o, cst, "o_custkey", "c_custkey", how="left")
    tree = to_tree(j.head(50))
    rebuilt = from_tree(tree, spark=spark,
                        datasets={"orders": o, "customer": cst})
    assert sorted(rebuilt.compute().columns) == sorted(
        j.head(50).compute().columns)

    u = concat(o.head(4), o.head(3), o.head(2))
    t2 = to_tree(u)
    r2 = from_tree(t2, spark=spark, datasets={"orders": o})
    assert len(r2.compute()) == 9


def test_sort_tree_direction_pairs_and_na_position(spark, star):
    """r7: (key, 'desc') pairs and per-key ascending lists serialize to
    the dialect (as an ascending list); na_position='first' does NOT —
    the dialect has no slot, and replaying as nulls-last would silently
    reorder nulls."""
    from blaze_spark.interop import from_tree, to_tree

    o = star["orders"]
    e = o[["o_orderkey", "o_totalprice"]] \
        .sort("o_totalprice", ("o_orderkey", "desc")).head(9)
    tree = to_tree(e)
    rebuilt = from_tree(tree, spark=spark, datasets={"orders": o})
    assert rebuilt.compute().o_orderkey.tolist() == \
        e.compute().o_orderkey.tolist()

    e2 = o[["o_orderkey", "o_totalprice"]].sort(
        "o_totalprice", "o_orderkey", ascending=[False, True]).head(5)
    t2 = to_tree(e2)
    r2 = from_tree(t2, spark=spark, datasets={"orders": o})
    assert r2.compute().o_orderkey.tolist() == \
        e2.compute().o_orderkey.tolist()

    import pytest as _pytest
    nf = o.sort("o_totalprice", na_position="first")
    with _pytest.raises(ValueError, match="serializable"):
        to_tree(nf)


# -- r8: generic method-call nodes (family.method) ----------------------


def test_tree_dialect_dt_interval_and_math_binary(spark, star):
    """Timedelta accessor calls and binary math replay through the same
    family.method node — dtype gates pick the right accessor on replay."""
    from blaze_spark.functions import math as M
    from blaze_spark.interop import from_tree, to_tree

    ev = star["events"]
    o = star["orders"]
    j = __import__("blaze_spark").join(
        ev[["user_id", "ts"]].distinct(), o[["o_custkey", "o_orderdate"]],
        on_left="user_id", on_right="o_custkey")
    e = j.transform(
        lat=(j.ts - j.o_orderdate).dt.total_seconds(),
        h=M.hypot(j.user_id, j.ts.dt.day()),
    )[["user_id", "ts", "lat", "h"]] \
        .sort("user_id", "ts").head(7)
    tree = to_tree(e)
    got = from_tree(tree, spark=spark).compute()
    want = e.compute()
    assert got.lat.tolist() == want.lat.tolist()
    assert got.h.tolist() == want.h.tolist()


def test_tree_dialect_str_args_and_expr_arg(spark, star):
    """Literal args (pad width/side) and expression args (cat other)
    both encode; non-serializable extras degrade to tree=None."""
    from blaze_spark.interop import from_tree, to_tree

    n = star["nation"]
    e = n.transform(p=n.n_name.str.pad(12, side="right", fillchar="."),
                    c=n.n_name.str.cat(n.n_name.str.lower(), sep="-"))
    tree = to_tree(e[["n_nationkey", "p", "c"]].sort("n_nationkey"))
    got = from_tree(tree, spark=spark).compute()
    want = e[["n_nationkey", "p", "c"]].sort("n_nationkey").compute()
    assert got.p.tolist() == want.p.tolist()
    assert got.c.tolist() == want.c.tolist()


def test_method_whitelist_covers_all_public_accessor_methods():
    """The replay whitelist is built from the accessor classes themselves,
    so every recordable node is replayable — no drift possible."""
    from blaze_spark.interop import _method_whitelists

    strs, dts, maths = _method_whitelists()
    assert {"upper", "lower", "len", "strip", "pad", "slice",
            "slice_replace", "cat", "contains", "replace"} <= strs
    assert {"year", "month", "day", "hour", "strftime", "truncate",
            "total_seconds", "days"} <= dts
    assert {"abs", "sqrt", "atan2", "hypot", "greatest", "truncate"} \
        <= set(maths)


def test_unknown_method_node_rejected(spark, t):
    from blaze_spark.interop import from_tree

    bad = {"op": "selection", "args": [
        {"op": "symbol", "args": ["t"]},
        {"op": "str.__class__", "args": [
            {"op": "field", "args": ["name"]}, [], {}]}]}
    import pytest
    with pytest.raises(ValueError, match="unknown expression op"):
        from_tree(bad, datasets={"t": t})


def test_fuzz_tree_roundtrip_r8_ops(spark, sf_dir):
    """r8 widening fuzz: chains drawn from the NEW dialect surface —
    .str/.dt/math/window call nodes, tail/slice/hash_sample/drop_field,
    coalesce, shift — round-trip through from_tree(to_tree(q)) with
    identical results (all deterministic given the unique-key sorts)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from blaze_spark import coalesce as C
    from blaze_spark import data
    from blaze_spark.functions import math as M
    from blaze_spark.functions import window as W
    from blaze_spark.interop import from_tree, to_tree

    ops = st.lists(
        st.sampled_from(["str", "dt", "math", "win", "tail", "slice",
                         "hash_sample", "drop_field", "shift_coalesce"]),
        min_size=1, max_size=4)

    @given(seq=ops, frac=st.floats(min_value=0.2, max_value=0.9))
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def run(seq, frac):
        q = data(f"{sf_dir}/orders.parquet", spark=spark, name="orders")
        for op in seq:
            cols = set(q.columns)
            if op == "str" and "o_orderpriority" in cols:
                q = q.transform(pri=q.o_orderpriority.str.lower()
                                .str.slice(0, 6))
            elif op == "dt" and "o_orderdate" in cols:
                q = q.transform(ym=q.o_orderdate.dt.strftime("%Y-%m"))
            elif op == "math" and "o_totalprice" in cols:
                q = q.transform(r=M.hypot(M.sqrt(q.o_totalprice),
                                          q.o_custkey))
            elif op == "win" and "o_totalprice" in cols:
                q = q.transform(
                    run=W.cumsum(q.o_totalprice, "o_orderkey",
                                 partition_by="o_orderstatus"),
                    rk=W.dense_rank(q, "o_orderkey"))
            elif op == "tail" and "o_orderkey" in cols:
                q = q.tail(200, sort_keys="o_orderkey")
            elif op == "slice" and "o_orderkey" in cols:
                q = q.sort("o_orderkey")[5:120:3]
            elif op == "hash_sample" and "o_orderkey" in cols:
                q = q.hash_sample(frac, on="o_orderkey")
            elif op == "drop_field" and "o_orderpriority" in cols:
                q = q.drop_field("o_orderpriority")
            elif op == "shift_coalesce" and "o_totalprice" in cols:
                prev = q.o_totalprice.shift(1, "o_orderkey")
                q = q.transform(p=C(prev, -1.0))
        tree = to_tree(q)
        import json
        json.dumps(tree)
        a, b = q.compute(), from_tree(tree, spark=spark).compute()
        cols = sorted(a.columns)
        a = a[cols].sort_values(cols).reset_index(drop=True)
        b = b[cols].sort_values(cols).reset_index(drop=True)
        assert a.equals(b), f"{seq}\n{a.head()}\n{b.head()}"

    run()
