"""r12 wire-dialect sweep (VERDICT r11 #3/#4): the remaining
literal-args pipeline ops serialize over blaze:// — exact/normalized/
line dedup, the curation reports, URL/domain passes, blocklists,
vocabulary commonness, cluster resolution, and decontamination (its
test corpus rides as a same-server subtree).  Every roundtrip is
value-compared to the local run; mixed-engine inputs and version-skew
trees reject loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blaze_spark import Table, data
from blaze_spark.server import BlazeSparkServer


@pytest.fixture(scope="module")
def sweep_docs(spark):
    rows = []
    for i in range(30):
        src = f"s{i % 3}"
        if i % 5 == 0:
            text = ("SHARED boilerplate line\nunique line %d\n"
                    "visit https://Example.COM/page and "
                    "http://other.org/x") % i
        elif i % 5 == 1:
            text = "exact duplicate body"
        else:
            text = f"doc {i} body words spam words buy ok {i % 7}"
        rows.append((i, text, src))
    return data(rows, spark=spark,
                schema="doc_id bigint, text string, source string",
                name="sweep_docs")


@pytest.fixture(scope="module")
def sweep_pairs(spark):
    # two chains: 1-2, 2-3 (one component) and 10-11
    return data([(1, 2), (2, 3), (10, 11)], spark=spark,
                schema="doc_a bigint, doc_b bigint", name="sweep_pairs")


@pytest.fixture(scope="module")
def sweep_srv(spark, sweep_docs, sweep_pairs):
    srv = BlazeSparkServer({"sweep_docs": sweep_docs,
                            "sweep_pairs": sweep_pairs}, spark)
    srv.start(port=0)
    yield srv
    srv.stop()


def _rt(spark, srv, name):
    return data(f"blaze://127.0.0.1:{srv.port}::{name}", spark=spark)


def _vals(remote_expr, local_df, cols):
    """Remote pandas (server column order) vs local rows, compared as
    sorted tuples over the named columns."""
    pdf = remote_expr.compute()
    got = sorted(map(tuple, pdf[cols].itertuples(index=False)))
    want = sorted(tuple(r[c] for c in cols)
                  for r in local_df.select(*cols).collect())
    return got, want


def test_dedup_family_over_wire(spark, sweep_docs, sweep_srv):
    from blaze_spark.pipeline import (cross_doc_dup_lines, exact_dedup,
                                      normalized_dedup)

    rt = _rt(spark, sweep_srv, "sweep_docs")
    for fn in (exact_dedup, normalized_dedup):
        got, want = _vals(fn(rt), fn(sweep_docs).df,
                          ["fingerprint", "keeper_id", "n_copies"])
        assert got == want and len(got) > 0
    got, want = _vals(cross_doc_dup_lines(rt),
                      cross_doc_dup_lines(sweep_docs).df,
                      ["doc_id", "n_lines", "n_dup_lines",
                       "dup_line_frac"])
    assert got == want
    got, want = _vals(cross_doc_dup_lines(rt, scrub=True),
                      cross_doc_dup_lines(sweep_docs, scrub=True).df,
                      ["doc_id", "clean_text"])
    assert got == want and len(got) > 0
    # r14: maximal spans — the islands merge serializes as the same
    # literal-args unary shape
    from blaze_spark.pipeline import cross_doc_dup_spans

    got, want = _vals(cross_doc_dup_spans(rt, n=3),
                      cross_doc_dup_spans(sweep_docs, n=3).df,
                      ["doc_id", "span_start", "span_len", "n_windows",
                       "n_docs"])
    assert got == want and len(got) > 0
    from blaze_spark.pipeline import dup_span_popularity

    got, want = _vals(dup_span_popularity(rt, n=3),
                      dup_span_popularity(sweep_docs, n=3).df,
                      ["min_docs", "n_dup_grams", "n_dup_windows",
                       "n_docs"])
    assert got == want and len(got) > 0


def test_curation_reports_over_wire(spark, sweep_docs, sweep_srv):
    from blaze_spark.pipeline import (blocklist_filter, corpus_report,
                                      domain_mix, extract_urls,
                                      source_mix, top_ngram_share)

    rt = _rt(spark, sweep_srv, "sweep_docs")
    got, want = _vals(top_ngram_share(rt), top_ngram_share(sweep_docs),
                      ["doc_id", "top_ngram", "ngram_count",
                       "top_ngram_frac"])
    assert got == want and len(got) > 0
    got, want = _vals(source_mix(rt), source_mix(sweep_docs),
                      ["source", "n_docs", "total_tokens",
                       "token_share", "sample_weight"])
    assert got == want and len(got) == 3
    got, want = _vals(domain_mix(rt), domain_mix(sweep_docs),
                      ["domain", "n_docs", "n_mentions", "doc_share"])
    assert got == want and len(got) == 2
    got, want = _vals(corpus_report(rt), corpus_report(sweep_docs),
                      ["n_docs", "n_sources", "total_tokens",
                       "en_share", "dup_rate", "median_quality",
                       "p90_tokens"])
    assert got == want and len(got) == 1
    # extract_urls: a projection — arrays flattened for comparison
    r = extract_urls(rt)
    pdf = r.compute()
    pdf["domains"] = pdf["domains"].map(lambda a: "|".join(a))
    got = sorted(map(tuple, pdf[["doc_id", "n_urls", "domains",
                                 "primary_domain"]]
                     .itertuples(index=False)))
    want = sorted(
        (r2["doc_id"], r2["n_urls"], "|".join(r2["domains"]),
         r2["primary_domain"])
        for r2 in extract_urls(sweep_docs).df.collect())
    assert got == want
    # blocklist: literal terms ride in the node
    got, want = _vals(blocklist_filter(rt, ["spam", "buy"]),
                      blocklist_filter(sweep_docs,
                                       ["spam", "buy"]).df,
                      ["doc_id"])
    assert got == want and 0 < len(got) < 30
    kept = blocklist_filter(rt, ["spam"], mode="keep")
    assert sorted(kept.compute().doc_id) == sorted(
        r2.doc_id for r2 in blocklist_filter(
            sweep_docs, ["spam"], mode="keep").df.collect())


def test_token_commonness_over_wire(spark, sweep_docs, sweep_srv):
    from blaze_spark.pipeline import token_commonness

    rt = _rt(spark, sweep_srv, "sweep_docs")
    cols = ["doc_id", "n_tokens", "oov_rate", "commonness"]
    got, want = _vals(token_commonness(rt, vocab_size=10),
                      token_commonness(sweep_docs, vocab_size=10),
                      cols)
    assert got == want and len(got) == 30
    # a same-server vocabulary expression rides as a subtree: the
    # corpus' own docs registered again would be circular, so derive a
    # (tok, cnt) relation from the registered dataset itself
    # server-side via the dialect — here the simplest same-server
    # vocab is "fit server-side" (vocab=None) which the above covers;
    # a LOCAL DataFrame cannot ride the wire:
    local_vocab = spark.createDataFrame([("words", 10)],
                                        "tok string, cnt long")
    with pytest.raises(TypeError, match="cannot ride the wire"):
        token_commonness(rt, vocab=local_vocab)
    # remote vocab + local corpus mixes engines
    with pytest.raises(TypeError, match="mixes engines"):
        token_commonness(sweep_docs,
                         vocab=token_commonness(rt, vocab_size=5))


def test_contamination_over_wire(spark, sweep_docs, sweep_srv):
    import blaze_spark.interop as interop
    from blaze_spark.pipeline import contamination_report

    rt = _rt(spark, sweep_srv, "sweep_docs")
    # the benchmark suite: a same-server EXPRESSION over the registered
    # corpus (a slice), riding as a subtree — MBs never cross the wire
    test_r = rt[rt.doc_id % 5 == 1]
    test_l = Table(sweep_docs.df.filter(F.col("doc_id") % 5 == 1),
                   "test_l")
    got, want = _vals(contamination_report(rt, test_r, n=2),
                      contamination_report(sweep_docs, test_l, n=2),
                      ["doc_id", "n_ngrams", "n_contaminated",
                       "contamination_rate", "contaminated"])
    assert got == want and len(got) == 30
    assert any(t[4] == 1 for t in got)  # the planted dups ARE contaminated
    with pytest.raises(TypeError, match="SAME server"):
        contamination_report(rt, test_l)
    with pytest.raises(TypeError, match="SAME server"):
        contamination_report(test_l, rt)
    # version skew: unknown keyword rejects loudly server-side
    node = {"op": "contamination_report",
            "args": [{"op": "symbol", "args": ["sweep_docs"]},
                     {"op": "symbol", "args": ["sweep_docs"]},
                     {"n": 2, "future_knob": 1}]}
    with pytest.raises(ValueError, match="matching client version"):
        interop.from_tree(node, spark=spark,
                          datasets={"sweep_docs": sweep_docs})
    # and extra positional args reject (the arity guard)
    node2 = {"op": "exact_dedup",
             "args": [{"op": "symbol", "args": ["sweep_docs"]},
                      {"text_col": "text"}, "extra"]}
    with pytest.raises(ValueError, match="matching client version"):
        interop.from_tree(node2, spark=spark,
                          datasets={"sweep_docs": sweep_docs})


def test_cluster_resolution_over_wire(spark, sweep_docs, sweep_pairs,
                                      sweep_srv):
    from blaze_spark.pipeline import (canonical_docs,
                                      connected_components,
                                      dedup_clusters)

    rp = _rt(spark, sweep_srv, "sweep_pairs")
    rd = _rt(spark, sweep_srv, "sweep_docs")
    got, want = _vals(
        connected_components(rp, src="doc_a", dst="doc_b"),
        connected_components(sweep_pairs, src="doc_a",
                             dst="doc_b").df,
        ["node", "comp"])
    assert got == want and len(got) == 5
    got, want = _vals(dedup_clusters(rp),
                      dedup_clusters(sweep_pairs).df,
                      ["doc_id", "cluster_id", "is_canonical"])
    assert got == want
    got, want = _vals(canonical_docs(rd, rp),
                      canonical_docs(sweep_docs, sweep_pairs).df,
                      ["doc_id", "cluster_id", "keep"])
    assert got == want and len(got) == 30
    with pytest.raises(TypeError, match="SAME server"):
        canonical_docs(sweep_docs, rp)
    with pytest.raises(TypeError, match="SAME server"):
        canonical_docs(rd, sweep_pairs)


def test_sweep_plan_construction_is_jobless(spark, sweep_docs,
                                            sweep_srv):
    """Building a swept remote expression must launch ZERO Spark jobs —
    schemas come from the lazy local plan over the empty frame (or are
    hand-written where the local path is eager: token_commonness,
    cluster ops)."""
    from blaze_spark.pipeline import (canonical_docs, corpus_report,
                                      cross_doc_dup_lines,
                                      connected_components,
                                      contamination_report,
                                      exact_dedup, token_commonness)

    rd = _rt(spark, sweep_srv, "sweep_docs")
    rp = _rt(spark, sweep_srv, "sweep_pairs")
    sc = spark.sparkContext
    sc.setJobGroup("sweep-construct", "wire sweep plan construction")
    try:
        exact_dedup(rd)
        cross_doc_dup_lines(rd, scrub=True)
        corpus_report(rd)
        token_commonness(rd)
        contamination_report(rd, rd[rd.doc_id % 5 == 1])
        connected_components(rp, src="doc_a", dst="doc_b")
        canonical_docs(rd, rp)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("sweep-construct")
    assert len(jobs) == 0, f"plan construction launched {len(jobs)} jobs"


def test_packing_family_over_wire(spark, sweep_docs, sweep_srv):
    """Late r12: split/chunk/pack serialize — split and chunk as lazy
    projections, pack_sequences with its eager boundary sampling and
    bucket-offset collects running SERVER-side at replay."""
    from blaze_spark.pipeline import (chunk_documents, pack_sequences,
                                      train_val_test_split)

    rt = _rt(spark, sweep_srv, "sweep_docs")
    got, want = _vals(
        train_val_test_split(rt, fractions=(0.6, 0.2, 0.2)),
        train_val_test_split(sweep_docs, fractions=(0.6, 0.2, 0.2)).df,
        ["doc_id", "split"])
    assert got == want and len({s for _, s in got}) == 3
    got, want = _vals(chunk_documents(rt, max_tokens=4, overlap=1),
                      chunk_documents(sweep_docs, max_tokens=4,
                                      overlap=1).df,
                      ["doc_id", "chunk_id", "chunk_text",
                       "chunk_tokens"])
    assert got == want and len(got) > 30
    cols = ["doc_id", "n_tokens", "tok_start", "shard"]
    r = pack_sequences(rt, budget=16)
    # hand-written schema must match the local plan's exactly
    local = pack_sequences(sweep_docs, budget=16).df
    assert [(f.name, f.dataType) for f in r.df.schema.fields] == \
        [(f.name, f.dataType) for f in local.schema.fields]
    got, want = _vals(r, local, cols)
    assert got == want and max(s for *_, s in got) >= 1
    # construction of the pack plan is jobless (the sampling collects
    # run server-side at replay, not here)
    sc = spark.sparkContext
    sc.setJobGroup("pack-construct", "pack_sequences wire construction")
    try:
        pack_sequences(rt, budget=32)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker()
               .getJobIdsForGroup("pack-construct")) == 0


@pytest.fixture(scope="module")
def sweep_events(spark):
    import datetime as dt
    rows = [(f"u{i % 3}", i, float(i % 7),
             dt.datetime(2024, 1 + (i % 12), 1 + (i % 27), i % 24))
            for i in range(60)]
    return data(rows, spark=spark,
                schema="user string, t bigint, v double, ts timestamp",
                name="sweep_events")


def test_extension_ops_over_wire(spark, sweep_events, sweep_srv):
    """Late r12: the extension operators serialize — asof/salted/range
    joins as binary nodes (both sides same-server subtrees), sessionize
    as a unary literal-kwargs node, hypertable_rollup carrying its
    reduction subtrees.  Values compared to the local runs."""
    from blaze_spark import hypertable_rollup
    from blaze_spark.operators.joins_ext import asof_join, salted_join
    from blaze_spark.operators.range_join import (bucketed_range_join,
                                                  range_join)
    from blaze_spark.operators.sessionize import sessionize
    from blaze_spark.server import BlazeSparkServer

    srv = BlazeSparkServer({"sweep_events": sweep_events}, spark)
    srv.start(port=0)
    try:
        rt = _rt(spark, srv, "sweep_events")
        # asof: the quote side is a same-server EXPRESSION (a slice)
        rq = rt[rt.t % 2 == 0][["user", "t", "v"]]
        lq = Table(sweep_events.df.filter(F.col("t") % 2 == 0)
                   .select("user", "t", "v"), "lq")
        got, want = _vals(
            asof_join(rt, rq, on="t", by="user"),
            asof_join(sweep_events, lq, on="t", by="user").df,
            ["user", "t", "v", "v_right"])

        def _nn(rows):  # pandas NULL-double -> NaN; local collect -> None
            return [tuple(None if isinstance(x, float) and x != x else x
                          for x in r) for r in rows]

        assert _nn(got) == _nn(want) and len(got) == 60
        # salted: equals the plain join by contract (right side renamed
        # server-side through the dialect so no columns collide)
        rq2 = rq.relabel(user="qu", t="qt")
        lq2 = Table(lq.df.withColumnRenamed("user", "qu")
                    .withColumnRenamed("t", "qt"), "lq2")
        got, want = _vals(
            salted_join(rt[["user", "t"]], rq2, "user", "qu", salt=4),
            salted_join(Table(sweep_events.df.select("user", "t"),
                              "l"), lq2, "user", "qu", salt=4).df,
            ["t", "qt", "v"])
        assert got == want and len(got) > 60
        # range joins: bands derived server-side from the same table
        rb = rt[rt.t < 3].transform(lo=rt.t * 10, hi=rt.t * 10 + 25)[
            ["lo", "hi"]]
        lb = Table(sweep_events.df.filter(F.col("t") < 3)
                   .selectExpr("t*10 AS lo", "t*10+25 AS hi"), "lb")
        got, want = _vals(
            range_join(rt[["user", "t"]], rb, "t", "lo", "hi"),
            range_join(Table(sweep_events.df.select("user", "t"), "l"),
                       lb, "t", "lo", "hi").df,
            ["user", "t", "lo", "hi"])
        assert got == want and len(got) > 0
        got2, want2 = _vals(
            bucketed_range_join(rt[["user", "t"]], rb, "t", "lo", "hi",
                                bucket_width=8.0),
            bucketed_range_join(
                Table(sweep_events.df.select("user", "t"), "l"), lb,
                "t", "lo", "hi", bucket_width=8.0).df,
            ["user", "t", "lo", "hi"])
        assert got2 == want2 and sorted(got2) == sorted(got)
        # sessionize: unary literal-kwargs node
        got, want = _vals(
            sessionize(rt, "user", "t", gap=2),
            sessionize(sweep_events, "user", "t", gap=2).df,
            ["user", "t", "session_id"])
        assert got == want and max(s for *_, s in got) >= 1
        # hypertable rollup: reductions ride as recorded subtrees
        hr = hypertable_rollup(rt, "ts", units=("year", "month"),
                               total=rt.v.sum(), n=rt.t.nelements())
        hl = hypertable_rollup(sweep_events, "ts",
                               units=("year", "month"),
                               total=sweep_events.v.sum(),
                               n=sweep_events.t.nelements())
        got, want = _vals(hr, hl.df, ["grain", "bucket", "total", "n"])
        assert got == want and {g for g, *_ in got} == \
            {"total", "year", "month"}
        # mixed engines refuse
        with pytest.raises(TypeError, match="SAME server"):
            asof_join(sweep_events, rq, on="t", by="user")
        with pytest.raises(TypeError, match="SAME server"):
            range_join(rt, lb, "t", "lo", "hi")
        with pytest.raises(TypeError, match="column NAME"):
            sessionize(rt, rt.user, "t", gap=2)
    finally:
        srv.stop()


# -- r13: trained-PQ application over the wire (VERDICT r12 #3) -------------

def test_pq_topk_wire_application(spark):
    """Trained codebooks ride as a bounded literal relation (the
    model_weights precedent) and ADC top-k scores a SERVER-side code
    store: remote == local EXACTLY (same codebooks → deterministic
    ADC), fits stay guarded, version skew and hostile codebooks reject
    loudly."""
    import numpy as np

    from blaze_spark import pipeline as pl
    from blaze_spark.interop import from_tree
    from blaze_spark.pipeline.pq import (codebooks_from_wire,
                                         codebooks_to_wire)

    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(16)])
            for i in range(60)]
    emb = data(rows, spark=spark,
               schema="vec_id bigint, embedding array<float>",
               name="pqemb")
    cb = pl.pq_fit(emb, m=4, ks=8, iters=3, train_rows=60)
    codes = pl.pq_encode(emb, cb)
    q = Table(emb.df.filter(F.col("vec_id") < 5), "q")
    want = sorted(map(tuple, pl.pq_topk(codes, q, cb, k=4).df.collect()))

    # codebooks wire round-trip is bit-exact (float64 repr via JSON)
    import json
    enc = json.loads(json.dumps(codebooks_to_wire(cb)))
    assert (codebooks_from_wire(enc) == cb).all()

    srv = BlazeSparkServer({"codes": codes}, spark)
    srv.start(port=0)
    try:
        rc = data(f"blaze://127.0.0.1:{srv.port}::codes", spark=spark)
        out = pl.pq_topk(rc, q.df, cb, k=4)
        got = sorted(map(tuple, spark.createDataFrame(
            out.compute(), schema=out.df.schema).collect()))
        assert got == want and len(got) == 5 * 4
        node = out._tree

        # remote queries + local store mixes engines
        with pytest.raises(TypeError, match="mixes engines"):
            pl.pq_topk(codes, rc, cb, k=4)
        # fits/encoders stay guarded
        with pytest.raises(TypeError, match="wire dialect"):
            pl.pq_fit(rc)
        with pytest.raises(TypeError, match="wire dialect"):
            pl.pq_encode(rc, cb)
        # the query-block bound applies to literal wire queries too
        with pytest.raises(ValueError, match="max_queries"):
            pl.pq_topk(rc, emb.df, cb, k=4, max_queries=10)
    finally:
        srv.stop()

    # version skew: unknown keyword rejects
    import copy
    bad = copy.deepcopy(node)
    bad["args"][1]["future_knob"] = 1
    with pytest.raises(ValueError, match="matching client version"):
        from_tree(bad, spark=spark, datasets={"codes": codes})
    # hostile codebooks: truncated data rejects before any scan
    bad = copy.deepcopy(node)
    bad["args"][1]["codebooks"]["data"] = \
        bad["args"][1]["codebooks"]["data"][:-1]
    with pytest.raises(ValueError, match="floats"):
        from_tree(bad, spark=spark, datasets={"codes": codes})
    # mis-shaped query rows reject
    bad = copy.deepcopy(node)
    bad["args"][1]["queries"] = "not-rows"
    with pytest.raises(ValueError, match="queries"):
        from_tree(bad, spark=spark, datasets={"codes": codes})


def test_ivf_pq_topk_wire_application(spark):
    """IVF-PQ over the wire (r13 second half): coarse centroids AND
    trained codebooks ride as bounded literal relations, the
    nprobe-pruned ADC scans the SERVER-side cell-tagged code store —
    remote == local EXACTLY; hostile centroids reject loudly; with
    nprobe >= k_cells the remote result equals remote pq_topk's pairs
    (the local differential contract, preserved across the wire)."""
    import copy
    import json

    from blaze_spark import pipeline as pl
    from blaze_spark.interop import from_tree
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit
    from blaze_spark.pipeline.pq import (centroids_from_wire,
                                         centroids_to_wire)

    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(16)])
            for i in range(60)]
    emb = data(rows, spark=spark,
               schema="vec_id bigint, embedding array<float>",
               name="ivfemb")
    cents = kmeans_fit(emb, k=4, iters=3)
    cb = pl.pq_fit(emb, m=4, ks=8, iters=3, train_rows=60)
    codes = pl.pq_encode(ivf_assign(emb, cents), cb)
    q = Table(emb.df.filter(F.col("vec_id") < 5), "q")
    want = sorted(map(tuple, pl.ivf_pq_topk(
        codes, q, cents, cb, k=4, nprobe=2).df.collect()))

    # centroids wire round-trip is bit-exact
    enc = json.loads(json.dumps(centroids_to_wire(cents)))
    assert (centroids_from_wire(enc) == cents).all()

    srv = BlazeSparkServer({"codes": codes}, spark)
    srv.start(port=0)
    try:
        rc = data(f"blaze://127.0.0.1:{srv.port}::codes", spark=spark)
        out = pl.ivf_pq_topk(rc, q.df, cents, cb, k=4, nprobe=2)
        got = sorted(map(tuple, spark.createDataFrame(
            out.compute(), schema=out.df.schema).collect()))
        assert got == want and len(got) == 5 * 4
        node = out._tree

        # nprobe >= k_cells degenerates to the full ADC scan: the
        # remote differential contract equals remote pq_topk
        full = pl.ivf_pq_topk(rc, q.df, cents, cb, k=4, nprobe=4)
        flat = pl.pq_topk(rc, q.df, cb, k=4)
        a = sorted(map(tuple, spark.createDataFrame(
            full.compute(), schema=full.df.schema).collect()))
        b = sorted(map(tuple, spark.createDataFrame(
            flat.compute(), schema=flat.df.schema).collect()))
        assert a == b

        with pytest.raises(TypeError, match="mixes engines"):
            pl.ivf_pq_topk(codes, rc, cents, cb, k=4)
        with pytest.raises(ValueError, match="max_queries"):
            pl.ivf_pq_topk(rc, emb.df, cents, cb, k=4, max_queries=2)
    finally:
        srv.stop()

    # version skew: unknown keyword rejects
    bad = copy.deepcopy(node)
    bad["args"][1]["future_knob"] = 1
    with pytest.raises(ValueError, match="matching client version"):
        from_tree(bad, spark=spark, datasets={"codes": codes})
    # hostile centroids: truncated data rejects before any scan
    bad = copy.deepcopy(node)
    bad["args"][1]["centroids"]["data"] = \
        bad["args"][1]["centroids"]["data"][:-1]
    with pytest.raises(ValueError, match="floats"):
        from_tree(bad, spark=spark, datasets={"codes": codes})
    # mis-shaped centroids dict rejects
    bad = copy.deepcopy(node)
    bad["args"][1]["centroids"] = {"k_cells": 4}
    with pytest.raises(ValueError, match="centroids wire form"):
        from_tree(bad, spark=spark, datasets={"codes": codes})


def test_registered_store_namespace_bloom_and_ann(spark, tmp_path):
    """r15 (VERDICT r14 #5): the registered-store wire namespace
    extended to the bloom and PQ/IVF families — decontamination
    probes and ANN application NAME a server-side store instead of
    shipping packed filters / codebook floats as literal rows.
    Remote == local byte-for-byte for every form; unregistered names,
    hostile kinds and misplaced geometry kwargs refuse loudly; the
    local string form resolves the same artifact from a path."""
    import numpy as np

    from blaze_spark import pipeline as pl
    from blaze_spark.interop import from_tree
    from blaze_spark.pipeline.bloom import (build_ngram_bloom,
                                            save_bloom)
    from blaze_spark.pipeline.ivf import (ivf_assign, kmeans_fit,
                                          save_centroids)
    from blaze_spark.pipeline.pq import save_codebooks
    from blaze_spark.streaming.incremental_bloom import (
        ingest_bloom_batch, read_bloom)

    docs_rows = [(i, f"alpha beta w{i % 9} gamma delta w{i % 4} end",
                  f"src{i % 5}") for i in range(40)]
    docs = data(docs_rows, spark=spark,
                schema="doc_id bigint, text string, source string",
                name="nsdocs")
    ref = Table(docs.df.filter("doc_id % 7 = 0"), "nsref")
    bl = build_ngram_bloom(ref, n=3, m_bits=1 << 16, k=5)
    saved = str(tmp_path / "bloom_saved")
    save_bloom(bl, saved)
    inc = str(tmp_path / "bloom_inc")
    ingest_bloom_batch(Table(docs.df.filter("doc_id % 2 = 0"), "ev"),
                       inc, key_col="source", m_bits=1 << 14, k=4,
                       batch_id=0)

    erows = [(i, [float((i * 7 + j * 3) % 11) - 5.0
                  for j in range(16)]) for i in range(60)]
    emb = data(erows, spark=spark,
               schema="vec_id bigint, embedding array<float>",
               name="nsemb")
    cents = kmeans_fit(emb, k=4, iters=3)
    cb = pl.pq_fit(emb, m=4, ks=8, iters=3, train_rows=60)
    codes = pl.pq_encode(ivf_assign(emb, cents), cb)
    q = Table(emb.df.filter(F.col("vec_id") < 5), "q")
    cbp = str(tmp_path / "cb")
    save_codebooks(cb, cbp, spark)
    cep = str(tmp_path / "ce")
    save_centroids(cents, cep, spark)

    srv = BlazeSparkServer(
        {"nsdocs": docs, "codes": codes, "nsemb": emb}, spark,
        stores={"refbloom": saved, "incbloom": inc,
                "cb": cbp, "ce": cep})
    srv.start(port=0)
    try:
        url = f"blaze://127.0.0.1:{srv.port}"
        rt = data(f"{url}::nsdocs", spark=spark)
        rc = data(f"{url}::codes", spark=spark)
        re = data(f"{url}::nsemb", spark=spark)

        # 1. decontamination against the SAVED bloom store by name
        want = sorted(map(tuple, pl.bloom_contamination(
            docs, bl, n=3).collect()))
        out = pl.bloom_contamination(rt, "refbloom", n=3)
        got = sorted(map(tuple,
                         out.compute().itertuples(index=False)))
        assert got == want and len(got) == 40
        bloom_node = out._tree

        # 2. key probe against the INCREMENTAL store (geometry
        # re-validated against the format stamp server-side)
        lb = read_bloom(spark, inc, m_bits=1 << 14, k=4)
        want = sorted(map(tuple, pl.bloom_contains(
            docs, lb, "source").collect()))
        got = sorted(map(tuple, pl.bloom_contains(
            rt, "incbloom", "source", store="incremental",
            m_bits=1 << 14, k=4).compute().itertuples(index=False)))
        assert got == want

        # 3. PQ application against the codebook store by name
        want = sorted(map(tuple,
                          pl.pq_topk(codes, q, cb, k=4).df.collect()))
        out = pl.pq_topk(rc, q.df, "cb", k=4)
        got = sorted(map(tuple, spark.createDataFrame(
            out.compute(), schema=out.df.schema).collect()))
        assert got == want and len(got) == 5 * 4

        # 4. IVF-PQ with BOTH artifacts resolved from stores
        want = sorted(map(tuple, pl.ivf_pq_topk(
            codes, q, cents, cb, k=4, nprobe=2).df.collect()))
        out = pl.ivf_pq_topk(rc, q.df, "ce", "cb", k=4, nprobe=2)
        got = sorted(map(tuple, spark.createDataFrame(
            out.compute(), schema=out.df.schema).collect()))
        assert got == want

        # 5. cluster assignment with a named centroid store
        want = sorted(map(tuple, pl.assign_clusters(
            docs, emb, centroids=cents).df
            .select("doc_id", "cell").collect()))
        out = pl.assign_clusters(rt, re, centroids="ce")
        got = sorted(map(tuple, out.compute()
                         [["doc_id", "cell"]].itertuples(index=False)))
        assert got == want

        # 6. local string form == loaded artifact (path symmetry)
        a = sorted(map(tuple,
                       pl.pq_topk(codes, q, cbp, k=4).df.collect()))
        assert a == sorted(map(tuple, pl.pq_topk(codes, q, cb, k=4)
                               .df.collect()))
        b = sorted(map(tuple, pl.bloom_contamination(
            docs, saved, n=3).collect()))
        assert b == sorted(map(tuple, pl.bloom_contamination(
            docs, bl, n=3).collect()))

        # refusals: unregistered names list the registry
        with pytest.raises(Exception, match="unknown codebook store"):
            pl.pq_topk(rc, q.df, "nope", k=4).compute()
        with pytest.raises(Exception, match="unknown bloom store"):
            pl.bloom_contamination(rt, "nope", n=3).compute()
        with pytest.raises(Exception, match="unknown centroid store"):
            pl.assign_clusters(rt, re, centroids="nope").compute()
        # a packed filter never rides the wire as rows
        with pytest.raises(TypeError, match="does not ride the wire"):
            pl.bloom_contamination(rt, bl, n=3)
        # hostile kind / misplaced geometry refuse client-side
        with pytest.raises(ValueError, match="store kind"):
            pl.bloom_contains(rt, "incbloom", "source", store="exotic")
        with pytest.raises(ValueError, match="self-describing"):
            pl.bloom_contamination(rt, "refbloom", n=3,
                                   m_bits=1 << 14)
        # geometry mismatch fails through the incremental store stamp
        with pytest.raises(Exception, match="filter geometry"):
            pl.bloom_contains(rt, "incbloom", "source",
                              store="incremental", m_bits=1 << 15,
                              k=4).compute()
    finally:
        srv.stop()

    # version skew: unknown keyword on the bloom node rejects
    import copy
    bad = copy.deepcopy(bloom_node)
    bad["args"][1]["future_knob"] = 1
    with pytest.raises(ValueError, match="matching client version"):
        from_tree(bad, spark=spark, datasets={"nsdocs": docs},
                  stores={"refbloom": saved})
    # a raw path in the node does NOT resolve (names only)
    bad = copy.deepcopy(bloom_node)
    bad["args"][1]["bloom"] = saved
    with pytest.raises(KeyError, match="unknown bloom store"):
        from_tree(bad, spark=spark, datasets={"nsdocs": docs},
                  stores={"refbloom": "/elsewhere"})
