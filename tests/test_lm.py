"""Bucketized n-gram LM scoring (pipeline/lm.py): hand-computed
expectations on a planted corpus, path-equality pins (literal-map vs
explode-join, inline fit vs counts=), the exact conditional-denominator
contract (context-as-context counts, not raw (n-1)-gram counts), plan
hygiene (literal-map scoring is one shuffle-free projection), and the
band-filter membership semantics."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from blaze_spark import data
from blaze_spark.pipeline import (
    ngram_lm_fit,
    ngram_lm_logprob,
    perplexity_filter,
)

B = 64


def _bucket(s: str, n_buckets: int = B) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % n_buckets


@pytest.fixture(scope="module")
def ldocs(spark):
    rows = [
        (0, "the cat sat"),
        (1, "the cat ran"),
        (2, "the dog sat"),
        (3, "x"),            # 1 token: no bigram evidence
    ]
    return data(rows, spark=spark, schema="doc_id bigint, text string",
                name="ldocs")


def _py_lm(rows, n_buckets=B, n=2, smoothing=1.0):
    """Reference implementation: exact counts over bucketized grams."""
    gram, ctx = {}, {}
    doc_grams = {}
    for doc_id, text in rows:
        toks = text.strip().lower().split()
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)] \
            if len(toks) >= n else []
        doc_grams[doc_id] = grams
        for g in grams:
            c = " ".join(g.split(" ")[:-1])
            gram[_bucket(g, n_buckets)] = gram.get(_bucket(g, n_buckets), 0) + 1
            ctx[_bucket(c, n_buckets)] = ctx.get(_bucket(c, n_buckets), 0) + 1
    out = {}
    for doc_id, grams in doc_grams.items():
        s = 0.0
        for g in grams:
            c = " ".join(g.split(" ")[:-1])
            s += (math.log(gram.get(_bucket(g, n_buckets), 0) + smoothing)
                  - math.log(ctx.get(_bucket(c, n_buckets), 0)
                             + smoothing * n_buckets))
        out[doc_id] = (len(grams), s)
    return out


def test_fit_counts_exact(spark, ldocs):
    fit = ngram_lm_fit(ldocs, n_buckets=B, n=2)
    rows = {(r["kind"], r["bucket"]): r["cnt"] for r in fit.collect()}
    # 'the cat' appears twice; context 'the' precedes 3 bigrams
    assert rows[("gram", _bucket("the cat"))] == 2
    assert rows[("ctx", _bucket("the"))] == 3
    # doc 3 has no bigrams: total gram mass is 6 (2 per 3-token doc)
    assert sum(c for (k, _), c in rows.items() if k == "gram") == 6
    # context counts EQUAL gram counts by construction (each gram has
    # exactly one context) — the exact conditional denominator, which a
    # raw unigram count would NOT satisfy (it would count doc-final
    # tokens that never precede anything)
    assert sum(c for (k, _), c in rows.items() if k == "ctx") == 6


def test_logprob_hand_computed(spark, ldocs):
    rows = [(0, "the cat sat"), (1, "the cat ran"),
            (2, "the dog sat"), (3, "x")]
    expect = _py_lm(rows)
    got = {r["doc_id"]: r for r in
           ngram_lm_logprob(ldocs, n_buckets=B, n=2).collect()}
    for doc_id, (ng, s) in expect.items():
        r = got[doc_id]
        assert r["n_grams"] == ng
        assert r["logp"] == pytest.approx(round(s, 4), abs=1e-9)
        if ng:
            assert r["avg_logp"] == pytest.approx(round(s / ng, 4))
            assert r["ppl"] == pytest.approx(round(math.exp(-s / ng), 4))
        else:
            assert r["logp"] == 0.0
            assert r["avg_logp"] is None and r["ppl"] is None


def test_unigram_constant_denominator(spark, ldocs):
    rows = [(0, "the cat sat"), (1, "the cat ran"),
            (2, "the dog sat"), (3, "x")]
    expect = _py_lm(rows, n=1)
    got = {r["doc_id"]: (r["n_grams"], r["logp"]) for r in
           ngram_lm_logprob(ldocs, n_buckets=B, n=1).collect()}
    for doc_id, (ng, s) in expect.items():
        assert got[doc_id] == (ng, pytest.approx(round(s, 4), abs=1e-9))


def test_counts_path_equals_inline(spark, ldocs):
    fit = ngram_lm_fit(ldocs, n_buckets=B, n=2)
    a = ngram_lm_logprob(ldocs, n_buckets=B, n=2)
    b = ngram_lm_logprob(ldocs, counts=fit, n_buckets=B, n=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_counts_partials_sum(spark, ldocs):
    # a union of two snapshots' partials is a legitimate counts frame:
    # duplicate (kind, bucket) rows SUM (the selection family's
    # additive contract)
    fit = ngram_lm_fit(ldocs, n_buckets=B, n=2)
    half = fit.withColumn(
        "cnt", (F.col("cnt") / 2).cast("long"))
    rest = fit.join(half.withColumnRenamed("cnt", "h"),
                    ["kind", "bucket"]) \
        .select("kind", "bucket", (F.col("cnt") - F.col("h")).alias("cnt"))
    a = ngram_lm_logprob(ldocs, counts=fit, n_buckets=B, n=2)
    b = ngram_lm_logprob(ldocs, counts=half.unionByName(rest),
                         n_buckets=B, n=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_reference_fit_scores_other_corpus(spark, ldocs):
    other = data([(9, "the cat sat"), (10, "zz qq vv ww")],
                 spark=spark, schema="doc_id bigint, text string",
                 name="odocs")
    out = {r["doc_id"]: r for r in
           ngram_lm_logprob(other, reference=ldocs,
                            n_buckets=B, n=2).collect()}
    # in-distribution doc scores strictly better than the gibberish one
    assert out[9]["avg_logp"] > out[10]["avg_logp"]
    assert out[9]["ppl"] < out[10]["ppl"]


def test_perplexity_filter_membership(spark, ldocs):
    scores = {r["doc_id"]: r["ppl"] for r in
              ngram_lm_logprob(ldocs, n_buckets=B, n=2).collect()
              if r["ppl"] is not None}
    cut = sorted(scores.values())[1]  # keep exactly the two lowest
    kept = perplexity_filter(ldocs, n_buckets=B, n=2, max_ppl=cut)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == sorted(d for d, p in scores.items() if p <= cut)
    assert 3 not in ids  # no-evidence doc (NULL ppl) always drops
    assert set(kept.columns) >= {"doc_id", "text", "n_grams", "ppl"}


def test_validation_errors(spark, ldocs):
    with pytest.raises(ValueError, match="smoothing"):
        ngram_lm_logprob(ldocs, smoothing=0.0)
    with pytest.raises(ValueError, match="not both"):
        ngram_lm_logprob(ldocs, reference=ldocs,
                         counts=ngram_lm_fit(ldocs))
    with pytest.raises(ValueError, match="kind STRING"):
        ngram_lm_logprob(ldocs, counts=ldocs.df)
    bad = spark.createDataFrame([("nope", 0, 1)],
                                "kind string, bucket long, cnt long")
    with pytest.raises(ValueError, match="unknown kind"):
        ngram_lm_logprob(ldocs, counts=bad)
    with pytest.raises(ValueError, match="unbounded band"):
        perplexity_filter(ldocs)


def test_wire_roundtrip_matches_local(spark, ldocs):
    """The LM family over blaze://: remote fit (subtree), remote
    self-score chained on it, and a band filter with LOCAL literal
    counts — every value byte-equal to the local run after the
    recorded-schema coercion (the client-entry convention)."""
    from blaze_spark.server import BlazeSparkServer

    srv = BlazeSparkServer({"ldocs": ldocs}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::ldocs", spark=spark)
        fit_r = ngram_lm_fit(rt, n_buckets=B, n=2)
        got = sorted(map(tuple, spark.createDataFrame(
            fit_r.compute(), schema=fit_r.df.schema).collect()))
        want = sorted(map(tuple,
                          ngram_lm_fit(ldocs, n_buckets=B, n=2).collect()))
        assert got == want
        sc_r = ngram_lm_logprob(rt, counts=fit_r, n_buckets=B, n=2)
        got = sorted(map(tuple, spark.createDataFrame(
            sc_r.compute(), schema=sc_r.df.schema).collect()))
        want = sorted(map(tuple,
                          ngram_lm_logprob(ldocs, n_buckets=B,
                                           n=2).collect()))
        assert got == want
        local_counts = ngram_lm_fit(ldocs, n_buckets=B, n=2)
        pf_r = perplexity_filter(rt, counts=local_counts, n_buckets=B,
                                 n=2, max_ppl=100.0)
        got = sorted(map(tuple, spark.createDataFrame(
            pf_r.compute(), schema=pf_r.df.schema).collect()))
        want = sorted(map(tuple, perplexity_filter(
            ldocs, counts=local_counts, n_buckets=B, n=2,
            max_ppl=100.0).select(*pf_r.df.columns).collect()))
        assert got == want and len(got) > 0
    finally:
        srv.stop()


def test_wire_validation(spark, ldocs):
    """Different-server counts/reference raise at entry; an unknown
    node keyword rejects loudly server-side (version-skew posture)."""
    import blaze_spark.interop as interop
    from blaze_spark.server import BlazeSparkServer

    srv = BlazeSparkServer({"ldocs": ldocs}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::ldocs", spark=spark)
        # a local Table ships as literal rows, but a docs table is not
        # a fit relation: refused at construction, before any collect
        with pytest.raises(ValueError, match="kind STRING"):
            ngram_lm_logprob(rt, counts=ldocs)
        with pytest.raises(TypeError, match="SAME server"):
            ngram_lm_logprob(rt, reference=ldocs)
        # the mirror image: LOCAL corpus, REMOTE fit — engines don't mix
        with pytest.raises(TypeError, match="mixes engines"):
            ngram_lm_logprob(ldocs, counts=ngram_lm_fit(rt, n_buckets=B))
        with pytest.raises(ValueError, match="unbounded band"):
            perplexity_filter(rt)
        node = {"op": "ngram_lm_logprob",
                "args": [{"op": "symbol", "args": ["ldocs"]}, None,
                         {"text_col": "text", "id_col": "doc_id",
                          "n_buckets": B, "n": 2, "smoothing": 1.0,
                          "future_knob": 1}]}
        with pytest.raises(ValueError,
                           match="matching client version"):
            interop.from_tree(node, spark=spark,
                              datasets={"ldocs": ldocs})
    finally:
        srv.stop()


# -- r12: stupid-backoff smoothing ----------------------------------------

def _py_backoff(rows, n_buckets=B, n=2, smoothing=1.0, lam=0.4):
    """Reference stupid backoff (Brants et al. 2007) over bucketized
    counts: per-gram ln max(cnt_g/cnt_c, λ·(cnt_u+α)/(N+α·B)) — the
    MLE branch only when BOTH its buckets carry evidence."""
    gram, ctx, uni = {}, {}, {}
    doc_grams = {}
    for doc_id, text in rows:
        toks = text.strip().lower().split()
        grams = ([toks[i:i + n] for i in range(len(toks) - n + 1)]
                 if len(toks) >= n else [])
        doc_grams[doc_id] = grams
        for g in grams:
            bg = _bucket(" ".join(g), n_buckets)
            bc = _bucket(" ".join(g[:-1]), n_buckets)
            bu = _bucket(g[-1], n_buckets)
            gram[bg] = gram.get(bg, 0) + 1
            ctx[bc] = ctx.get(bc, 0) + 1
            uni[bu] = uni.get(bu, 0) + 1
    total = sum(uni.values())
    den = math.log(total + smoothing * n_buckets)
    out = {}
    for doc_id, grams in doc_grams.items():
        s = 0.0
        for g in grams:
            bg = _bucket(" ".join(g), n_buckets)
            bc = _bucket(" ".join(g[:-1]), n_buckets)
            bu = _bucket(g[-1], n_buckets)
            lb = (math.log(lam)
                  + math.log(uni.get(bu, 0) + smoothing) - den)
            if bg in gram and bc in ctx:
                s += max(math.log(gram[bg]) - math.log(ctx[bc]), lb)
            else:
                s += lb
        out[doc_id] = (len(grams), s)
    return out


def test_fit_unigrams_relation(spark, ldocs):
    fit = ngram_lm_fit(ldocs, n_buckets=B, n=2, unigrams=True)
    rows = {(r["kind"], r["bucket"]): r["cnt"] for r in fit.collect()}
    # the PREDICTED token of each bigram: 'sat' is predicted twice
    # ('cat sat', 'dog sat'), 'cat' twice ('the cat' ×2)
    assert rows[("uni", _bucket("sat"))] == 2
    assert rows[("uni", _bucket("cat"))] == 2
    # Σ uni == Σ gram (each gram contributes its final token) — the
    # backoff normalizer needs no extra pass
    assert sum(c for (k, _), c in rows.items() if k == "uni") == \
        sum(c for (k, _), c in rows.items() if k == "gram") == 6
    # a unigrams fit is still a valid add-α counts frame
    a = ngram_lm_logprob(ldocs, n_buckets=B, n=2)
    b = ngram_lm_logprob(ldocs, counts=fit, n_buckets=B, n=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    with pytest.raises(ValueError, match="n >= 2"):
        ngram_lm_fit(ldocs, n_buckets=B, n=1, unigrams=True)


def test_backoff_hand_computed(spark, ldocs):
    rows = [(0, "the cat sat"), (1, "the cat ran"),
            (2, "the dog sat"), (3, "x")]
    expect = _py_backoff(rows, lam=0.4)
    got = {r["doc_id"]: r for r in
           ngram_lm_logprob(ldocs, n_buckets=B, n=2,
                            backoff=0.4).collect()}
    for doc_id, (ng, s) in expect.items():
        r = got[doc_id]
        assert r["n_grams"] == ng
        assert r["logp"] == pytest.approx(round(s, 4), abs=1e-9)
    # an explicit unigrams=True fit via counts= pins path equality
    fit = ngram_lm_fit(ldocs, n_buckets=B, n=2, unigrams=True)
    b = {r["doc_id"]: r for r in
         ngram_lm_logprob(ldocs, counts=fit, n_buckets=B, n=2,
                          backoff=0.4).collect()}
    assert {k: tuple(v) for k, v in got.items()} == \
        {k: tuple(v) for k, v in b.items()}


def test_backoff_sharpens_ood_separation(spark, ldocs):
    """The smoothing IS the discriminator (VERDICT r11): under backoff
    an in-distribution doc keeps raw-MLE bigram scores while gibberish
    pays the λ-discounted unigram floor, so the ppl gap must be at
    least as wide as add-α's on the same fit."""
    other = data([(9, "the cat sat"), (10, "zz qq vv ww")],
                 spark=spark, schema="doc_id bigint, text string",
                 name="odocs2")
    bo = {r["doc_id"]: r for r in
          ngram_lm_logprob(other, reference=ldocs, n_buckets=B, n=2,
                           backoff=0.4).collect()}
    aa = {r["doc_id"]: r for r in
          ngram_lm_logprob(other, reference=ldocs, n_buckets=B,
                           n=2).collect()}
    assert bo[9]["avg_logp"] > bo[10]["avg_logp"]
    assert (bo[9]["avg_logp"] - bo[10]["avg_logp"]) >= \
        (aa[9]["avg_logp"] - aa[10]["avg_logp"])


def test_backoff_band_filter(spark, ldocs):
    scores = {r["doc_id"]: r["ppl"] for r in
              ngram_lm_logprob(ldocs, n_buckets=B, n=2,
                               backoff=0.4).collect()
              if r["ppl"] is not None}
    cut = sorted(scores.values())[1]
    kept = perplexity_filter(ldocs, n_buckets=B, n=2, backoff=0.4,
                             max_ppl=cut)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == sorted(d for d, p in scores.items() if p <= cut)


def test_backoff_validation(spark, ldocs):
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        ngram_lm_logprob(ldocs, n_buckets=B, backoff=1.5)
    with pytest.raises(ValueError, match="n >= 2"):
        ngram_lm_logprob(ldocs, n_buckets=B, n=1, backoff=0.4)
    # an add-α fit carries no 'uni' rows: refit, never score silently
    plain = ngram_lm_fit(ldocs, n_buckets=B, n=2)
    with pytest.raises(ValueError, match="unigrams=True"):
        ngram_lm_logprob(ldocs, counts=plain, n_buckets=B, backoff=0.4)
    # the error names the actual entry point (ADVICE r11)
    with pytest.raises(ValueError,
                       match="perplexity_filter: backoff= needs"):
        perplexity_filter(ldocs, counts=plain, n_buckets=B,
                          backoff=0.4, max_ppl=50.0)


def test_backoff_wire_roundtrip(spark, ldocs):
    """Backoff over blaze://: unigram fit + backoff band filter run
    server-side and match local; r12 fit trees with unknown keywords
    reject loudly (arity + kw guards, ADVICE r11)."""
    import blaze_spark.interop as interop
    from blaze_spark.server import BlazeSparkServer

    srv = BlazeSparkServer({"ldocs": ldocs}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::ldocs", spark=spark)
        fit_r = ngram_lm_fit(rt, n_buckets=B, n=2, unigrams=True)
        got = sorted(map(tuple, spark.createDataFrame(
            fit_r.compute(), schema=fit_r.df.schema).collect()))
        want = sorted(map(tuple, ngram_lm_fit(
            ldocs, n_buckets=B, n=2, unigrams=True).collect()))
        assert got == want
        sc_r = ngram_lm_logprob(rt, counts=fit_r, n_buckets=B, n=2,
                                backoff=0.4)
        got = sorted(map(tuple, spark.createDataFrame(
            sc_r.compute(), schema=sc_r.df.schema).collect()))
        want = sorted(map(tuple, ngram_lm_logprob(
            ldocs, n_buckets=B, n=2, backoff=0.4).collect()))
        assert got == want and len(got) > 0
        # literal-rows counts path carries the uni rows over the wire
        local_fit = ngram_lm_fit(ldocs, n_buckets=B, n=2,
                                 unigrams=True)
        pf_r = perplexity_filter(rt, counts=local_fit, n_buckets=B,
                                 n=2, backoff=0.4, max_ppl=100.0)
        got = sorted(map(tuple, spark.createDataFrame(
            pf_r.compute(), schema=pf_r.df.schema).collect()))
        want = sorted(map(tuple, perplexity_filter(
            ldocs, counts=local_fit, n_buckets=B, n=2, backoff=0.4,
            max_ppl=100.0).select(*pf_r.df.columns).collect()))
        assert got == want and len(got) > 0
    finally:
        srv.stop()
    # version-skew guards on the fit node
    with pytest.raises(ValueError, match="matching client version"):
        interop.from_tree(
            {"op": "ngram_lm_fit",
             "args": [{"op": "symbol", "args": ["ldocs"]},
                      {"n_buckets": B, "future_knob": True}]},
            spark=spark, datasets={"ldocs": ldocs})
    with pytest.raises(ValueError, match="matching client version"):
        interop.from_tree(
            {"op": "ngram_lm_fit",
             "args": [{"op": "symbol", "args": ["ldocs"]},
                      {"n_buckets": B, "unigrams": True}, "extra"]},
            spark=spark, datasets={"ldocs": ldocs})


# -- r13: multi-order stupid backoff (VERDICT r12 #2) -----------------------

def _py_backoff_multi(fit_rows, score_rows, n_buckets=B, n=3,
                      smoothing=1.0, lam=0.4):
    """Reference MULTI-ORDER stupid backoff: per-gram max over the
    order ladder MLE_n, λ·MLE_{n−1}, ..., λ^{n−1}·P_uni, counting each
    lower order as the k-token SUFFIX at the n-gram positions of the
    fit corpus (lm.py's one-pass fit semantics)."""
    counts = {}  # (order, 'g'|'c') -> {bucket: cnt}
    uni = {}
    for _, text in fit_rows:
        toks = text.strip().lower().split()
        for i in range(len(toks) - n + 1):
            e = toks[i:i + n]
            for k in range(n, 1, -1):
                suf = e[n - k:]
                gk = counts.setdefault((k, "g"), {})
                ck = counts.setdefault((k, "c"), {})
                bg = _bucket(" ".join(suf), n_buckets)
                bc = _bucket(" ".join(suf[:-1]), n_buckets)
                gk[bg] = gk.get(bg, 0) + 1
                ck[bc] = ck.get(bc, 0) + 1
            bu = _bucket(e[-1], n_buckets)
            uni[bu] = uni.get(bu, 0) + 1
    total = sum(uni.values())
    den = math.log(total + smoothing * n_buckets)
    lml = math.log(lam)
    out = {}
    for doc_id, text in score_rows:
        toks = text.strip().lower().split()
        grams = ([toks[i:i + n] for i in range(len(toks) - n + 1)]
                 if len(toks) >= n else [])
        s = 0.0
        for e in grams:
            cands = [(n - 1) * lml
                     + math.log(uni.get(_bucket(e[-1], n_buckets), 0)
                                + smoothing) - den]
            for k in range(n, 1, -1):
                suf = e[n - k:]
                bg = _bucket(" ".join(suf), n_buckets)
                bc = _bucket(" ".join(suf[:-1]), n_buckets)
                g = counts.get((k, "g"), {}).get(bg)
                c = counts.get((k, "c"), {}).get(bc)
                if g and c:
                    cands.append((n - k) * lml
                                 + math.log(g) - math.log(c))
            s += max(cands)
        out[doc_id] = (len(grams), s)
    return out


def test_fit_multiorder_kinds(spark, ldocs):
    """n=3 unigrams=True emits the intermediate-order relations in the
    SAME one-pass fit; n=2 stays exactly the r12 three kinds."""
    fit3 = ngram_lm_fit(ldocs, n_buckets=B, n=3, unigrams=True)
    rows = {(r["kind"], r["bucket"]): r["cnt"] for r in fit3.collect()}
    kinds = {k for k, _ in rows}
    assert kinds == {"gram", "ctx", "uni", "gram2", "ctx2"}
    # suffix counting at n-gram positions: every order sums to the
    # same event total, so each order's MLE is a proper conditional
    tot = {k: sum(c for (kk, _), c in rows.items() if kk == k)
           for k in kinds}
    assert tot["gram"] == tot["gram2"] == tot["uni"] == tot["ctx"] \
        == tot["ctx2"]
    # byte-compat: an n=2 unigrams fit emits exactly the r12 kinds
    fit2 = ngram_lm_fit(ldocs, n_buckets=B, n=2, unigrams=True)
    assert {r["kind"] for r in fit2.collect()} == {"gram", "ctx", "uni"}
    # the order bound is loud
    with pytest.raises(ValueError, match="bounds n"):
        ngram_lm_fit(ldocs, n_buckets=B, n=9, unigrams=True)
    with pytest.raises(ValueError, match="bounds n"):
        ngram_lm_logprob(ldocs, n_buckets=B, n=9, backoff=0.4)


def test_backoff_multiorder_hand_computed(spark, ldocs):
    """n=3 scoring matches the pure-Python multi-order ladder on a
    cross-corpus fit (so intermediate hops actually fire)."""
    fit_rows = [(0, "the cat sat"), (1, "the cat ran"),
                (2, "the dog sat"), (3, "x")]
    score_rows = [(7, "big dog sat"),   # trigram unseen, 'dog sat' seen
                  (8, "the cat sat"),   # trigram seen
                  (9, "zz qq vv")]      # nothing seen
    other = data(score_rows, spark=spark,
                 schema="doc_id bigint, text string", name="modocs")
    expect = _py_backoff_multi(fit_rows, score_rows, n=3, lam=0.4)
    got = {r["doc_id"]: r for r in
           ngram_lm_logprob(other, reference=ldocs, n_buckets=B, n=3,
                            backoff=0.4).collect()}
    for doc_id, (ng, s) in expect.items():
        assert got[doc_id]["n_grams"] == ng
        assert got[doc_id]["logp"] == pytest.approx(round(s, 4),
                                                    abs=1e-9)


def test_backoff_multiorder_intermediate_hop(spark, ldocs):
    """The recursion really hops through the intermediate order: a
    trigram ABSENT from the reference whose 2-token suffix IS a
    reference trigram suffix scores λ·MLE_2 — strictly above the
    λ²·unigram floor it would get under r12's single-hop form."""
    other = data([(7, "big dog sat")], spark=spark,
                 schema="doc_id bigint, text string", name="hopdocs")
    got = ngram_lm_logprob(other, reference=ldocs, n_buckets=B, n=3,
                           backoff=0.4).collect()[0]
    # hand values: fit events are the two ldocs trigrams
    # 'the cat sat', 'the cat ran', 'the dog sat' → gram2 counts:
    # 'cat sat' 1, 'cat ran' 1, 'dog sat' 1; ctx2: 'cat' 2, 'dog' 1;
    # uni: sat 2, ran 1.  Scoring 'big dog sat': trigram unseen,
    # gram2('dog sat')=1 / ctx2('dog')=1 → λ·ln-ratio = ln(0.4).
    lam = math.log(0.4)
    want_hop = lam + math.log(1) - math.log(1)
    floor = 2 * lam + math.log(2 + 1) - math.log(3 + B)
    assert want_hop > floor
    assert got["logp"] == pytest.approx(round(want_hop, 4), abs=1e-9)


def test_backoff_greatest_deviation(spark):
    """PINS the deliberate max()-vs-Brants deviation (VERDICT r12
    missing #2): Brants et al. 2007 score the raw MLE whenever gram
    evidence exists; this implementation floors a seen-but-rare gram
    at the backoff value (a guard against hash-collision noise in
    bucketized counts).  A crafted counts relation where the backoff
    branch exceeds a seen gram's MLE must score the BACKOFF value."""
    t = data([(1, "a b")], spark=spark,
             schema="doc_id bigint, text string", name="devdocs")
    counts = spark.createDataFrame(
        [("gram", _bucket("a b"), 1),     # seen once...
         ("ctx", _bucket("a"), 1000),     # ...in a huge context
         ("uni", _bucket("b"), 5000)],
        "kind string, bucket long, cnt long")
    got = ngram_lm_logprob(t, counts=counts, n_buckets=B, n=2,
                           backoff=0.4).collect()[0]
    mle = math.log(1) - math.log(1000)
    back = math.log(0.4) + math.log(5000 + 1) - math.log(5000 + B)
    assert back > mle  # the crafted inversion
    assert got["logp"] == pytest.approx(round(back, 4), abs=1e-9)
    assert got["logp"] != pytest.approx(round(mle, 4), abs=1e-6)


def test_backoff_multiorder_wire_roundtrip(spark, ldocs):
    """n=3 backoff over blaze://: the literal counts rows carry the
    intermediate 'gram2'/'ctx2' kinds and replay to the local result;
    a counts relation MISSING them (an r12 fit) rejects loudly."""
    from blaze_spark.server import BlazeSparkServer

    srv = BlazeSparkServer({"ldocs": ldocs}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::ldocs", spark=spark)
        local_fit = ngram_lm_fit(ldocs, n_buckets=B, n=3,
                                 unigrams=True)
        sc_r = ngram_lm_logprob(rt, counts=local_fit, n_buckets=B,
                                n=3, backoff=0.4)
        got = sorted(map(tuple, spark.createDataFrame(
            sc_r.compute(), schema=sc_r.df.schema).collect()))
        want = sorted(map(tuple, ngram_lm_logprob(
            ldocs, counts=local_fit, n_buckets=B, n=3,
            backoff=0.4).collect()))
        assert got == want and len(got) > 0
        # an n=2-style fit (no intermediate kinds) cannot score n=3
        old_fit = ngram_lm_fit(ldocs, n_buckets=B, n=3)
        with pytest.raises(ValueError, match="unigrams=True"):
            ngram_lm_logprob(ldocs, counts=old_fit, n_buckets=B, n=3,
                             backoff=0.4)
    finally:
        srv.stop()


# -- r13 (second half): interpolated (Jelinek–Mercer) smoothing ------------

def _py_interp(rows, n_buckets=B, n=2, smoothing=1.0, lam=0.5):
    """Reference JM interpolation over bucketized counts: per-gram
    ln Σ-mixture through the order ladder down to the add-α unigram;
    every lower order counts the k-token SUFFIX at n-gram positions
    (so each order's conditional is over the same event set)."""
    per_k = {k: ({}, {}) for k in range(2, n + 1)}   # k -> (gram, ctx)
    uni = {}
    doc_grams = {}
    for doc_id, text in rows:
        toks = text.strip().lower().split()
        grams = ([toks[i:i + n] for i in range(len(toks) - n + 1)]
                 if len(toks) >= n else [])
        doc_grams[doc_id] = grams
        for g in grams:
            bu = _bucket(g[-1], n_buckets)
            uni[bu] = uni.get(bu, 0) + 1
            for k in range(2, n + 1):
                suf = g[n - k:]
                gk, ck = per_k[k]
                bg = _bucket(" ".join(suf), n_buckets)
                bc = _bucket(" ".join(suf[:-1]), n_buckets)
                gk[bg] = gk.get(bg, 0) + 1
                ck[bc] = ck.get(bc, 0) + 1
    total = sum(uni.values())
    den = math.log(total + smoothing * n_buckets)
    out = {}
    for doc_id, grams in doc_grams.items():
        s = 0.0
        for g in grams:
            bu = _bucket(g[-1], n_buckets)
            p = math.exp(math.log(uni.get(bu, 0) + smoothing) - den)
            for k in range(2, n + 1):
                suf = g[n - k:]
                gk, ck = per_k[k]
                bg = _bucket(" ".join(suf), n_buckets)
                bc = _bucket(" ".join(suf[:-1]), n_buckets)
                mle = (math.exp(math.log(gk[bg]) - math.log(ck[bc]))
                       if bg in gk and bc in ck else 0.0)
                p = lam * mle + (1.0 - lam) * p
            s += math.log(p)
        out[doc_id] = (len(grams), s)
    return out


def test_interp_hand_computed(spark, ldocs):
    rows = [(0, "the cat sat"), (1, "the cat ran"),
            (2, "the dog sat"), (3, "x")]
    expect = _py_interp(rows, lam=0.5)
    got = {r["doc_id"]: r for r in
           ngram_lm_logprob(ldocs, n_buckets=B, n=2,
                            interpolate=0.5).collect()}
    for doc_id, (ng, s) in expect.items():
        r = got[doc_id]
        assert r["n_grams"] == ng
        if ng:
            assert r["logp"] == pytest.approx(round(s, 4), abs=1e-9)
            assert r["ppl"] == pytest.approx(
                round(math.exp(-s / ng), 4), abs=1e-9)
        else:
            assert r["ppl"] is None
    # a true probability: every per-doc avg_logp is <= 0 here (tiny
    # corpus, no bucket collisions at B=64 with 7 distinct tokens)
    assert all(r["logp"] <= 0 for r in got.values())


def test_interp_multiorder_hand_computed(spark):
    rows = [(0, "a b c a b c a b d"), (1, "c b a"), (2, "a b c"),
            (3, "z z z z")]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="i3docs")
    expect = _py_interp(rows, n=3, lam=0.4)
    got = {r["doc_id"]: r for r in
           ngram_lm_logprob(t, n_buckets=B, n=3,
                            interpolate=0.4).collect()}
    for doc_id, (ng, s) in expect.items():
        assert got[doc_id]["n_grams"] == ng
        if ng:
            assert got[doc_id]["logp"] == pytest.approx(
                round(s, 4), abs=1e-9)


def test_interp_validation(spark, ldocs):
    with pytest.raises(ValueError, match="in \\(0, 1\\)"):
        ngram_lm_logprob(ldocs, n_buckets=B, interpolate=1.0)
    with pytest.raises(ValueError, match="in \\(0, 1\\)"):
        ngram_lm_logprob(ldocs, n_buckets=B, interpolate=0.0)
    with pytest.raises(ValueError, match="n >= 2"):
        ngram_lm_logprob(ldocs, n_buckets=B, n=1, interpolate=0.5)
    with pytest.raises(ValueError, match="alternative smoothing"):
        ngram_lm_logprob(ldocs, n_buckets=B, backoff=0.4,
                         interpolate=0.5)
    plain = ngram_lm_fit(ldocs, n_buckets=B, n=2)  # no 'uni' rows
    with pytest.raises(ValueError, match="interpolate= needs"):
        ngram_lm_logprob(ldocs, counts=plain, n_buckets=B,
                         interpolate=0.5)


def test_interp_band_filter(spark, ldocs):
    scored = ngram_lm_logprob(ldocs, n_buckets=B, n=2,
                              interpolate=0.5).collect()
    ppls = sorted(r["ppl"] for r in scored if r["ppl"] is not None)
    cut = (ppls[0] + ppls[-1]) / 2
    kept = perplexity_filter(ldocs, n_buckets=B, n=2, interpolate=0.5,
                             max_ppl=cut)
    want = {r["doc_id"] for r in scored
            if r["ppl"] is not None and r["ppl"] <= cut}
    assert {r["doc_id"] for r in kept.collect()} == want


def test_interp_wire_roundtrip(spark, ldocs):
    from blaze_spark import data as bs_data
    from blaze_spark.server import BlazeSparkServer

    srv = BlazeSparkServer({"ldocs": ldocs}, spark)
    srv.start(port=0)
    try:
        rt = bs_data(f"blaze://127.0.0.1:{srv.port}::ldocs",
                     spark=spark)
        local = ngram_lm_logprob(ldocs, n_buckets=B, n=2,
                                 interpolate=0.5)
        remote = ngram_lm_logprob(rt, n_buckets=B, n=2,
                                  interpolate=0.5)
        got = sorted(map(tuple, spark.createDataFrame(
            remote.compute(), schema=remote.df.schema).collect()))
        assert got == sorted(map(tuple, local.collect()))
        # the interpolate kw rides only when set — default trees stay
        # byte-identical to the r12 form
        from blaze_spark.interop import to_tree
        plain = ngram_lm_logprob(rt, n_buckets=B, n=2)
        assert "interpolate" not in to_tree(plain)["args"][2]
    finally:
        srv.stop()


def _sep_fixture_rows():
    """The smoothing-quality fixture (PLANS.md r13): a reference
    corpus with strong deterministic bigram structure, in-domain test
    docs drawn from the same chains, and OOD docs that are the SAME
    unigrams scrambled — so unigram evidence alone cannot separate
    and the scheme's treatment of unseen bigrams is what's measured."""
    chains = [
        "the cat sat on the mat", "the dog ran in the park",
        "a bird flew over a tree", "the fish swam in the pond",
    ]
    ref = [(i, chains[i % 4]) for i in range(40)]
    in_dom = [(100 + i, chains[i % 4]) for i in range(8)]
    # deterministic scramble: reverse + rotate mixes words ACROSS
    # chain templates, killing every trained bigram
    words = " ".join(chains).split()
    ood = []
    for i in range(8):
        w = list(reversed(words[i::3]))[:6]
        ood.append((200 + i, " ".join(w)))
    return ref, in_dom + ood


def test_smoothing_separation_fixture(spark):
    """All three schemes must separate in-domain from scrambled OOD
    (mean OOD ppl ≥ 2× mean in-domain ppl); the laddered schemes must
    separate at least as well as add-α — the measured numbers are
    recorded in PLANS.md r13."""
    ref_rows, test_rows = _sep_fixture_rows()
    ref = data(ref_rows, spark=spark,
               schema="doc_id bigint, text string", name="sep_ref")
    tst = data(test_rows, spark=spark,
               schema="doc_id bigint, text string", name="sep_tst")
    seps = {}
    for name, kw in [("add_alpha", {}),
                     ("backoff", {"backoff": 0.4}),
                     ("interp", {"interpolate": 0.5}),
                     ("kn", {"kneser_ney": 0.75})]:
        got = ngram_lm_logprob(tst, reference=ref, n_buckets=256,
                               n=2, **kw).collect()
        ppl = {r["doc_id"]: r["ppl"] for r in got
               if r["ppl"] is not None}
        in_mean = sum(v for k, v in ppl.items() if k < 200) / \
            sum(1 for k in ppl if k < 200)
        ood_mean = sum(v for k, v in ppl.items() if k >= 200) / \
            sum(1 for k in ppl if k >= 200)
        seps[name] = ood_mean / in_mean
    assert all(s >= 2.0 for s in seps.values()), seps
    assert seps["backoff"] >= seps["add_alpha"], seps
    assert seps["interp"] >= seps["add_alpha"], seps
    assert seps["kn"] >= seps["add_alpha"], seps


# ---------------------------------------------------------------------------
# Interpolated Kneser–Ney (r13 second half): continuation-TYPE-count
# fits, the discount/interpolation chain, the novel-context pin, the
# estimated discount, and the wire form.

def _py_kn(rows, n_buckets=B, n=2, D=0.75, alpha=1.0):
    """Independent interpolated-KN reference (bigram + trigram): exact
    event counts and DISTINCT bucket-pair type sets under the module's
    suffix-at-position convention."""
    cg, cc = {}, {}
    tc2, td2, tf2m = {}, {}, {}
    t_c1, t_f3, t_c2, t_d2, t_f2 = set(), set(), set(), set(), set()
    events = {}
    for doc_id, text in rows:
        tk = text.strip().lower().split()
        events[doc_id] = []
        for j in range(max(len(tk) - n + 1, 0)):
            g = " ".join(tk[j:j + n])
            c = " ".join(tk[j:j + n - 1])
            u = tk[j + n - 1]
            gb, cb, ub = _bucket(g, n_buckets), _bucket(c, n_buckets), \
                _bucket(u, n_buckets)
            cg[gb] = cg.get(gb, 0) + 1
            cc[cb] = cc.get(cb, 0) + 1
            t_f3.add((gb, cb))
            if n == 2:
                t_c1.add((gb, ub))
                events[doc_id].append((gb, cb, None, None, ub))
            else:                               # n == 3
                s2 = " ".join(tk[j + 1:j + 3])
                c2 = tk[j + 1]
                g2b, c2b = _bucket(s2, n_buckets), _bucket(c2, n_buckets)
                t_c2.add((gb, g2b))
                t_d2.add((gb, c2b))
                t_f2.add((g2b, c2b))
                t_c1.add((g2b, ub))
                events[doc_id].append((gb, cb, g2b, c2b, ub))

    def agg(pairs):
        d = {}
        for hi, lo in pairs:
            d[lo] = d.get(lo, 0) + 1
        return d

    tfn, t1 = agg(t_f3), agg(t_c1)
    tc2, td2, tf2m = agg(t_c2), agg(t_d2), agg(t_f2)
    T = len(t_c1)
    out = {}
    for doc_id, evs in events.items():
        s = 0.0
        for gb, cb, g2b, c2b, ub in evs:
            p = (t1.get(ub, 0) + alpha) / (T + alpha * n_buckets)
            if n == 3:
                num2 = (max(tc2.get(g2b, 0) - D, 0.0) / td2[c2b]
                        if c2b in td2 else 0.0)
                gam2 = ((D * tf2m[c2b]) / td2[c2b]
                        if c2b in td2 else 1.0)
                p = num2 + gam2 * p
            num = max(cg[gb] - D, 0.0) / cc[cb] if cb in cc else 0.0
            gam = (D * tfn[cb]) / cc[cb] if cb in cc else 1.0
            s += math.log(num + gam * p)
        out[doc_id] = (len(evs), round(s, 4) + 0.0)
    return out


def test_kn_fit_type_kinds(spark, ldocs):
    """continuations=True emits exactly the KN type kinds, with
    hand-verifiable distinct counts: ldocs' bigram types are
    {'the cat'×2 docs → 1 type, 'cat sat', 'cat ran', 'the dog',
    'dog sat'} = 5 types over 64 buckets (no collisions on this
    corpus), so Σ tcont1 = 5 and Σ tfol2 = #distinct ctx→gram types
    grouped per ctx."""
    fit = ngram_lm_fit(ldocs, n_buckets=B, n=2, continuations=True)
    kinds = {}
    for r in fit.collect():
        kinds.setdefault(r["kind"], {})[r["bucket"]] = r["cnt"]
    assert set(kinds) == {"gram", "ctx", "tcont1", "tfol2"}
    assert sum(kinds["tcont1"].values()) == 5
    assert sum(kinds["tfol2"].values()) == 5
    # 'sat' continues 2 distinct grams (cat sat, dog sat)
    assert kinds["tcont1"][_bucket("sat")] == 2
    # ctx 'the' is followed by 2 distinct gram types, ctx 'cat' by 2
    assert kinds["tfol2"][_bucket("the")] == 2
    assert kinds["tfol2"][_bucket("cat")] == 2
    assert kinds["tfol2"][_bucket("dog")] == 1
    # n=2 default fit byte-unchanged (no type kinds)
    plain = ngram_lm_fit(ldocs, n_buckets=B, n=2)
    assert {r["kind"] for r in plain.collect()} == {"gram", "ctx"}


def test_kn_hand_computed(spark, ldocs):
    rows = [(0, "the cat sat"), (1, "the cat ran"), (2, "the dog sat"),
            (3, "x")]
    want = _py_kn(rows, n_buckets=B, n=2, D=0.75)
    got = ngram_lm_logprob(ldocs, n_buckets=B, n=2,
                           kneser_ney=0.75).collect()
    for r in got:
        ng, lp = want[r["doc_id"]]
        assert r["n_grams"] == ng
        assert r["logp"] == lp, (r["doc_id"], r["logp"], lp)


def test_kn_trigram_hand_computed(spark):
    rows = [(1, "the cat sat on the mat today"),
            (2, "the dog sat on the log today"),
            (3, "a cat and a dog play outside now"),
            (4, "one two three one two three one two"),
            (5, "xy z")]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="kn3docs")
    want = _py_kn(rows, n_buckets=4096, n=3, D=0.6)
    got = ngram_lm_logprob(t, n_buckets=4096, n=3,
                           kneser_ney=0.6).collect()
    for r in got:
        ng, lp = want[r["doc_id"]]
        assert r["n_grams"] == ng and r["logp"] == lp, \
            (r["doc_id"], r["logp"], lp)


def test_kn_continuation_beats_frequency(spark):
    """THE Kneser–Ney property (the 'San Francisco' effect): two
    tokens equally FREQUENT in the reference, one seen after many
    distinct contexts ('red' — 4), one only ever after 'san'
    ('francisco' — 1 context, 4 occurrences).  In a NOVEL context
    the continuation base must prefer 'red'; add-α, which backs off
    to nothing and sees two equally-unseen grams, ties them."""
    ref = data([(0, "big red small red dark red light red"),
                (1, "san francisco san francisco san francisco "
                    "san francisco")],
               spark=spark, schema="doc_id bigint, text string",
               name="kn_ref")
    tst = data([(10, "blue red"), (11, "blue francisco")],
               spark=spark, schema="doc_id bigint, text string",
               name="kn_tst")
    kn = {r["doc_id"]: r["logp"]
          for r in ngram_lm_logprob(tst, reference=ref, n_buckets=4096,
                                    n=2, kneser_ney=0.75).collect()}
    assert kn[10] > kn[11], kn
    aa = {r["doc_id"]: r["logp"]
          for r in ngram_lm_logprob(tst, reference=ref, n_buckets=4096,
                                    n=2).collect()}
    assert aa[10] == aa[11], aa


def test_kn_estimate_discount(spark, ldocs):
    """kneser_ney=True == the explicit Chen & Goodman estimate
    n1/(n1+2·n2) computed from the gram counts-of-counts."""
    fit = ngram_lm_fit(ldocs, n_buckets=B, n=2, continuations=True)
    gram = [r["cnt"] for r in fit.collect() if r["kind"] == "gram"]
    n1 = sum(1 for c in gram if c == 1)
    n2 = sum(1 for c in gram if c == 2)
    D = n1 / (n1 + 2.0 * n2)
    got_t = sorted(map(tuple, ngram_lm_logprob(
        ldocs, n_buckets=B, n=2, kneser_ney=True).collect()))
    got_d = sorted(map(tuple, ngram_lm_logprob(
        ldocs, n_buckets=B, n=2, kneser_ney=D).collect()))
    assert got_t == got_d


def test_kn_band_filter(spark, ldocs):
    scores = {r["doc_id"]: r["ppl"]
              for r in ngram_lm_logprob(ldocs, n_buckets=B, n=2,
                                        kneser_ney=0.75).collect()
              if r["ppl"] is not None}
    cut = sorted(scores.values())[1]
    kept = perplexity_filter(ldocs, n_buckets=B, n=2,
                             kneser_ney=0.75, max_ppl=cut)
    assert {r["doc_id"] for r in kept.collect()} == \
        {d for d, p in scores.items() if p <= cut}


def test_kn_validation(spark, ldocs):
    with pytest.raises(ValueError, match="alternative smoothing"):
        ngram_lm_logprob(ldocs, n_buckets=B, kneser_ney=0.75,
                         backoff=0.4)
    with pytest.raises(ValueError, match="alternative smoothing"):
        ngram_lm_logprob(ldocs, n_buckets=B, kneser_ney=0.75,
                         interpolate=0.5)
    with pytest.raises(ValueError, match="discount D in"):
        ngram_lm_logprob(ldocs, n_buckets=B, kneser_ney=1.5)
    with pytest.raises(ValueError, match="discount D in"):
        ngram_lm_logprob(ldocs, n_buckets=B, kneser_ney=0.0)
    with pytest.raises(ValueError, match="kneser_ney requires"):
        ngram_lm_logprob(ldocs, n_buckets=B, n=1, kneser_ney=0.75)
    with pytest.raises(ValueError, match="continuations=True"):
        ngram_lm_fit(ldocs, n_buckets=B, n=1, continuations=True)
    # an add-α fit has no type kinds: loud refit guidance
    plain = ngram_lm_fit(ldocs, n_buckets=B, n=2)
    with pytest.raises(ValueError, match="continuations=True"):
        ngram_lm_logprob(ldocs, counts=plain, n_buckets=B, n=2,
                         kneser_ney=0.75)
    # a hand-built frame with event rows but missing type rows for a
    # bucket is inconsistent (type counts do not sum across snapshots)
    fit = ngram_lm_fit(ldocs, n_buckets=B, n=2,
                       continuations=True).collect()
    broken = [tuple(r) for r in fit
              if not (r["kind"] == "tfol2"
                      and r["bucket"] == _bucket("the"))]
    bdf = spark.createDataFrame(broken,
                                "kind string, bucket long, cnt long")
    with pytest.raises(ValueError, match="inconsistent"):
        ngram_lm_logprob(ldocs, counts=bdf, n_buckets=B, n=2,
                         kneser_ney=0.75)


def test_kn_wire_roundtrip(spark, ldocs):
    """KN over blaze://: the continuations fit and KN scoring run
    server-side and match local; the literal-rows counts path carries
    the type kinds; kneser_ney=True estimates server-side."""
    from blaze_spark.server import BlazeSparkServer

    srv = BlazeSparkServer({"ldocs": ldocs}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::ldocs", spark=spark)
        fit_r = ngram_lm_fit(rt, n_buckets=B, n=2, continuations=True)
        got = sorted(map(tuple, spark.createDataFrame(
            fit_r.compute(), schema=fit_r.df.schema).collect()))
        want = sorted(map(tuple, ngram_lm_fit(
            ldocs, n_buckets=B, n=2, continuations=True).collect()))
        assert got == want
        sc_r = ngram_lm_logprob(rt, counts=fit_r, n_buckets=B, n=2,
                                kneser_ney=0.75)
        got = sorted(map(tuple, spark.createDataFrame(
            sc_r.compute(), schema=sc_r.df.schema).collect()))
        want = sorted(map(tuple, ngram_lm_logprob(
            ldocs, n_buckets=B, n=2, kneser_ney=0.75).collect()))
        assert got == want and len(got) > 0
        # estimated discount serializes as True and resolves remotely
        est_r = ngram_lm_logprob(rt, counts=fit_r, n_buckets=B, n=2,
                                 kneser_ney=True)
        got = sorted(map(tuple, spark.createDataFrame(
            est_r.compute(), schema=est_r.df.schema).collect()))
        want = sorted(map(tuple, ngram_lm_logprob(
            ldocs, n_buckets=B, n=2, kneser_ney=True).collect()))
        assert got == want
        # literal local counts frame ships the type kinds in the node
        local_fit = ngram_lm_fit(ldocs, n_buckets=B, n=2,
                                 continuations=True)
        pf_r = perplexity_filter(rt, counts=local_fit, n_buckets=B,
                                 n=2, kneser_ney=0.75, max_ppl=1000.0)
        got = sorted(map(tuple, spark.createDataFrame(
            pf_r.compute(), schema=pf_r.df.schema).collect()))
        want = sorted(map(tuple, perplexity_filter(
            ldocs, counts=local_fit, n_buckets=B, n=2,
            kneser_ney=0.75,
            max_ppl=1000.0).select(*pf_r.df.columns).collect()))
        assert got == want and len(got) > 0
    finally:
        srv.stop()


def test_kn_composes_with_tokenizer(spark, ldocs):
    """kneser_ney= threads tokenizer= end to end: the type counts are
    over the tokenizer's pieces (the fused fit uses one positioned
    frame), scores differ from the whitespace path and stay finite,
    and counts=/inline paths agree."""
    from blaze_spark.pipeline import VocabTokenizer

    vt = VocabTokenizer(["the", "cat"], fallback_chars=2)
    fit = ngram_lm_fit(ldocs, n_buckets=B, n=2, continuations=True,
                       tokenizer=vt)
    via_counts = sorted(map(tuple, ngram_lm_logprob(
        ldocs, counts=fit, n_buckets=B, n=2, kneser_ney=0.75,
        tokenizer=vt).collect()))
    inline = sorted(map(tuple, ngram_lm_logprob(
        ldocs, n_buckets=B, n=2, kneser_ney=0.75,
        tokenizer=vt).collect()))
    assert via_counts == inline
    plain = sorted(map(tuple, ngram_lm_logprob(
        ldocs, n_buckets=B, n=2, kneser_ney=0.75).collect()))
    assert via_counts != plain          # pieces changed the grams
    for row in inline:
        assert all(v == v for v in row if isinstance(v, float))


# ---------------------------------------------------------------------------
# perplexity_buckets — CCNet head/middle/tail (r15)


@pytest.fixture(scope="module")
def bdocs(spark):
    """9 docs per 'language' with increasingly out-of-model bigrams, so
    per-group perplexities are distinct and ordered by i."""
    rows = []
    for lang in ("aa", "bb"):
        for i in range(9):
            # common mass + i rare bigrams; the bb corpus reuses the
            # same shape so the groups have comparable spreads
            text = ("the cat sat " * 6
                    + " ".join(f"rare{lang}{i}x{j}" for j in range(i + 1)))
            rows.append((len(rows), text, lang))
    return data(rows, spark=spark,
                schema="doc_id bigint, text string, lang string",
                name="bdocs")


def test_perplexity_buckets_terciles(spark, bdocs):
    """Per-group terciles on 9 distinct scores split 3/3/3, with head =
    the three LOWEST perplexities of that group."""
    from blaze_spark.pipeline import ngram_lm_logprob, perplexity_buckets

    out = perplexity_buckets(bdocs, n_buckets=B, n=2, by_col="lang")
    rows = out.select("doc_id", "lang", "ppl", "ppl_bucket").collect()
    assert len(rows) == 18
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        counts = {"head": 0, "middle": 0, "tail": 0}
        for r in rs:
            counts[r.ppl_bucket] += 1
        assert counts == {"head": 3, "middle": 3, "tail": 3}, lang
        ranked = sorted(rs, key=lambda r: r.ppl)
        assert [r.ppl_bucket for r in ranked] == \
            ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    # scores match the plain scorer (the bucket column is additive)
    ppl = {r.doc_id: r.ppl for r in
           ngram_lm_logprob(bdocs, n_buckets=B, n=2).collect()}
    for r in rows:
        assert r.ppl == ppl[r.doc_id]


def test_perplexity_buckets_corpus_wide_and_custom(spark, bdocs):
    """by_col=None ranks the whole corpus together; custom quantile
    cuts and labels (quartiles) are honored."""
    from blaze_spark.pipeline import perplexity_buckets

    out = perplexity_buckets(
        bdocs, n_buckets=B, n=2,
        quantiles=(0.25, 0.5, 0.75),
        labels=("q1", "q2", "q3", "q4"))
    rows = out.select("doc_id", "ppl", "ppl_bucket").collect()
    assert len(rows) == 18
    ranked = sorted(rows, key=lambda r: (r.ppl, r.doc_id))
    got = [r.ppl_bucket for r in ranked]
    # 18 values, cuts at interpolated positions 4.25/8.5/12.75:
    # <=t1 catches ranks 0-4 iff ties allow — on distinct-ish scores
    # expect a 5/4/4/5 or neighboring split; assert monotone blocks
    assert got == sorted(got, key=["q1", "q2", "q3", "q4"].index)
    assert {g for g in got} == {"q1", "q2", "q3", "q4"}


def test_perplexity_buckets_boundary_tie(spark):
    """A document whose round-4 ppl EQUALS the threshold lands in the
    lower bucket (<=), and identical scores land in the same bucket on
    both sides of the cut when the quantile hits a data point."""
    from blaze_spark.pipeline import perplexity_buckets

    # 3 docs with IDENTICAL text -> identical ppl; plus 3 distinct
    rows = [(i, "the cat sat the cat sat", "xx") for i in range(3)]
    rows += [(3 + j, "the cat sat " + " ".join(f"z{j}w{k}"
                                               for k in range(j + 1)),
              "xx") for j in range(3)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, lang string",
             name="tiedocs")
    out = perplexity_buckets(t, n_buckets=B, n=2, by_col="lang")
    got = {r.doc_id: (r.ppl, r.ppl_bucket)
           for r in out.select("doc_id", "ppl", "ppl_bucket").collect()}
    # the three tied docs share one bucket
    assert len({got[i] for i in (0, 1, 2)}) == 1


def test_perplexity_buckets_validation(spark, bdocs):
    from blaze_spark.pipeline import perplexity_buckets

    with pytest.raises(ValueError, match="strictly"):
        perplexity_buckets(bdocs, quantiles=(0.5, 0.5))
    with pytest.raises(ValueError, match="strictly"):
        perplexity_buckets(bdocs, quantiles=(0.0, 0.5))
    with pytest.raises(ValueError, match="label"):
        perplexity_buckets(bdocs, quantiles=(0.5,),
                           labels=("a", "b", "c"))
    with pytest.raises(ValueError, match="duplicate"):
        perplexity_buckets(bdocs, quantiles=(0.5,), labels=("a", "a"))
    with pytest.raises(ValueError, match="by_col"):
        perplexity_buckets(bdocs, by_col="nope")


def test_perplexity_buckets_partitioning_and_persist(spark, bdocs):
    """Adversarial input partitioning leaves the assignment
    byte-identical."""
    from blaze_spark.core import Table
    from blaze_spark.pipeline import perplexity_buckets

    base = sorted(map(tuple, perplexity_buckets(
        bdocs, n_buckets=B, n=2, by_col="lang")
        .select("doc_id", "ppl", "ppl_bucket").collect()))
    shuf = Table(bdocs.df.repartition(7), "bdocs_r")
    assert sorted(map(tuple, perplexity_buckets(
        shuf, n_buckets=B, n=2, by_col="lang")
        .select("doc_id", "ppl", "ppl_bucket").collect())) == base


def test_perplexity_buckets_wire_roundtrip(spark, bdocs):
    """perplexity_buckets over blaze:// matches the local run; unknown
    keywords on an old-style node reject loudly."""
    from blaze_spark.pipeline import perplexity_buckets
    from blaze_spark.server import BlazeSparkServer

    srv = BlazeSparkServer({"bdocs": bdocs}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::bdocs", spark=spark)
        pb_r = perplexity_buckets(rt, n_buckets=B, n=2, by_col="lang")
        got = sorted(map(tuple, spark.createDataFrame(
            pb_r.compute(), schema=pb_r.df.schema).collect()))
        want = sorted(map(tuple, perplexity_buckets(
            bdocs, n_buckets=B, n=2, by_col="lang")
            .select(*pb_r.df.columns).collect()))
        assert got == want and len(got) == 18
        with pytest.raises(ValueError, match="quantiles"):
            perplexity_buckets(rt, quantiles=(0.9, 0.1))
    finally:
        srv.stop()


def test_perplexity_buckets_collision_guards(spark, bdocs):
    """by_col == id_col and pre-existing output-name columns fail
    loudly (the assign_clusters guard posture), never with an
    ambiguous-column analysis error."""
    from blaze_spark.core import Table
    from blaze_spark.pipeline import perplexity_buckets

    with pytest.raises(ValueError, match="by_col == id_col"):
        perplexity_buckets(bdocs, by_col="doc_id")
    carrying = Table(bdocs.df.withColumn("ppl_bucket", F.lit("x")),
                     "bdocs_c")
    with pytest.raises(ValueError, match="already carries"):
        perplexity_buckets(carrying, by_col="lang")
