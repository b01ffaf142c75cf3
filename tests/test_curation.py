"""Corpus-curation operators (pipeline/curation.py): Gopher-style
repetition signals, top-n-gram share, benchmark-contamination checks, PII
scrubbing, source-mix accounting, and TensorDot general axes — planted
cases with hand-computed expectations, plan hygiene for the broadcast
probe, numpy differential for tensordot."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from blaze_spark import Table, data
from blaze_spark.pipeline import (
    contamination_report,
    ngram_array,
    pii_scrub,
    repetition_features,
    source_mix,
    top_ngram_share,
)


@pytest.fixture(scope="module")
def cdocs(spark):
    rows = [
        (0, "a a a b", "s1"),
        (1, "one two three four five six seven eight nine ten", "s1"),
        (2, "x y x y x", "s2"),
        (3, "line one\nline one\nline two", "s2"),
    ]
    return data(rows, spark=spark,
                schema="doc_id bigint, text string, source string",
                name="cdocs")


def _row(df, doc_id):
    return df.filter(F.col("doc_id") == doc_id).first()


def test_repetition_dup_token_frac(cdocs):
    out = repetition_features(cdocs).df
    r0 = _row(out, 0)           # tokens a,a,a,b -> 2 distinct of 4
    assert r0.n_tokens == 4
    assert r0.dup_token_frac == 0.5
    assert r0.max_token_run == 3
    r1 = _row(out, 1)           # all distinct
    assert r1.dup_token_frac == 0.0
    assert r1.max_token_run == 1


def test_repetition_dup_line_frac(cdocs):
    out = repetition_features(cdocs).df
    r3 = _row(out, 3)           # 3 lines, 2 distinct
    assert r3.dup_line_frac == round(1 - 2 / 3, 4)
    assert _row(out, 0).dup_line_frac == 0.0


def test_ngram_array_short_doc_is_empty(cdocs):
    out = cdocs.df.select(
        "doc_id", ngram_array(F.col("text"), 6).alias("g")).collect()
    by_id = {r.doc_id: r.g for r in out}
    assert by_id[0] == []       # 4 tokens < n=6 -> empty, no bogus grams
    assert len(by_id[1]) == 5   # 10 tokens -> 5 6-grams


def test_top_ngram_share_tie_breaks_lexicographically(cdocs):
    out = top_ngram_share(cdocs, n=2).collect()
    r2 = {r.doc_id: r for r in out}[2]
    # "x y"(2) ties "y x"(2) -> lexicographically smallest wins
    assert r2.top_ngram == "x y"
    assert r2.ngram_count == 2
    assert r2.top_ngram_frac == round(2 * 2 / 5, 4)


def test_top_ngram_share_drops_docs_shorter_than_n(spark):
    t = data([(1, "solo")], spark=spark,
             schema="doc_id bigint, text string", name="t1")
    assert top_ngram_share(t, n=2).count() == 0


def test_contamination_exact_copy_flags(spark):
    train = data([(1, "alpha beta gamma delta"),
                  (2, "foo bar baz qux quux")],
                 spark=spark, schema="doc_id bigint, text string", name="tr")
    test = data([(100, "alpha beta gamma delta")],
                spark=spark, schema="doc_id bigint, text string", name="te")
    rep = {r.doc_id: r for r in
           contamination_report(train, test, n=3).collect()}
    assert rep[1].contamination_rate == 1.0 and rep[1].contaminated == 1
    assert rep[2].contamination_rate == 0.0 and rep[2].contaminated == 0
    assert rep[1].n_ngrams == 2  # 4 tokens -> 2 distinct 3-grams


def test_contamination_probe_is_broadcast(spark):
    train = data([(1, "alpha beta gamma delta")], spark=spark,
                 schema="doc_id bigint, text string", name="tr")
    test = data([(100, "alpha beta gamma delta")], spark=spark,
                schema="doc_id bigint, text string", name="te")
    df = contamination_report(train, test, n=3)
    explained = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in explained
    assert "SortMergeJoin" not in explained


def test_pii_scrub_counts_and_redacts(spark):
    t = data([(1, "mail a.b+c@ex-ample.org then 10.0.0.255 "
                  "call 555-123-4567 ssn 123-45-6789 done")],
             spark=spark, schema="doc_id bigint, text string", name="p")
    r = pii_scrub(t).df.first()
    assert (r.n_email, r.n_ip, r.n_phone, r.n_ssn) == (1, 1, 1, 1)
    assert r.clean_text == ("mail <EMAIL> then <IP> call <PHONE> "
                            "ssn <SSN> done")


def test_pii_scrub_ssn_phone_disjoint(spark):
    # ddd-dd-dddd is an SSN, ddd-ddd-dddd a phone; neither matches both
    t = data([(1, "555-123-4567"), (2, "123-45-6789")],
             spark=spark, schema="doc_id bigint, text string", name="p2")
    out = {r.doc_id: r for r in pii_scrub(t).df.collect()}
    assert (out[1].n_phone, out[1].n_ssn) == (1, 0)
    assert (out[2].n_phone, out[2].n_ssn) == (0, 1)


def test_source_mix_weights(spark):
    # s1: 6 tokens, s2: 2 tokens -> shares .75/.25, target .5
    t = data([(1, "a b c d e f", "s1"), (2, "g h", "s2")],
             spark=spark,
             schema="doc_id bigint, text string, source string", name="sm")
    out = {r.source: r for r in source_mix(t).collect()}
    assert out["s1"].total_tokens == 6 and out["s2"].total_tokens == 2
    assert out["s1"].token_share == 0.75
    assert out["s1"].sample_weight == round(0.5 / 0.75, 4)
    assert out["s2"].sample_weight == 1.0  # never upsample


def test_temperature_source_mix_formula(spark):
    from blaze_spark.pipeline import temperature_source_mix

    # shares .75/.25; at alpha=.5: sqrt -> .866/.5, normalized
    # .6340/.3660; weight_s1 = .6340/.75, s2 capped at 1
    t = data([(1, "a b c d e f", "s1"), (2, "g h", "s2")],
             spark=spark,
             schema="doc_id bigint, text string, source string",
             name="tsm")
    out = {r.source: r for r in
           temperature_source_mix(t, alpha=0.5).collect()}
    import math
    tgt1 = math.sqrt(0.75) / (math.sqrt(0.75) + math.sqrt(0.25))
    assert out["s1"].token_share == 0.75
    assert out["s1"].target_share == round(tgt1, 4)
    assert out["s1"].sample_weight == round(tgt1 / 0.75, 4)
    assert out["s2"].sample_weight == 1.0  # never upsample

    # alpha=1 keeps the natural mix; alpha=0 matches source_mix's
    # uniform plan
    nat = {r.source: r.sample_weight for r in
           temperature_source_mix(t, alpha=1.0).collect()}
    assert nat == {"s1": 1.0, "s2": 1.0}
    uni = {r.source: r.sample_weight for r in
           temperature_source_mix(t, alpha=0.0).collect()}
    ref = {r.source: r.sample_weight for r in source_mix(t).collect()}
    assert uni == ref

    import pytest as _pytest
    with _pytest.raises(ValueError, match="alpha"):
        temperature_source_mix(t, alpha=1.5)


def test_temperature_mix_composes_with_apply(spark):
    from blaze_spark.pipeline import (apply_source_mix,
                                      temperature_source_mix)

    rows = [(i, "w " * (3 if i % 4 else 30), "big" if i % 4 == 0
             else f"s{i % 3}") for i in range(80)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string",
             name="tsm2")
    w = temperature_source_mix(t, alpha=0.3)
    kept = apply_source_mix(t, w)
    n = kept.df.count()
    assert 0 < n < 80           # the over-represented source thinned
    # deterministic: the SAME rows survive on a re-run
    again = apply_source_mix(t, temperature_source_mix(t, alpha=0.3))
    assert sorted(r.doc_id for r in kept.df.collect()) == \
        sorted(r.doc_id for r in again.df.collect())


def test_mixture_pair_over_wire(spark):
    """temperature_source_mix + apply_source_mix serialize over
    blaze://: remote weights subtree, local literal-rows weights, and
    the mixed-engine refusals."""
    import pytest as _pytest

    from blaze_spark.pipeline import apply_source_mix
    from blaze_spark.pipeline import temperature_source_mix as tsm
    from blaze_spark.server import BlazeSparkServer

    rows = [(i, "w " * (2 if i % 3 else 20), f"s{i % 3}")
            for i in range(40)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string",
             name="wmix")
    srv = BlazeSparkServer({"wmix": t}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::wmix", spark=spark)
        wr = tsm(rt, alpha=0.5)
        got_w = sorted(map(tuple, spark.createDataFrame(
            wr.compute(), schema=wr.df.schema).collect()))
        want_w = sorted(map(tuple, tsm(t, alpha=0.5).collect()))
        assert got_w == want_w
        # remote weights subtree feeds remote execution
        kept_ids = sorted(apply_source_mix(rt, wr).compute().doc_id)
        local_ids = sorted(
            r.doc_id for r in
            apply_source_mix(t, tsm(t, alpha=0.5)).df.collect())
        assert kept_ids == local_ids and 0 < len(kept_ids) < 40
        # a LOCAL weights frame ships as literal rows
        assert sorted(apply_source_mix(
            rt, tsm(t, alpha=0.5)).compute().doc_id) == local_ids
        with _pytest.raises(TypeError, match="mixes engines"):
            apply_source_mix(t, wr)
        # a local TABLE ships as literal rows like a DataFrame, but a
        # corpus is not a plan: refused at construction
        with _pytest.raises(Exception, match="sample_weight"):
            apply_source_mix(rt, t)
    finally:
        srv.stop()


def test_unimax_water_filling_formula(spark):
    """UniMax (Chung et al. 2023) closed-form water-filling: hand-computed
    allocations on a 3-source fixture, the budget-unreachable regime, the
    natural-corpus regime, and the validation raises."""
    from blaze_spark.pipeline import unimax_source_mix

    t = data([(1, "w " * 30, "s1"), (2, "w " * 6, "s2"),
              (3, "w w", "s3")],
             spark=spark,
             schema="doc_id bigint, text string, source string",
             name="um")
    # caps at E=2: s1=60, s2=12, s3=4.  budget=20: sorted [4,12,60];
    # rank1 theta=20/3>4 invalid at cap 4?  20/3=6.67>4 -> s3 saturates;
    # rank2 theta=(20-4)/2=8<=12 -> water level 8.
    out = {r.source: r for r in
           unimax_source_mix(t, budget_tokens=20, max_epochs=2.0,
                             source_col="source").collect()}
    assert out["s3"].alloc_tokens == 4.0      # saturated at the cap
    assert out["s2"].alloc_tokens == 8.0      # water level
    assert out["s1"].alloc_tokens == 8.0
    assert out["s3"].sample_weight == 2.0     # = max_epochs
    assert out["s2"].sample_weight == round(8 / 6, 4)
    assert out["s1"].sample_weight == round(8 / 30, 4)
    # allocations exhaust the budget exactly
    assert sum(r.alloc_tokens for r in out.values()) == 20.0

    # budget >= total cap: everything saturates (the paper's N > |D|*E
    # regime — the budget is unreachable, allocations report the cap)
    sat = {r.source: r.sample_weight for r in
           unimax_source_mix(t, budget_tokens=100, max_epochs=2.0,
                             source_col="source").collect()}
    assert sat == {"s1": 2.0, "s2": 2.0, "s3": 2.0}

    # E=1 with an unreachable budget = the natural corpus, one epoch
    nat = {r.source: r.sample_weight for r in
           unimax_source_mix(t, budget_tokens=10_000, max_epochs=1.0,
                             source_col="source").collect()}
    assert nat == {"s1": 1.0, "s2": 1.0, "s3": 1.0}

    with pytest.raises(ValueError, match="budget_tokens"):
        unimax_source_mix(t, budget_tokens=0, source_col="source")
    with pytest.raises(ValueError, match="max_epochs"):
        unimax_source_mix(t, budget_tokens=10, max_epochs=0.0,
                          source_col="source")
    with pytest.raises(ValueError, match="max_epochs"):
        unimax_source_mix(t, budget_tokens=10, max_epochs=1e9,
                          source_col="source")


def test_unimax_uniform_when_budget_small(spark):
    """Below every cap the allocation is exactly budget/n per source —
    the fairness property temperature sampling lacks."""
    from blaze_spark.pipeline import unimax_source_mix

    rows = [(i, "w " * (10 if i % 5 else 200), f"s{i % 5}")
            for i in range(50)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string",
             name="um2")
    out = unimax_source_mix(t, budget_tokens=50, max_epochs=1.0,
                            source_col="source").collect()
    assert {r.alloc_tokens for r in out} == {10.0}   # 50 / 5 sources


def test_unimax_composes_with_apply(spark):
    """A max_epochs>1 UniMax plan executes through apply_source_mix's
    upsampling path: tail sources repeat deterministically, the head
    source thins, and a re-run keeps the identical multiset."""
    from blaze_spark.pipeline import apply_source_mix, unimax_source_mix

    rows = [(i, "w " * (4 if i % 4 else 40),
             "big" if i % 4 == 0 else f"s{i % 3}") for i in range(80)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string",
             name="um3")
    w = unimax_source_mix(t, budget_tokens=800, max_epochs=3.0,
                          source_col="source")
    kept = apply_source_mix(t, w, source_col="source",
                            allow_upsample=True)
    got = sorted((r.doc_id, r.copy_idx) for r in kept.df.collect())
    assert len(got) > 0
    again = apply_source_mix(
        t, unimax_source_mix(t, budget_tokens=800, max_epochs=3.0,
                             source_col="source"),
        source_col="source", allow_upsample=True)
    assert got == sorted((r.doc_id, r.copy_idx)
                         for r in again.df.collect())
    # the plan rebalances: head source loses docs, some tail doc repeats
    weights = {r.source: r.sample_weight for r in w.collect()}
    assert weights["big"] < 1.0
    assert max(w_ for s, w_ in weights.items() if s != "big") > 1.0


def test_unimax_partitioning_invariance(spark):
    """The ordered running sum and the water-level selection are
    byte-identical under adversarial input partitioning (the windows run
    over the bounded per-source relation, whose global sort is pinned by
    (cap, source))."""
    from blaze_spark.pipeline import unimax_source_mix

    rows = [(i, "tok " * (1 + i % 7), f"s{i % 6}") for i in range(60)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string",
             name="um4")
    base = sorted(map(tuple, unimax_source_mix(
        t, budget_tokens=111, max_epochs=2.5,
        source_col="source").collect()))
    shuffled = Table(t.df.repartition(13), "um4b")
    assert sorted(map(tuple, unimax_source_mix(
        shuffled, budget_tokens=111, max_epochs=2.5,
        source_col="source").collect())) == base


def test_unimax_over_wire(spark):
    """unimax_source_mix serializes over blaze:// and matches the local
    plan byte-for-byte; the weights subtree feeds remote execution."""
    from blaze_spark.pipeline import apply_source_mix
    from blaze_spark.pipeline import unimax_source_mix as usm
    from blaze_spark.server import BlazeSparkServer

    rows = [(i, "w " * (2 if i % 3 else 20), f"s{i % 3}")
            for i in range(40)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string",
             name="wumix")
    srv = BlazeSparkServer({"wumix": t}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::wumix", spark=spark)
        wr = usm(rt, budget_tokens=100, max_epochs=2.0,
                 source_col="source")
        got_w = sorted(map(tuple, spark.createDataFrame(
            wr.compute(), schema=wr.df.schema).collect()))
        want_w = sorted(map(tuple, usm(
            t, budget_tokens=100, max_epochs=2.0,
            source_col="source").collect()))
        assert got_w == want_w
        kept_ids = sorted(
            (r.doc_id, r.copy_idx) for _, r in apply_source_mix(
                rt, wr, source_col="source",
                allow_upsample=True).compute().iterrows())
        local_ids = sorted(
            (r.doc_id, r.copy_idx) for r in apply_source_mix(
                t, usm(t, budget_tokens=100, max_epochs=2.0,
                       source_col="source"),
                source_col="source", allow_upsample=True).df.collect())
        assert kept_ids == local_ids and len(kept_ids) > 0
    finally:
        srv.stop()


def test_dup_ngrams_over_wire(spark):
    from blaze_spark.pipeline import cross_doc_dup_ngrams
    from blaze_spark.server import BlazeSparkServer

    rows = [(1, "a b c d e tail one"), (2, "a b c d e tail two"),
            (3, "all different words here now")]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string", name="wdng")
    srv = BlazeSparkServer({"wdng": t}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::wdng", spark=spark)
        for scrub in (False, True):
            r = cross_doc_dup_ngrams(rt, n=5, scrub=scrub)
            got = sorted(map(tuple, spark.createDataFrame(
                r.compute(), schema=r.df.schema).collect()))
            want = sorted(map(tuple, cross_doc_dup_ngrams(
                t, n=5, scrub=scrub).df.collect()))
            assert got == want
    finally:
        srv.stop()


# -- tensordot general axes (blaze/expr/arrays.py:104-129) -------------------

@pytest.fixture(scope="module")
def tmat(spark):
    return data(
        [(1, [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]],
          [[1.0, 0.0, 2.0], [0.0, 3.0, 1.0]],
          [1.0, -2.0, 0.5], [3.0, 4.0])],
        spark=spark,
        schema=("id int, a array<array<double>>, b array<array<double>>, "
                "v array<double>, u array<double>"),
        name="tmat")


def test_tensordot_axes2_matches_numpy(tmat):
    a = np.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])
    b = np.array([[1.0, 0.0, 2.0], [0.0, 3.0, 1.0]])
    got = tmat.transform(r=tmat.a.arr.tensordot(tmat.b, axes=2)).df.first().r
    assert got == pytest.approx(np.tensordot(a, b, axes=2))


def test_tensordot_axes1_is_dot(tmat):
    a = np.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])
    v = np.array([1.0, -2.0, 0.5])
    got = tmat.transform(r=tmat.a.arr.tensordot(tmat.v, axes=1)).df.first().r
    assert np.allclose(got, a @ v)


def test_tensordot_axes0_outer(tmat):
    v = np.array([1.0, -2.0, 0.5])
    u = np.array([3.0, 4.0])
    got = np.array(
        tmat.transform(r=tmat.v.arr.tensordot(tmat.u, axes=0)).df.first().r)
    assert np.allclose(got, np.tensordot(v, u, axes=0))
    got2 = np.array(tmat.transform(r=tmat.v.arr.outer(tmat.u)).df.first().r)
    assert np.allclose(got2, np.outer(v, u))


def test_tensordot_bad_axes(tmat):
    with pytest.raises(ValueError):
        tmat.a.arr.tensordot(tmat.b, axes=3)
    with pytest.raises(ValueError):
        tmat.v.arr.tensordot(tmat.u, axes=2)  # axes=2 needs 2-D
    with pytest.raises(TypeError):
        tmat.v.arr.outer(tmat.id)  # scalar rhs


def test_curation_null_text_safe(spark):
    """NULL text must not crash or fabricate signals: projections yield
    NULL features, n-gram paths drop the doc (explode of NULL) — the
    same semantics as unnesting NULL in the SQL oracle."""
    t = data([(1, None), (2, "a b c d e f g h i j")],
             spark=spark, schema="doc_id bigint, text string", name="nt")
    rep = {r.doc_id: r for r in repetition_features(t).df.collect()}
    assert rep[1].dup_token_frac is None
    assert rep[2].dup_token_frac == 0.0
    pii = {r.doc_id: r for r in pii_scrub(t).df.collect()}
    assert pii[1].clean_text is None and pii[1].n_email is None
    assert top_ngram_share(t, n=2).count() == 1  # null doc absent
    rep2 = contamination_report(t, t, n=3).collect()
    assert {r.doc_id for r in rep2} == {2}


def test_apply_source_mix_deterministic_and_proportional(spark):
    from blaze_spark.pipeline import apply_source_mix, source_mix

    rows = [(i, "tok " * 20, "big" if i % 4 else "small")
            for i in range(2000)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string", name="mx")
    w = source_mix(t)
    kept1 = apply_source_mix(t, w).df
    kept2 = apply_source_mix(t, w).df
    ids1 = sorted(r.doc_id for r in kept1.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in kept2.select("doc_id").collect())
    assert ids1 == ids2  # hash-based keep: reproducible across runs
    by_src = {r.source: r for r in w.collect()}
    n_big = kept1.filter(F.col("source") == "big").count()
    w_big = by_src["big"].sample_weight
    assert abs(n_big / 1500 - w_big) < 0.05  # observed ~ weight
    assert kept1.filter(F.col("source") == "small").count() == 500  # w=1.0


def test_apply_source_mix_no_shuffle(spark):
    from blaze_spark.pipeline import apply_source_mix, source_mix

    t = data([(1, "a b c", "s1"), (2, "d e", "s2")], spark=spark,
             schema="doc_id bigint, text string, source string", name="mx2")
    out = apply_source_mix(t, source_mix(t)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_corpus_report_planted(spark):
    from blaze_spark.pipeline import corpus_report

    rows = [(1, "the cat and the dog is here of it", "s1"),
            (2, "the cat and the dog is here of it", "s1"),   # exact dup
            (3, "el gato y la casa que es", "s2")]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string", name="cr")
    r = corpus_report(t).first()
    assert r.n_docs == 3 and r.n_sources == 2
    assert r.en_share == round(2 / 3, 4)
    assert r.dup_rate == round(1 - 2 / 3, 4)
    assert r.total_tokens == 9 + 9 + 7


def test_apply_source_mix_negative_weight_drops_all(spark):
    """hex() of a negative threshold long truncates to 'ffffffff' under
    lpad — a corrupt plan must drop the source, not keep it whole."""
    from blaze_spark.pipeline import apply_source_mix

    t = data([(i, "x y z", "bad") for i in range(50)], spark=spark,
             schema="doc_id bigint, text string, source string", name="nw")
    w = spark.createDataFrame([("bad", -0.5)],
                              "source string, sample_weight double")
    assert apply_source_mix(t, w).df.count() == 0
    w0 = spark.createDataFrame([("bad", 0.0)],
                               "source string, sample_weight double")
    assert apply_source_mix(t, w0).df.count() == 0


def test_extract_urls_and_domain_mix(spark):
    from blaze_spark.pipeline import domain_mix, extract_urls

    t = data([(1, "a https://Example.COM/p and http://docs.x.org/q?z=1"),
              (2, "plain"),
              (3, "https://example.com/a https://example.com/b")],
             spark=spark, schema="doc_id bigint, text string", name="u")
    out = {r.doc_id: r for r in extract_urls(t).df.collect()}
    assert out[1].n_urls == 2
    assert out[1].domains == ["example.com", "docs.x.org"]
    assert out[1].primary_domain == "example.com"
    assert out[2].n_urls == 0 and out[2].primary_domain is None
    dm = {r.domain: r for r in domain_mix(t).collect()}
    assert dm["example.com"].n_docs == 2
    assert dm["example.com"].n_mentions == 3
    assert dm["example.com"].doc_share == round(2 / 3, 4)


def test_blocklist_filter_word_boundary_and_escape(spark):
    from blaze_spark.pipeline import blocklist_filter

    t = data([(1, "we use C++ daily"), (2, "spark is sparky"),
              (3, "SPARK uppercase"), (4, "harmless")],
             spark=spark, schema="doc_id bigint, text string", name="b")
    # terms are literals: 'c++' must not be treated as a regex
    kept = {r.doc_id for r in
            blocklist_filter(t, ["c++", "spark"]).df.collect()}
    assert kept == {4}  # 1 has c++, 2 has 'spark' (word), 3 case-insens
    # 'sparky' alone is NOT a word-boundary match for 'spark'
    t2 = data([(5, "sparky only")], spark=spark,
              schema="doc_id bigint, text string", name="b2")
    assert blocklist_filter(t2, ["spark"]).df.count() == 1
    kept_only = {r.doc_id for r in
                 blocklist_filter(t, ["spark"], mode="keep").df.collect()}
    assert kept_only == {2, 3}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        blocklist_filter(t, ["x"], mode="bogus")


def test_apply_source_mix_null_id_sentinel(spark):
    """ADVICE r6: NULL ids must hash through the same '__null__' sentinel
    as Table.hash_sample — one key group, kept or dropped together —
    not be silently dropped by md5(NULL) -> NULL."""
    from blaze_spark.pipeline import apply_source_mix

    rows = [(None, "x y z", "s") for _ in range(20)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string", name="ni")
    w = spark.createDataFrame([("s", 0.5)],
                              "source string, sample_weight double")
    kept = apply_source_mix(t, w).df.count()
    # all 20 share the sentinel key: all kept or all dropped, never a mix
    assert kept in (0, 20)
    # and the group's fate matches hash_sample at the same fraction/salt
    import hashlib
    h = hashlib.md5(b"__null__-42").hexdigest()[:8]
    expect = 20 if h < format(int(0.5 * 16 ** 8), "08x") else 0
    assert kept == expect


def test_train_val_test_split_disjoint_exhaustive(spark, cdocs):
    """Every row gets exactly one split; proportions track fractions;
    the same key always lands in the same split (key-consistent)."""
    from blaze_spark.pipeline import train_val_test_split

    out = train_val_test_split(cdocs, fractions=(0.8, 0.1, 0.1)).df
    n = cdocs.df.count()
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == n  # exhaustive, disjoint by design
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)
    # determinism: re-running yields identical assignment
    again = train_val_test_split(cdocs, fractions=(0.8, 0.1, 0.1)).df
    assert (out.select("doc_id", "split")
            .exceptAll(again.select("doc_id", "split")).count() == 0)


def test_train_val_test_split_key_consistency_leakproof(spark):
    """Splitting on a cluster key sends ALL rows of a cluster to one
    split — the leakage-proof form."""
    from blaze_spark import data
    from blaze_spark.pipeline import train_val_test_split

    rows = [(i, i % 7, f"text {i}") for i in range(200)]
    t = data(rows, spark=spark,
             schema="doc_id long, cluster long, text string", name="lk")
    out = train_val_test_split(t, fractions=(0.5, 0.25, 0.25),
                               on="cluster").df
    per_cluster = (out.groupBy("cluster")
                   .agg(F.countDistinct("split").alias("k")).collect())
    assert all(r.k == 1 for r in per_cluster)


def test_train_val_test_split_validation(spark, cdocs):
    from blaze_spark.pipeline import train_val_test_split

    with pytest.raises(ValueError, match="sum to 1"):
        train_val_test_split(cdocs, fractions=(0.5, 0.1, 0.1))
    with pytest.raises(ValueError, match="align"):
        train_val_test_split(cdocs, fractions=(0.5, 0.5))


def test_pack_sequences_contiguous_fill(spark):
    from blaze_spark import data
    from blaze_spark.pipeline import pack_sequences

    rows = [(i, "tok " * (i % 5 + 1)) for i in range(100)]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="pk")
    out = pack_sequences(t, budget=10).df.orderBy("doc_id").collect()
    # tok_start is the exclusive prefix sum of n_tokens in doc_id order
    acc = 0
    for r in out:
        assert r.tok_start == acc, (r.doc_id, r.tok_start, acc)
        assert r.shard == acc // 10
        acc += r.n_tokens
    # shards are contiguous runs starting at 0
    shards = [r.shard for r in out]
    assert shards[0] == 0
    assert all(b - a in (0, 1) for a, b in zip(shards, shards[1:]))


def test_pack_sequences_partition_invariant(spark):
    """The distributed prefix sum must give the same global offsets for
    ANY partition count (offsets + local sums telescope) — and the plan
    must not funnel the corpus through a single-partition global window."""
    from blaze_spark import data
    from blaze_spark.pipeline import pack_sequences

    rows = [(i, "w " * (i % 11 + 1)) for i in range(500)]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="pk2")
    a = pack_sequences(t, budget=64, partitions=2).df \
        .select("doc_id", "tok_start", "shard")
    b = pack_sequences(t, budget=64, partitions=7).df \
        .select("doc_id", "tok_start", "shard")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    from blaze_spark.plans import physical_plan

    plan = physical_plan(pack_sequences(t, budget=64, partitions=7).df)
    # the window runs partitioned by __pid — a global Window.orderBy
    # (no partition) would show a single-partition sort before the window
    assert "__pid" in plan


def test_chunk_documents_sliding_window(spark):
    from blaze_spark import data
    from blaze_spark.pipeline import chunk_documents

    rows = [(1, " ".join(f"t{i}" for i in range(10))),   # 10 tokens
            (2, "a b c"),                                 # 3 tokens, 1 chunk
            (3, ""),                                      # empty: no chunks
            (4, "x")]                                     # 1 token
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="ch")
    out = {(r.doc_id, r.chunk_id): (r.chunk_text, r.chunk_tokens)
           for r in chunk_documents(t, max_tokens=4, overlap=1).df.collect()}
    # doc 1: stride 3 -> ceil((10-1)/3)=3 chunks: [0:4],[3:7],[6:10]
    assert out[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert out[(1, 1)] == ("t3 t4 t5 t6", 4)
    assert out[(1, 2)] == ("t6 t7 t8 t9", 4)
    assert (1, 3) not in out
    assert out[(2, 0)] == ("a b c", 3)
    assert all(d != 3 for d, _ in out)  # empty doc dropped
    assert out[(4, 0)] == ("x", 1)
    # overlap invariant: consecutive chunks share exactly `overlap` tokens
    assert out[(1, 0)][0].split()[-1:] == out[(1, 1)][0].split()[:1]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(t, max_tokens=4, overlap=4)


def test_chunk_documents_no_shuffle(spark, cdocs):
    from blaze_spark.pipeline import chunk_documents
    from blaze_spark.plans import exchange_count

    out = chunk_documents(cdocs, max_tokens=64, overlap=8)
    assert exchange_count(out.df) == 0  # pure per-row explode, no shuffle


def test_pack_sequences_single_range_exchange(spark):
    """The totals job and the final plan share ONE persisted range
    exchange (scoped_persist) — the final plan reads the cache, not a
    second corpus shuffle."""
    from blaze_spark import data
    from blaze_spark.pipeline import pack_sequences
    from blaze_spark.plans import physical_plan

    rows = [(i, "w " * (i % 7 + 1)) for i in range(300)]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="pk3")
    out = pack_sequences(t, budget=32, partitions=3)
    try:
        assert "InMemoryTableScan" in physical_plan(out.df)
    finally:
        # drop the scoped cache promptly for test hygiene
        for c in getattr(out.df, "_blaze_caches", ()):
            c.unpersist()


def test_pack_sequences_correct_after_cache_eviction(spark):
    """r7 sf0.1 catch: tok_start must be correct even if the scoped
    cache is dropped before materialization — the bucket id is a pure
    function of the key (driver-frozen quantile boundaries), so a
    recompute reproduces the partitioning the offsets were built from.
    (The prior spark_partition_id() form resampled range boundaries on
    recompute and silently corrupted the prefix sum.)"""
    from blaze_spark import data
    from blaze_spark.pipeline import pack_sequences

    rows = [(i, "w " * (i % 13 + 1)) for i in range(2000)]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="pk4")
    out = pack_sequences(t, budget=100, partitions=5)
    # simulate executor-side cache loss BEFORE any action ran
    for c in getattr(out.df, "_blaze_caches", ()):
        c.unpersist(blocking=True)
    got = out.df.orderBy("doc_id").collect()
    acc = 0
    for r in got:
        assert r.tok_start == acc, (r.doc_id, r.tok_start, acc)
        acc += r.n_tokens


def test_pack_sequences_string_order_key(spark):
    """VERDICT r7 #6: non-numeric order keys (UUID-style string ids) pack
    through the deterministic sample-sort-pick boundary path — same
    contiguous-fill semantics, partition-invariant, no approxQuantile."""
    from blaze_spark import data
    from blaze_spark.pipeline import pack_sequences

    rows = [(f"doc-{i:04d}-{(i * 2654435761) % 997:03x}",
             "tok " * (i % 7 + 1)) for i in range(300)]
    t = data(rows, spark=spark, schema="doc_id string, text string",
             name="pks")
    out = pack_sequences(t, budget=16, order_by="doc_id").df \
        .orderBy("doc_id").collect()
    acc = 0
    for r in out:   # exclusive prefix sum in lexicographic key order
        assert r.tok_start == acc, (r.doc_id, r.tok_start, acc)
        assert r.shard == acc // 16
        acc += r.n_tokens

    a = pack_sequences(t, budget=16, order_by="doc_id",
                       partitions=3).df.select("doc_id", "tok_start")
    b = pack_sequences(t, budget=16, order_by="doc_id",
                       partitions=9).df.select("doc_id", "tok_start")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pack_sequences_string_key_correct_after_cache_eviction(spark):
    """The cache-independence contract extends to the string-key path:
    boundaries are frozen literals, so dropping the scoped cache before
    materialization must not change any offset."""
    from blaze_spark import data
    from blaze_spark.pipeline import pack_sequences

    rows = [(f"k{i:05d}", "w " * (i % 5 + 1)) for i in range(200)]
    t = data(rows, spark=spark, schema="doc_id string, text string",
             name="pkse")
    out = pack_sequences(t, budget=32, order_by="doc_id", partitions=5)
    want = {(r.doc_id, r.tok_start, r.shard)
            for r in out.df.collect()}
    out2 = pack_sequences(t, budget=32, order_by="doc_id", partitions=5)
    for c in getattr(out2.df, "_blaze_caches", ()):
        c.unpersist(True)   # evict BEFORE the first action
    got = {(r.doc_id, r.tok_start, r.shard) for r in out2.df.collect()}
    assert got == want


def test_token_commonness_scores_gibberish_low(spark):
    """Corpus-frequency commonness: common-word docs score high, a
    gibberish doc is mostly OOV with near-zero commonness; the score is
    integer-exact (sum of longs / one division)."""
    from blaze_spark import data
    from blaze_spark.pipeline import token_commonness

    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((100, "zxqv qqj wvvx zzzk"))        # gibberish: OOV-heavy
    rows.append((101, "the the the the"))            # most common token
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="tc")
    out = {r.doc_id: r for r in
           token_commonness(t, vocab_size=5).collect()}
    assert out[100].oov_rate == 1.0
    assert out[100].commonness == 0.0
    assert out[101].oov_rate == 0.0
    assert out[101].commonness > out[0].commonness > out[100].commonness
    # vocab reuse path: supplying the vocabulary skips the build and
    # reproduces identical scores
    from pyspark.sql import functions as F
    toks = t.df.select(F.explode(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"))
    vocab = toks.groupBy("tok").count() \
        .withColumnRenamed("count", "cnt") \
        .orderBy(F.col("cnt").desc(), "tok").limit(5)
    out2 = {r.doc_id: r for r in
            token_commonness(t, vocab=vocab).collect()}
    for k in out:
        assert out2[k].commonness == out[k].commonness, k


def test_token_commonness_vocab_is_take_ordered(spark):
    """VERDICT r8 #1: the vocabulary top-N must lower to
    TakeOrderedAndProject (per-partition top-N + bounded merge), never
    an unpartitioned row_number window — that would single-task-sort
    every distinct token (O(1e9) on a crawl)."""
    from blaze_spark import data
    from blaze_spark.pipeline import token_commonness
    from blaze_spark.plans import physical_plan

    t = data([(i, "the cat sat on the mat") for i in range(8)],
             spark=spark, schema="doc_id long, text string", name="tcp")
    plan = physical_plan(token_commonness(t, vocab_size=5))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_gopher_rules_signals(spark):
    """Hand-computed Gopher signals (Rae et al. 2021 table A1): word
    bounds, mean word length, symbol ratio, bullet/ellipsis line
    fractions, alpha-word fraction, required-stopword hits."""
    from blaze_spark.pipeline import gopher_rules

    rows = [
        (0, "the cat and the dog have to be fun with all of that"),
        (1, "- one\n- two\nplain tail..."),
        (2, "### ### zz"),
        (3, "   "),
    ]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="gdocs")
    out = {r.doc_id: r for r in gopher_rules(t, min_words=5).df.collect()}
    r0 = out[0]                 # 13 words, clean prose, all 8 stopwords
    assert r0.n_words == 13
    assert r0.symbol_word_ratio == 0.0
    assert r0.alpha_word_frac == 1.0
    assert r0.n_stop_hits == 8
    assert r0.gopher_pass == 1
    r1 = out[1]                 # 2 of 3 lines bulleted, 1 of 3 ellipsis
    assert r1.bullet_line_frac == round(2 / 3, 4)
    assert r1.ellipsis_line_frac == round(1 / 3, 4)
    assert r1.gopher_pass == 0
    r2 = out[2]                 # '#' symbols dominate, words mostly sym
    assert r2.symbol_word_ratio == 2.0     # 6 '#' / 3 words
    assert r2.alpha_word_frac == round(1 / 3, 4)
    assert r2.gopher_pass == 0
    r3 = out[3]                 # blank doc: fractions defined as 0
    assert r3.bullet_line_frac == 0.0 and r3.ellipsis_line_frac == 0.0
    assert r3.gopher_pass == 0


def test_gopher_rules_is_shuffle_free(spark):
    """The whole rule battery is one projection: zero exchanges, and the
    gopher_pass predicate pushes into the scan."""
    from blaze_spark.pipeline import gopher_rules
    from blaze_spark.plans import exchange_count

    t = data([(1, "the cat sat")], spark=spark,
             schema="doc_id bigint, text string", name="gplan")
    out = gopher_rules(t)
    assert exchange_count(out.df) == 0


def test_gopher_rules_wire_node_roundtrip(spark):
    """gopher_rules serializes as a unary tree op with its 9 thresholds,
    so a RemoteTable runs it server-side (new r9 wire op — old servers
    reject the unknown name loudly, per the version-skew rule)."""
    from blaze_spark.interop import from_tree
    from blaze_spark.pipeline import gopher_rules

    t = data([(1, "the cat and the dog have a nap"),
              (2, "zz qq")],
             spark=spark, schema="doc_id bigint, text string",
             name="gwire")
    local = gopher_rules(t, min_words=3, min_stop_hits=1)
    tree = {"op": "gopher_rules",
            "args": [{"op": "symbol", "args": ["gwire"]}, "text",
                     [3, 100000, 3.0, 10.0, 0.1, 0.9, 0.3, 0.8, 1]]}
    got = from_tree(tree, spark=spark, datasets={"gwire": t},
                    allow_data_uris=False)
    g = {r.doc_id: r for r in got.df.collect()}
    l = {r.doc_id: r for r in local.df.collect()}
    assert sorted(got.df.columns) == sorted(local.df.columns)
    assert all(g[i].gopher_pass == l[i].gopher_pass for i in (1, 2))
    # malformed threshold vector fails loudly, never half-applies
    bad = {"op": "gopher_rules",
           "args": [{"op": "symbol", "args": ["gwire"]}, "text", [3, 4]]}
    with pytest.raises(ValueError, match="9 thresholds"):
        from_tree(bad, spark=spark, datasets={"gwire": t},
                  allow_data_uris=False)


def test_domain_mix_share_has_no_window(spark):
    """VERDICT r8 #2: doc_share's denominator is a 1-row scalar
    aggregate broadcast back (BroadcastNestedLoopJoin), not a
    Window.partitionBy()-nothing sum over the per-domain relation
    (O(1e8) distinct domains on a crawl)."""
    from blaze_spark import data
    from blaze_spark.pipeline import domain_mix
    from blaze_spark.plans import physical_plan

    t = data([(1, "see https://a.com/x"), (2, "see https://b.com/y")],
             spark=spark, schema="doc_id bigint, text string", name="dmp")
    plan = physical_plan(domain_mix(t))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


# -- r12: deterministic upsampling (VERDICT r11 #2) ------------------------

def _mix_u(doc_id, seed=42):
    import hashlib
    return hashlib.md5(f"{doc_id}-{seed}".encode()).hexdigest()[:8]


def _mix_thr(frac):
    import math
    return format(math.floor(frac * 16 ** 8), "08x")


def test_apply_source_mix_upsample_multiset(spark):
    """allow_upsample=True: weight w explodes into floor(w) full copies
    plus one md5-decided fractional copy — the exact (doc_id, copy_idx)
    multiset is hand-computable, deterministic, and engine-portable."""
    from blaze_spark.pipeline import apply_source_mix

    rows = [(i, "t", ["a", "b", "c", "d"][i % 4]) for i in range(80)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string",
             name="upm")
    w = spark.createDataFrame(
        [("a", 2.5), ("b", 0.5), ("c", 0.0), ("d", 2.0)],
        "source string, sample_weight double")
    out = apply_source_mix(t, w, allow_upsample=True).df
    got = sorted((r.doc_id, r.copy_idx) for r in out.collect())
    want = []
    for i, _, src in rows:
        wv = {"a": 2.5, "b": 0.5, "c": 0.0, "d": 2.0}[src]
        if wv <= 0:
            continue
        full = int(wv)
        want += [(i, k) for k in range(full)]
        if _mix_u(i) < _mix_thr(wv - full):
            want.append((i, full))
    assert got == sorted(want)
    # integer weights: exactly w copies, no fractional survivor
    d_copies = [c for (i, c) in got if i % 4 == 3]
    assert len(d_copies) == 20 * 2
    # E[copies] ~ w for the fractional source
    a_ids = [i for (i, c) in got if i % 4 == 0]
    assert 2 * 20 <= len(a_ids) <= 3 * 20
    # fractional-only weights agree with the capped path row-for-row
    # (the default executor only accepts capped plans since r13, so
    # restrict the plan to its <= 1 rows)
    capped = apply_source_mix(
        t, w.filter(w.sample_weight <= 1.0)).df
    assert sorted(r.doc_id for r in capped.collect()
                  if r.source == "b") == \
        sorted(i for (i, c) in got if i % 4 == 1)
    # the default path's schema is untouched (no copy_idx column)
    assert "copy_idx" not in capped.columns


def test_apply_source_mix_default_rejects_upsample_plan(spark):
    """r13 (VERDICT r12 #2): an upsampling plan (any sample_weight > 1)
    hitting the DEFAULT executor raises naming allow_upsample= — the
    old silent clamp to keep-once was a distribution shift the caller
    never asked for.  Weights of exactly 1 (capped plans' round-4
    exports) still pass."""
    from blaze_spark.pipeline import apply_source_mix

    t = data([(i, "t", "a" if i % 2 else "b") for i in range(10)],
             spark=spark,
             schema="doc_id bigint, text string, source string",
             name="upraise")
    w = spark.createDataFrame([("a", 2.5), ("b", 0.5)],
                              "source string, sample_weight double")
    out = apply_source_mix(t, w)  # lazy: the plan builds fine
    with pytest.raises(Exception, match="allow_upsample"):
        out.df.collect()
    # weight exactly 1.0 is a capped plan, not an upsample: keeps all
    w1 = spark.createDataFrame([("a", 1.0), ("b", 1.0)],
                               "source string, sample_weight double")
    assert apply_source_mix(t, w1).df.count() == 10


def test_apply_source_mix_upsample_bound(spark):
    from blaze_spark.pipeline import apply_source_mix

    t = data([(1, "t", "s")], spark=spark,
             schema="doc_id bigint, text string, source string",
             name="upb")
    w = spark.createDataFrame([("s", 20000.0)],
                              "source string, sample_weight double")
    out = apply_source_mix(t, w, allow_upsample=True)
    with pytest.raises(Exception, match="upsample bound"):
        out.df.collect()


def test_upsample_mix_over_wire(spark):
    """The uncapped plan + upsampling executor serialize; a NULL
    sample_weight in a literal-encoded plan is a contract error naming
    the source (ADVICE r11), not a bare float(None) TypeError."""
    from blaze_spark.pipeline import apply_source_mix
    from blaze_spark.pipeline import temperature_source_mix as tsm
    from blaze_spark.server import BlazeSparkServer

    rows = [(i, "w " * (2 if i % 3 else 30), f"s{i % 3}")
            for i in range(60)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, source string",
             name="upw")
    srv = BlazeSparkServer({"upw": t}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::upw", spark=spark)
        wr = tsm(rt, alpha=0.3, allow_upsample=True)
        got_w = sorted(map(tuple, spark.createDataFrame(
            wr.compute(), schema=wr.df.schema).collect()))
        want_w = sorted(map(tuple, tsm(t, alpha=0.3,
                                       allow_upsample=True).collect()))
        assert got_w == want_w
        assert any(r[-1] > 1.0 for r in want_w)  # genuinely uncapped
        kept_pdf = apply_source_mix(rt, wr, allow_upsample=True) \
            .compute()
        got = sorted(map(tuple, kept_pdf[["doc_id", "copy_idx"]]
                         .itertuples(index=False)))
        want = sorted(
            (r.doc_id, r.copy_idx) for r in apply_source_mix(
                t, tsm(t, alpha=0.3, allow_upsample=True),
                allow_upsample=True).df.collect())
        assert got == want
        assert max(c for _, c in got) >= 1  # duplicates materialized
        # NULL weight in a local literal-encoded plan: contract error
        # naming the source, raised by the local function where the
        # plan executes (so locally too)
        bad = spark.createDataFrame(
            [("s0", None), ("s1", 1.0), ("s2", 1.0)],
            "source string, sample_weight double")
        with pytest.raises(RuntimeError,
                           match="source s0 has NULL sample_weight"):
            apply_source_mix(rt, bad).compute()
        with pytest.raises(Exception,
                           match="source s0 has NULL sample_weight"):
            apply_source_mix(t, bad).df.collect()
    finally:
        srv.stop()


def test_pack_sequences_sep_tokens(spark):
    """sep_tokens counts the trainer's per-doc separators in the
    budget accounting: tok_start/shard are offsets in the
    separator-INCLUSIVE stream, n_tokens stays the document's own
    count; sep_tokens=0 is byte-identical to the default."""
    from blaze_spark import data
    from blaze_spark.pipeline import pack_sequences

    rows = [(i, "tok " * 3) for i in range(10)]   # 3 tokens each
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="pksep")
    out = pack_sequences(t, budget=5, sep_tokens=1).df \
        .orderBy("doc_id").collect()
    acc = 0
    for r in out:
        assert r.n_tokens == 3                    # raw text count
        assert r.tok_start == acc                 # sep-inclusive offset
        assert r.shard == acc // 5
        acc += r.n_tokens + 1                     # +1 EOS per doc
    # docs cost 4 each: starts 0,4,8,... -> shards 0,0,1,2,3,4,...
    assert [r.shard for r in out][:4] == [0, 0, 1, 2]
    # default equality pin: sep_tokens=0 == the knob-free call
    a = pack_sequences(t, budget=5).df.collect()
    b = pack_sequences(t, budget=5, sep_tokens=0).df.collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError, match="sep_tokens"):
        pack_sequences(t, budget=5, sep_tokens=-1)


def test_pack_sequences_sep_tokens_wire(spark):
    """The sep_tokens kw rides only when set (default trees stay in
    the r13 form) and the remote result equals local."""
    from blaze_spark import data as bs_data
    from blaze_spark.interop import to_tree
    from blaze_spark.pipeline import pack_sequences
    from blaze_spark.server import BlazeSparkServer

    rows = [(i, "tok " * (i % 4 + 1)) for i in range(30)]
    t = bs_data(rows, spark=spark, schema="doc_id long, text string",
                name="pksepw")
    srv = BlazeSparkServer({"pksepw": t}, spark)
    srv.start(port=0)
    try:
        rt = bs_data(f"blaze://127.0.0.1:{srv.port}::pksepw",
                     spark=spark)
        remote = pack_sequences(rt, budget=7, sep_tokens=2)
        local = pack_sequences(t, budget=7, sep_tokens=2)
        got = sorted(map(tuple, spark.createDataFrame(
            remote.compute(), schema=remote.df.schema).collect()))
        assert got == sorted(map(tuple, local.df.collect()))
        assert to_tree(remote)["args"][1]["sep_tokens"] == 2
        plain = pack_sequences(rt, budget=7)
        assert "sep_tokens" not in to_tree(plain)["args"][1]
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# c4_clean — the C4 line-level cleaning pass (r15)


def test_c4_clean_line_rules(spark):
    """Hand-computed C4 line survival (Raffel et al. 2020 §2.2):
    terminal punctuation (incl. closing quote), >=3 words, no
    'javascript', blanks never counted as kept."""
    from blaze_spark.pipeline import c4_clean

    text = ('This line is clean.\n'
            'short.\n'
            'Please enable JavaScript to view.\n'
            'no punctuation here\n'
            '\n'
            '  Trailing spaces okay!  \n'
            'He said "quoted line."')
    t = data([(0, text)], spark=spark,
             schema="doc_id bigint, text string", name="c4docs")
    r = c4_clean(t).df.collect()[0]
    assert r.n_lines == 6                     # blanks excluded
    assert r.n_kept_lines == 3
    assert r.text_clean == ('This line is clean.\n'
                            'Trailing spaces okay!\n'
                            'He said "quoted line."')
    assert r.n_sentences == 3                 # . ! .  ('"' is not one)
    assert r.c4_pass == 0                     # default min_sentences=5
    r3 = c4_clean(t, min_sentences=3).df.collect()[0]
    assert r3.c4_pass == 1
    # the word bound is judged on the TRIMMED line
    r1 = c4_clean(t, min_line_words=1).df.collect()[0]
    assert r1.n_kept_lines == 4               # 'short.' now survives


def test_c4_clean_doc_rules(spark):
    """Document drops: lorem ipsum placeholder, '{' code pages, and the
    minimum-sentence floor counted over the CLEANED text."""
    from blaze_spark.pipeline import c4_clean

    five = ('One two three. Four five six. Seven eight nine. '
            'Ten eleven twelve. Thirteen fourteen fifteen.')
    rows = [
        (0, five),
        (1, 'Lorem Ipsum dolor sit amet. ' + five),
        (2, 'function f() { return 1; }. ' + five),
        (3, 'One two three. Four five six.'),
    ]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="c4docs2")
    out = {r.doc_id: r for r in c4_clean(t).df.collect()}
    assert out[0].c4_pass == 1 and out[0].n_sentences == 5
    assert out[1].has_lorem_ipsum == 1 and out[1].c4_pass == 0
    assert out[2].has_brace == 1 and out[2].c4_pass == 0
    assert out[3].c4_pass == 0                # 2 sentences < 5
    with pytest.raises(ValueError, match="min_line_words"):
        c4_clean(t, min_line_words=0)
    with pytest.raises(ValueError, match="min_sentences"):
        c4_clean(t, min_sentences=-1)


def test_c4_clean_is_shuffle_free(spark):
    """The whole pass is one projection: zero exchanges."""
    from blaze_spark.pipeline import c4_clean
    from blaze_spark.plans import exchange_count

    t = data([(1, "the cat sat.")], spark=spark,
             schema="doc_id bigint, text string", name="c4plan")
    assert exchange_count(c4_clean(t).df) == 0


def test_c4_clean_wire_node_roundtrip(spark):
    """c4_clean serializes as a unary tree op with its 2 thresholds;
    malformed threshold vectors reject loudly."""
    from blaze_spark.interop import from_tree
    from blaze_spark.pipeline import c4_clean

    t = data([(1, "One two three. Four five six.\nzz qq")],
             spark=spark, schema="doc_id bigint, text string",
             name="c4wire")
    local = c4_clean(t, min_line_words=2, min_sentences=2)
    tree = {"op": "c4_clean",
            "args": [{"op": "symbol", "args": ["c4wire"]}, "text",
                     [2, 2]]}
    got = from_tree(tree, spark=spark, datasets={"c4wire": t},
                    allow_data_uris=False)
    assert sorted(got.df.columns) == sorted(local.df.columns)
    assert [tuple(r) for r in got.df.collect()] == \
        [tuple(r) for r in local.df.collect()]
    bad = {"op": "c4_clean",
           "args": [{"op": "symbol", "args": ["c4wire"]}, "text", [2]]}
    with pytest.raises(ValueError, match="2 thresholds"):
        from_tree(bad, spark=spark, datasets={"c4wire": t},
                  allow_data_uris=False)
