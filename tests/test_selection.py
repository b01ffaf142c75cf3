"""Model-based data selection (pipeline/selection.py): hashed-feature
linear quality classifier and DSIR importance log-weights — planted
cases with hand-computed expectations, path-equality pins (map-literal
vs join), the identical-corpora logw==0 contract, and plan hygiene
(map-literal scoring is one shuffle-free projection)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from blaze_spark import data
from blaze_spark.pipeline import (
    dsir_log_weights,
    hashed_bucket_counts,
    quality_classifier,
    weighted_sample,
)

B = 4096


def _bucket(tok: str, n_buckets: int = B) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets


@pytest.fixture(scope="module")
def sdocs(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "spam spam spam buy now"),
        (2, "a quiet morning walk in the park"),
        (3, "buy spam now"),
    ]
    return data(rows, spark=spark, schema="doc_id bigint, text string",
                name="sdocs")


def _weights(spark, pairs):
    return spark.createDataFrame(
        [(float(b), int(w)) for b, w in pairs],  # float bucket: op casts
        "bucket double, weight_milli long")


def test_hashed_bucket_counts_exact(spark, sdocs):
    counts = {r["bucket"]: r["cnt"]
              for r in hashed_bucket_counts(sdocs).collect()}
    # 'the' appears 3x corpus-wide, 'spam' 4x — exact LONG counts
    assert counts[_bucket("the")] == 3
    assert counts[_bucket("spam")] == 4
    assert sum(counts.values()) == 6 + 5 + 7 + 3


def test_quality_classifier_hand_computed(spark, sdocs):
    wts = _weights(spark, [(_bucket("the"), 10), (_bucket("a"), 10),
                           (_bucket("spam"), -50)])
    out = quality_classifier(sdocs, wts, intercept_milli=5,
                             threshold_milli=0)
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 0: 2*'the' -> 5 + 20 = 25, keep
    assert rows[0]["score_milli"] == 25 and rows[0]["keep"] == 1
    # doc 1: 3*'spam' -> 5 - 150 = -145, drop
    assert rows[1]["score_milli"] == -145 and rows[1]["keep"] == 0
    # doc 2: 'a' + 'the' -> 5 + 20 = 25, keep
    assert rows[2]["score_milli"] == 25 and rows[2]["keep"] == 1
    # doc 3: 1*'spam' -> 5 - 50 = -45, drop
    assert rows[3]["score_milli"] == -45 and rows[3]["keep"] == 0
    assert rows[0]["n_tokens"] == 6


def test_quality_classifier_paths_equal(spark, sdocs):
    """The literal-map projection and the explode/broadcast-join
    fallback are one contract: identical rows."""
    wts = _weights(spark, [(_bucket("the"), 7), (_bucket("spam"), -3),
                           (_bucket("buy"), 2)])
    lit = quality_classifier(sdocs, wts, intercept_milli=1,
                             threshold_milli=2)
    join = quality_classifier(sdocs, wts, intercept_milli=1,
                              threshold_milli=2, max_map_literal=0)
    assert sorted(map(tuple, lit.collect())) == \
        sorted(map(tuple, join.collect()))


def test_quality_classifier_duplicate_buckets_sum(spark, sdocs):
    """Feature-hash collision semantics: duplicate bucket rows SUM (not
    last-wins) on both plan shapes."""
    dup = _weights(spark, [(_bucket("the"), 10), (_bucket("the"), 5)])
    for kw in ({}, {"max_map_literal": 0}):
        rows = {r["doc_id"]: r["score_milli"]
                for r in quality_classifier(sdocs, dup, **kw).collect()}
        assert rows[0] == 2 * 15


def test_quality_classifier_out_of_range_buckets_dropped(spark, sdocs):
    """ADVICE r10: weight rows with buckets outside [0, n_buckets) can
    never match a hashed feature — they must neither change scores nor
    count toward the literal/broadcast sizing (a model padded with junk
    ids must not be pushed off the fast literal-map path)."""
    good = [(_bucket("the"), 10), (_bucket("spam"), -50)]
    junk = [(-5, 999), (B, 123), (B + 7, -1), (10 ** 12, 5)]
    want = sorted(map(tuple,
                      quality_classifier(sdocs,
                                         _weights(spark, good)).collect()))
    for kw in ({}, {"max_map_literal": 0}):
        got = sorted(map(tuple,
                         quality_classifier(
                             sdocs, _weights(spark, good + junk),
                             **kw).collect()))
        assert got == want
    # sizing ignores junk: 2 real weights + junk stays on the literal
    # path (shuffle-free) even with max_map_literal=2
    from blaze_spark.plans import exchange_count
    out = quality_classifier(sdocs, _weights(spark, good + junk),
                             max_map_literal=2)
    assert exchange_count(out) == 0


def test_model_weights_import_helper(spark, sdocs):
    """r11: model_weights turns a trained {feature: float_weight}
    vocabulary into the (bucket, weight_milli) table — same md5
    buckets and milli-quantization as the inline construction, so
    scores are identical; colliding features SUM downstream; empty
    vocab behaves like the empty model."""
    from blaze_spark.pipeline import model_weights

    vocab = {"the": 0.01, "a": 0.0101, "spam": -0.05}
    inline = _weights(spark, [(_bucket(w), round(f * 1000))
                              for w, f in vocab.items()])
    want = sorted(map(tuple,
                      quality_classifier(sdocs, inline,
                                         intercept_milli=5).collect()))
    got = sorted(map(tuple,
                     quality_classifier(
                         sdocs, model_weights(spark, vocab),
                         intercept_milli=5).collect()))
    assert got == want
    # scale controls the fixed-point quantum
    w2 = model_weights(spark, {"the": 0.5}, scale=10)
    assert [tuple(r) for r in w2.collect()] == [(_bucket("the"), 5)]
    # empty vocab -> every score is the intercept
    out = quality_classifier(sdocs, model_weights(spark, {}),
                             intercept_milli=7)
    assert {r["score_milli"] for r in out.collect()} == {7}
    with pytest.raises(ValueError, match="scale"):
        model_weights(spark, vocab, scale=0)


def test_quality_classifier_empty_weights(spark, sdocs):
    out = quality_classifier(sdocs, _weights(spark, []),
                             intercept_milli=3, threshold_milli=4)
    for r in out.collect():
        assert r["score_milli"] == 3 and r["keep"] == 0


def test_quality_classifier_map_literal_is_shuffle_free(spark, sdocs):
    from blaze_spark.plans import exchange_count
    wts = _weights(spark, [(_bucket("the"), 10)])
    out = quality_classifier(sdocs, wts)
    assert exchange_count(out) == 0  # model folded into the projection


def test_dsir_identical_corpora_is_exact_zero(spark, sdocs):
    """raw == target -> every count ratio is exactly 1 -> logw == 0.0
    for every document (integer counts, no float residue)."""
    out = dsir_log_weights(sdocs, sdocs)
    assert [r["logw"] for r in out.collect()] == [0.0] * 4


def test_dsir_hand_computed(spark):
    raw = data([(0, "x x"), (1, "y y")], spark=spark,
               schema="doc_id bigint, text string", name="dsr")
    target = data([(10, "x x x")], spark=spark,
                  schema="doc_id bigint, text string", name="dst")
    out = {r["doc_id"]: r["logw"]
           for r in dsir_log_weights(raw, target, n_buckets=64).collect()}
    s, nb = 1, 64
    # raw: x=2, y=2 (R=4); target: x=3 (T=3)
    def tok_lr(tc, rc):
        return (math.log((tc + s) / (3 + s * nb))
                - math.log((rc + s) / (4 + s * nb)))
    assert out[0] == pytest.approx(round(2 * tok_lr(3, 2), 4), abs=1e-9)
    assert out[1] == pytest.approx(round(2 * tok_lr(0, 2), 4), abs=1e-9)
    # target-like doc scores above target-unlike doc
    assert out[0] > out[1]


def test_dsir_scoring_paths_equal(spark, sdocs):
    """The literal-map fold and the explode/broadcast-join fallback are
    one contract: identical rows (round-4 absorbs the per-doc sum-order
    difference between an array fold and a hash aggregate)."""
    target = data([(7, "the cat and the hat")], spark=spark,
                  schema="doc_id bigint, text string", name="dspe")
    lit = dsir_log_weights(sdocs, target)
    join = dsir_log_weights(sdocs, target, max_map_literal=0)
    assert sorted(map(tuple, lit.collect())) == \
        sorted(map(tuple, join.collect()))


def test_dsir_precomputed_counts_match_fit(spark, sdocs):
    target = data([(7, "the cat and the hat")], spark=spark,
                  schema="doc_id bigint, text string", name="dstgt")
    fit = dsir_log_weights(sdocs, target)
    pre = dsir_log_weights(
        sdocs, raw_counts=hashed_bucket_counts(sdocs),
        target_counts=hashed_bucket_counts(target))
    assert sorted(map(tuple, fit.collect())) == \
        sorted(map(tuple, pre.collect()))


def test_dsir_counts_frame_duplicate_buckets_sum(spark, sdocs):
    """ADVICE r10: a user-supplied counts frame with duplicate bucket
    rows (e.g. an unaggregated UNION of two stores' partials) must SUM
    per bucket, not silently keep one partial (last-wins dicts)."""
    target = data([(7, "the cat and the hat")], spark=spark,
                  schema="doc_id bigint, text string", name="dsdup")
    rc = hashed_bucket_counts(sdocs)
    tc = hashed_bucket_counts(target)

    def split(df):
        # every bucket row twice with the count split 1 / (cnt-1) —
        # the unaggregated two-partials shape; sums reproduce df
        return (df.select("bucket", F.lit(1).cast("long").alias("cnt"))
                .unionByName(
                    df.select("bucket", (F.col("cnt") - 1)
                              .cast("long").alias("cnt"))))

    want = sorted(map(tuple,
                      dsir_log_weights(sdocs, raw_counts=rc,
                                       target_counts=tc).collect()))
    got = sorted(map(tuple,
                     dsir_log_weights(sdocs, raw_counts=split(rc),
                                      target_counts=split(tc))
                     .collect()))
    assert got == want


def test_dsir_one_pass_dual_count_fit(spark, sdocs):
    """VERDICT r10 #3: when the target is a FILTER of raw,
    ``target_filter=`` fits BOTH count relations in one tokenization —
    identical weights to the two-fit form, and the dual fit's plan
    reads the corpus exactly once."""
    pred = F.col("doc_id").isin([0, 2])
    want = sorted(map(tuple,
                      dsir_log_weights(sdocs, sdocs[sdocs.doc_id
                                                    .isin([0, 2])])
                      .collect()))
    got = sorted(map(tuple,
                     dsir_log_weights(sdocs, target_filter=pred)
                     .collect()))
    assert got == want
    # SQL-string predicates work too
    got2 = sorted(map(tuple,
                      dsir_log_weights(sdocs,
                                       target_filter="doc_id IN (0, 2)")
                      .collect()))
    assert got2 == want

    # one scan: the dual-count fit relation reads its source ONCE
    from blaze_spark import data as _data
    from blaze_spark.plans import physical_plan
    pdocs = _data("/root/testdata/sf0.001/documents.parquet",
                  spark=spark, name="pdocs")
    dual = hashed_bucket_counts(
        pdocs, target_filter=F.col("source").isin(["src0"]))
    assert all(r["cnt"] >= r["target_cnt"] >= 0
               for r in dual.collect())
    import re
    plan = physical_plan(dual)
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, plan

    # exclusivity: target_filter replaces the other target forms
    with pytest.raises(ValueError, match="pass it alone"):
        dsir_log_weights(sdocs, sdocs, target_filter=pred)
    with pytest.raises(ValueError, match="pass it alone"):
        dsir_log_weights(sdocs, target_filter=pred,
                         raw_counts=hashed_bucket_counts(sdocs))
    with pytest.raises(TypeError, match="target_filter"):
        dsir_log_weights(sdocs, target_filter=42)


def test_dsir_guards(spark, sdocs):
    with pytest.raises(ValueError, match="target"):
        dsir_log_weights(sdocs)
    with pytest.raises(ValueError, match="smoothing"):
        dsir_log_weights(sdocs, sdocs, smoothing=0)
    from blaze_spark.pipeline.selection import token_buckets
    with pytest.raises(ValueError, match="n_buckets"):
        token_buckets(F.col("text"), 10 ** 6)


def test_dsir_bigram_features_see_order(spark):
    """n=2 distinguishes token ORDER where unigrams cannot: raw docs
    'x y' and 'y x' have identical unigram logw but different bigram
    logw against a target of 'x y' docs (the reason DSIR's paper uses
    unigram+bigram features)."""
    raw = data([(0, "x y"), (1, "y x")], spark=spark,
               schema="doc_id bigint, text string", name="dsbr")
    target = data([(10, "x y")], spark=spark,
                  schema="doc_id bigint, text string", name="dsbt")
    uni = {r["doc_id"]: r["logw"]
           for r in dsir_log_weights(raw, target, n_buckets=64).collect()}
    bi = {r["doc_id"]: r["logw"]
          for r in dsir_log_weights(raw, target, n_buckets=64,
                                    n=2).collect()}
    assert uni[0] == uni[1]          # unigram-blind to order
    assert bi[0] > bi[1]             # bigram sees it
    # hand-computed: target bigrams {'x y': 1} (T=1), raw {'x y':1,'y x':1}
    s, nb = 1, 64
    def lr(tc, rc):
        return (math.log((tc + s) / (1 + s * nb))
                - math.log((rc + s) / (2 + s * nb)))
    assert bi[0] == pytest.approx(round(lr(1, 1), 4), abs=1e-9)
    assert bi[1] == pytest.approx(round(lr(0, 1), 4), abs=1e-9)


def test_dsir_bigram_identical_corpora_zero(spark, sdocs):
    out = dsir_log_weights(sdocs, sdocs, n=2)
    assert [r["logw"] for r in out.collect()] == [0.0] * 4


def test_quality_classifier_bigram_features(spark, sdocs):
    """n=2: the model keys on word PAIRS — 'buy now' scores, the same
    words apart do not; short docs yield no features (intercept only)."""
    wts = _weights(spark, [(_bucket("buy now"), 25)])
    out = {r["doc_id"]: r["score_milli"]
           for r in quality_classifier(sdocs, wts, n=2).collect()}
    assert out[1] == 25   # 'spam spam spam buy now' contains the pair
    assert out[3] == 0    # 'buy spam now' does not
    one_word = data([(9, "solo")], spark=spark,
                    schema="doc_id bigint, text string", name="ow")
    r = quality_classifier(one_word, wts, n=2,
                           intercept_milli=7).collect()[0]
    assert r["score_milli"] == 7 and r["n_tokens"] == 1


def _gumbel_key(doc_id: int, score: float, temp: float = 1.0,
                seed: int = 42) -> float:
    u = (int(hashlib.md5(f"{doc_id}-{seed}".encode()).hexdigest()[:8], 16)
         + 1) / (2 ** 32 + 1)
    return round(score / temp + -math.log(-math.log(u)), 6)


def test_weighted_sample_matches_reference_keys(spark):
    from blaze_spark.pipeline import weighted_sample
    rows = [(i, float(i % 7)) for i in range(50)]
    t = data(rows, spark=spark, schema="doc_id bigint, score double",
             name="ws")
    got = weighted_sample(t, "score", n=10).collect()
    expect_ids = [i for _, i in
                  sorted((-_gumbel_key(i, s), i) for i, s in rows)[:10]]
    assert [r["doc_id"] for r in got] == expect_ids
    # keys exported and match the reference formula
    for r in got:
        assert r["sample_key"] == pytest.approx(
            _gumbel_key(r["doc_id"], float(r["doc_id"] % 7)), abs=1e-9)


def test_weighted_sample_threshold_form_consistent(spark):
    """The unbounded filter form keeps exactly the rows whose key
    clears the bound — calibrating the threshold from an n-run's last
    key reproduces that run's membership."""
    from blaze_spark.pipeline import weighted_sample
    rows = [(i, float((i * 13) % 11)) for i in range(40)]
    t = data(rows, spark=spark, schema="doc_id bigint, score double",
             name="wst")
    top = weighted_sample(t, "score", n=12).collect()
    thr = min(r["sample_key"] for r in top)
    via_thr = weighted_sample(t, "score", key_threshold=thr).collect()
    assert {r["doc_id"] for r in via_thr} >= {r["doc_id"] for r in top}
    # distinct keys here, so the sets are exactly equal
    assert len({r["sample_key"] for r in top}) == 12
    assert {r["doc_id"] for r in via_thr} == {r["doc_id"] for r in top}


def test_weighted_sample_higher_scores_win_at_low_temperature(spark):
    from blaze_spark.pipeline import weighted_sample
    rows = [(i, 100.0 if i < 5 else 0.0) for i in range(100)]
    t = data(rows, spark=spark, schema="doc_id bigint, score double",
             name="wsl")
    got = weighted_sample(t, "score", n=5, temperature=0.1).collect()
    assert {r["doc_id"] for r in got} == {0, 1, 2, 3, 4}


def test_weighted_sample_guards(spark):
    from blaze_spark.pipeline import weighted_sample
    t = data([(0, 1.0)], spark=spark,
             schema="doc_id bigint, score double", name="wsg")
    with pytest.raises(ValueError, match="exactly one"):
        weighted_sample(t, "score")
    with pytest.raises(ValueError, match="exactly one"):
        weighted_sample(t, "score", n=5, key_threshold=0.0)
    with pytest.raises(ValueError, match="temperature"):
        weighted_sample(t, "score", n=1, temperature=0.0)
    with pytest.raises(ValueError, match="max_n|n must"):
        weighted_sample(t, "score", n=10, max_n=5)


def test_weighted_sample_threshold_form_is_shuffle_free(spark):
    from blaze_spark.pipeline import weighted_sample
    from blaze_spark.plans import exchange_count
    t = data([(i, float(i)) for i in range(10)], spark=spark,
             schema="doc_id bigint, score double", name="wsp")
    out = weighted_sample(t, "score", key_threshold=0.5)
    assert exchange_count(out) == 0


def test_calibrate_key_threshold(spark):
    """VERDICT r10 #4: the calibrated threshold for weighted_sample's
    unbounded filter form gives E[kept] ≈ target_n — EXACT (and equal
    to the top-n set) when the calibration sample is the full corpus,
    inside a binomial band on a subsample; deterministic across
    calls."""
    from blaze_spark.pipeline import calibrate_key_threshold

    rows = [(i, float((i * 37) % 100) / 10.0) for i in range(2000)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, score double", name="calib")

    # full-corpus sample: the k-th largest key is exact
    thr = calibrate_key_threshold(t, "score", 100, max_sample=10_000)
    kept_ids = {r["doc_id"] for r in
                weighted_sample(t, "score",
                                key_threshold=thr).collect()}
    top_ids = {r["doc_id"] for r in
               weighted_sample(t, "score", n=100).collect()}
    assert len(kept_ids) == 100 and kept_ids == top_ids
    # deterministic: same inputs -> same threshold (md5, no RNG)
    assert thr == calibrate_key_threshold(t, "score", 100,
                                          max_sample=10_000)

    # bounded subsample (~600 of 2000): kept count lands in the
    # binomial band around the 500 target
    thr2 = calibrate_key_threshold(t, "score", 500, max_sample=600)
    kept2 = weighted_sample(t, "score", key_threshold=thr2).count()
    assert 350 <= kept2 <= 650, kept2

    # target >= corpus keeps everything; guards are loud
    assert calibrate_key_threshold(t, "score", 5000) == float("-inf")
    with pytest.raises(ValueError, match="target_n"):
        calibrate_key_threshold(t, "score", 0)
    with pytest.raises(ValueError, match="temperature"):
        calibrate_key_threshold(t, "score", 10, temperature=0)


def test_selection_remote_dispatch_records_trees(spark, sdocs):
    """r11: remote inputs no longer raise at entry — each entry point
    records its wire node over the input's tree and returns a remote
    expression with the exact local output schema (real HTTP
    round-trips: test_server.test_remote_selection_family_runs_
    server_side)."""
    remote = data([(0, "t")], spark=spark,
                  schema="doc_id bigint, text string", name="rsel")
    remote._client = object()  # simulate a blaze:// table
    remote._tree = {"op": "symbol", "args": ["rsel"]}

    out = quality_classifier(remote, _weights(spark, [(5, 10)]))
    assert out._tree["op"] == "quality_classifier"
    # the model ships as literal rows + DDL (the local function
    # normalizes it server-side, as it does locally)
    assert out._tree["args"][1]["weights"]["rows"] == [[5.0, 10]]
    assert "weight_milli" in out._tree["args"][1]["weights"]["schema"]
    assert out.df.schema.simpleString() == \
        "struct<doc_id:bigint,n_tokens:int,score_milli:bigint,keep:int>"

    counts = hashed_bucket_counts(remote, n_buckets=64)
    assert counts._tree["op"] == "hashed_bucket_counts"
    d = dsir_log_weights(remote, target_counts=counts,
                         raw_counts=hashed_bucket_counts(sdocs,
                                                         n_buckets=64),
                         n_buckets=64)
    # remote counts ride as a SUBTREE, local counts as literal rows
    assert d._tree["args"][2]["target_counts"]["op"] == \
        "hashed_bucket_counts"
    assert "rows" in d._tree["args"][2]["raw_counts"]
    assert d.df.schema.simpleString() == \
        "struct<doc_id:bigint,n_tokens:int,logw:double>"

    ws = weighted_sample(d, "logw", n=3)
    assert ws._tree["op"] == "weighted_sample"
    assert "sample_key" in ws.df.columns
    # a mixed local/remote target still fails loudly
    with pytest.raises(TypeError, match="SAME server"):
        dsir_log_weights(remote, sdocs)


def test_classifier_sizing_one_job_per_weights_plan(spark, sdocs):
    """VERDICT r11: sizing the model is ONE bounded collect per
    distinct weights plan, memoized by semantic hash — a loop scoring
    many corpora against one model launches one sizing job, not one
    per call (the batched_topk count-hoist discipline)."""
    from blaze_spark.pipeline import selection as sel

    wts = _weights(spark, [(_bucket("the"), 10), (_bucket("spam"), -50)])
    sel._WEIGHT_ROWS_CACHE.clear()
    sc = spark.sparkContext
    sc.setJobGroup("qc-sizing-cold", "first classifier construction")
    try:
        quality_classifier(sdocs, wts, threshold_milli=0)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    cold = len(tracker.getJobIdsForGroup("qc-sizing-cold"))
    assert cold >= 1  # the one bounded sizing collect (CollectLimit
    #                   may split it into incremental attempts)
    sc.setJobGroup("qc-sizing-warm", "repeated classifier construction")
    try:
        for _ in range(4):
            # plan construction only — no scoring action inside the group
            quality_classifier(sdocs, wts, threshold_milli=0)
    finally:
        sc.setJobGroup(None, None)
    warm = len(tracker.getJobIdsForGroup("qc-sizing-warm"))
    assert warm == 0, f"repeat construction launched {warm} jobs"
    assert len(sel._WEIGHT_ROWS_CACHE) == 1
    # the memoized plan still scores correctly
    out = {r["doc_id"]: r["score_milli"] for r in
           quality_classifier(sdocs, wts).collect()}
    assert out[1] == -150  # 'spam' ×3 → 3 × −50
    # a DIFFERENT weights plan is a fresh entry, and the memo is LRU-bounded
    for i in range(sel._WEIGHT_ROWS_CACHE_MAX + 2):
        quality_classifier(
            sdocs, _weights(spark, [(_bucket("the"), 10 + i)]))
    assert len(sel._WEIGHT_ROWS_CACHE) <= sel._WEIGHT_ROWS_CACHE_MAX


# --- train_quality_classifier: the in-engine logistic fit (r14) ------


@pytest.fixture(scope="module")
def labeled_docs(spark):
    """A separable good-vs-spam corpus: label-1 docs draw from a
    quality vocabulary, label-0 docs from a spam vocabulary, both mixed
    with shared function words (the CCNet wiki-vs-crawl shape)."""
    import random

    rng = random.Random(7)
    good = ["science", "history", "novel", "theory", "essay", "poem"]
    spam = ["click", "buy", "free", "winner", "pills", "casino"]
    common = ["the", "a", "of", "and", "is", "to"]
    rows = []
    for i in range(200):
        lab = i % 2
        vocab = good if lab else spam
        toks = [rng.choice(vocab if rng.random() < 0.6 else common)
                for _ in range(rng.randint(8, 30))]
        rows.append((i, " ".join(toks), lab))
    return data(rows, spark=spark,
                schema="doc_id bigint, text string, y int",
                name="labeled_docs")


def test_train_classifier_learns_separable(spark, labeled_docs):
    from blaze_spark.pipeline import train_quality_classifier

    m = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=3)
    out = m.classify(labeled_docs)
    acc = (out.join(labeled_docs.df.select("doc_id", "y"), "doc_id")
           .selectExpr("avg(CAST(keep = y AS DOUBLE)) a")
           .collect()[0]["a"])
    assert acc == 1.0
    # residuals collapse once the fit separates (epoch 1 is always
    # n_docs * 500000 exactly: the zero model scores p = 0.5 for all)
    assert m.history[0]["abs_residual_micro"] == 200 * 500_000
    assert (m.history[-1]["abs_residual_micro"]
            < m.history[0]["abs_residual_micro"] // 10)


def test_train_classifier_deterministic(spark, labeled_docs):
    from blaze_spark.pipeline import train_quality_classifier

    a = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=3)
    b = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=3)
    assert a.weights == b.weights
    assert a.intercept_milli == b.intercept_milli
    assert a.history == b.history


def test_train_classifier_epoch1_hand_computed(spark, sdocs):
    """Epoch 1 from the zero model is fully hand-computable: p = 0.5
    exactly, residual_micro = 500000 - 1e6*y, gradient per bucket is
    the exact integer sum over token occurrences, and the update
    rounds halves AWAY from zero (SQL ROUND semantics)."""
    from blaze_spark.pipeline import train_quality_classifier
    from blaze_spark.pipeline.selection import _round_half_away

    # labels: docs 1 and 3 are spam (y=0), docs 0 and 2 quality (y=1)
    m = train_quality_classifier(sdocs, "doc_id IN (0, 2)",
                                 n_buckets=B, epochs=1, lr=4.0)
    toks = {0: "the cat sat on the mat".split(),
            1: "spam spam spam buy now".split(),
            2: "a quiet morning walk in the park".split(),
            3: "buy spam now".split()}
    y = {0: 1, 1: 0, 2: 1, 3: 0}
    r = {d: 500_000 - 1_000_000 * y[d] for d in toks}
    g: dict = {}
    for d, ts in toks.items():
        for t in ts:
            g[_bucket(t)] = g.get(_bucket(t), 0) + r[d]
    exp_w = {}
    for b, gb in g.items():
        w = -_round_half_away(4.0 * gb / (1000.0 * 4))
        if w:
            exp_w[b] = w
    exp_b0 = -_round_half_away(4.0 * sum(r.values()) / (1000.0 * 4))
    assert m.weights == exp_w
    assert m.intercept_milli == exp_b0
    assert m.history == [{"n_docs": 4,
                          "abs_residual_micro": 4 * 500_000}]


def test_train_classifier_label_forms_equal(spark, labeled_docs):
    """A 0/1 integer column name and the equivalent boolean predicate
    fit the same model (NULL labels count as 0, filter semantics)."""
    from blaze_spark.pipeline import train_quality_classifier

    a = train_quality_classifier(labeled_docs, "y", n_buckets=512,
                                 epochs=2)
    b = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=2)
    c = train_quality_classifier(labeled_docs,
                                 labeled_docs.y == 1, n_buckets=512,
                                 epochs=2)
    assert a.weights == b.weights == c.weights
    assert a.intercept_milli == b.intercept_milli == c.intercept_milli


def test_train_classifier_null_text_feeds_intercept(spark):
    """NULL text is an empty feature array, not a dropped row — the
    doc still carries label evidence for the intercept (n_docs counts
    it)."""
    from blaze_spark.pipeline import train_quality_classifier

    t = data([(0, "good words", 1), (1, None, 0), (2, None, 0)],
             spark=spark, schema="doc_id bigint, text string, y int",
             name="nulltext_docs")
    m = train_quality_classifier(t, "y = 1", epochs=1)
    assert m.history[0]["n_docs"] == 3
    # zero model, y = (1,0,0): Σr = 500000 - 1000000 + 2*500000 ... =
    # (500000-1000000) + 500000 + 500000 = 500000
    assert m.intercept_milli == -_round_half_away_ref(4.0 * 500_000
                                                      / (1000.0 * 3))


def _round_half_away_ref(x):
    import math as _m
    return int(_m.floor(x + 0.5)) if x >= 0 else -int(_m.floor(-x + 0.5))


def test_train_classifier_persist_path_equal(spark, labeled_docs,
                                             monkeypatch):
    """A multi-epoch fit caches its features; the fitted model equals
    the uncached fit's."""
    from blaze_spark.cache import owned_cache
    from blaze_spark.pipeline import selection, train_quality_classifier

    a = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=2)
    monkeypatch.setattr(selection, "owned_cache",
                        lambda df: owned_cache(None))
    b = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=2)
    assert a.weights == b.weights
    assert a.intercept_milli == b.intercept_milli


def test_train_classifier_round_half_away():
    from blaze_spark.pipeline.selection import _round_half_away

    # Python round() would give 0, -2, 2 on the first three — SQL
    # ROUND (Spark doubles, DuckDB) rounds halves away from zero
    assert _round_half_away(0.5) == 1
    assert _round_half_away(-2.5) == -3
    assert _round_half_away(2.5) == 3
    assert _round_half_away(1.4) == 1
    assert _round_half_away(-1.4) == -1


def test_train_classifier_guards(spark, labeled_docs):
    from blaze_spark.pipeline import train_quality_classifier

    with pytest.raises(ValueError, match="epochs"):
        train_quality_classifier(labeled_docs, "y = 1", epochs=0)
    with pytest.raises(ValueError, match="lr"):
        train_quality_classifier(labeled_docs, "y = 1", lr=0.0)
    empty = data([], spark=spark,
                 schema="doc_id bigint, text string, y int",
                 name="empty_train_docs")
    with pytest.raises(ValueError, match="empty"):
        train_quality_classifier(empty, "y = 1", epochs=1)


def test_train_classifier_weights_df_roundtrip(spark, labeled_docs):
    """weights_df exports exactly the relation quality_classifier
    consumes: classify() == quality_classifier(weights_df())."""
    from blaze_spark.pipeline import (quality_classifier,
                                      train_quality_classifier)

    m = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=2)
    via_df = quality_classifier(
        labeled_docs, m.weights_df(spark), n_buckets=512,
        intercept_milli=m.intercept_milli).orderBy("doc_id").collect()
    via_classify = m.classify(labeled_docs).orderBy("doc_id").collect()
    assert via_df == via_classify


def test_train_classifier_remote_eager_posts_tree(spark):
    """The trainer is eager (a driver epoch loop), so the remote form
    POSTs ONE fit tree — the whole loop runs where the corpus lives —
    and rebuilds the model from the returned bounded relation
    (intercept at pseudo-bucket -1).  Real HTTP:
    test_server.test_remote_classifier_training_runs_server_side."""
    import pandas as pd

    from blaze_spark.pipeline import train_quality_classifier

    remote = data([(0, "t", 0)], spark=spark,
                  schema="doc_id bigint, text string, y int",
                  name="rtrain")

    class _FakeClient:
        def __init__(self):
            self.trees = []

        def compute_tree(self, tree):
            self.trees.append(tree)
            return pd.DataFrame({"bucket": [-1, 7],
                                 "weight_milli": [-200, 35]})

    remote._client = _FakeClient()
    remote._tree = {"op": "symbol", "args": ["rtrain"]}
    m = train_quality_classifier(remote, remote.y == 1, n_buckets=64,
                                 epochs=2)
    assert m.intercept_milli == -200
    assert m.weights == {7: 35}
    assert m.n_buckets == 64 and m.history == []
    (tree,) = remote._client.trees
    assert tree["op"] == "train_quality_classifier"
    assert tree["args"][1]["epochs"] == 2
    assert tree["args"][1]["label"]["op"] == "eq"
    assert "lr" not in tree["args"][1]     # defaults stay off the node
    # a label that isn't a serializable remote expression fails loudly
    with pytest.raises(TypeError, match="serializable"):
        train_quality_classifier(remote, "y = 1")
    # guards fire BEFORE any POST
    with pytest.raises(ValueError, match="epochs"):
        train_quality_classifier(remote, remote.y == 1, epochs=0)


def test_trained_model_rows_roundtrip(spark, labeled_docs):
    """to_rows/from_rows is lossless for weights + intercept (history
    deliberately does not survive); duplicate buckets SUM on rebuild
    (the family's hash-collision contract)."""
    from blaze_spark.pipeline import (TrainedQualityModel,
                                      train_quality_classifier)

    m = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=2)
    back = TrainedQualityModel.from_rows(m.to_rows(), m.n_buckets, m.n)
    assert back.weights == m.weights
    assert back.intercept_milli == m.intercept_milli
    dup = TrainedQualityModel.from_rows(
        [[-1, 5], [-1, 7], [3, 10], [3, -10], [4, 2]], 64)
    assert dup.intercept_milli == 12
    assert dup.weights == {4: 2}  # bucket 3 summed to zero and dropped


def test_train_classifier_matches_pure_python_reference(spark):
    """Differential pin over random corpora (the train_bpe
    incremental==naive discipline): the distributed fit must be
    BYTE-IDENTICAL to a from-scratch pure-Python implementation of
    the documented algorithm — md5 bucketing, integer micro residual
    quantization, half-away-from-zero updates — across random docs,
    labels, bucket counts, epochs and learning rates."""
    import hashlib
    import math
    import random

    from blaze_spark.pipeline import train_quality_classifier

    def ref_fit(docs, n_buckets, epochs, lr):
        def rha(x):
            return (int(math.floor(x + 0.5)) if x >= 0
                    else -int(math.floor(-x + 0.5)))

        w: dict = {}
        b0 = 0
        for _ in range(epochs):
            g: dict = {}
            g0 = 0
            for toks, y in docs:
                bks = [int(hashlib.md5(t.encode()).hexdigest()[:8],
                           16) % n_buckets for t in toks]
                s = b0 + sum(w.get(b, 0) for b in bks)
                p = 1.0 / (1.0 + math.exp(-s / 1000.0))
                # Spark's ROUND on doubles: half away from zero
                r = rha((p - y) * 1e6)
                g0 += r
                for b in bks:
                    g[b] = g.get(b, 0) + r
            n = len(docs)
            b0 -= rha(lr * g0 / (1000.0 * n))
            for b, gb in g.items():
                nw = w.get(b, 0) - rha(lr * gb / (1000.0 * n))
                if nw:
                    w[b] = nw
                else:
                    w.pop(b, None)
        return w, b0

    rng = random.Random(1414)
    vocab = [f"w{j}" for j in range(40)]
    for case in range(6):
        n_buckets = rng.choice([16, 64, 256])
        epochs = rng.randint(1, 3)
        lr = rng.choice([0.5, 2.0, 4.0, 9.0])
        order = rng.choice([1, 1, 2])    # n=2: word-bigram features
        docs = []
        for i in range(rng.randint(5, 40)):
            toks = [rng.choice(vocab)
                    for _ in range(rng.randint(1, 12))]
            docs.append((toks, rng.randint(0, 1)))

        def feats(toks, order=order):
            if order == 1:
                return toks
            return [" ".join(toks[j:j + 2])
                    for j in range(len(toks) - 1)]

        t = data([(i, " ".join(tk), y)
                  for i, (tk, y) in enumerate(docs)],
                 spark=spark,
                 schema="doc_id long, text string, y int",
                 name=f"difftrain{case}")
        m = train_quality_classifier(t, "y = 1", n_buckets=n_buckets,
                                     epochs=epochs, lr=lr, n=order)
        ew, eb0 = ref_fit([(feats(tk), y) for tk, y in docs],
                          n_buckets, epochs, lr)
        assert m.weights == ew, (case, n_buckets, epochs, lr, order)
        assert m.intercept_milli == eb0, (case, n_buckets, epochs,
                                          lr, order)


def test_trained_model_save_load_roundtrip(spark, labeled_docs,
                                           tmp_path):
    """Model persistence (fit once, score many): save/load roundtrips
    weights + intercept + geometry (self-described in the artifact),
    the loaded model classifies byte-identically, and a mis-stamped
    directory fails loudly."""
    from blaze_spark.pipeline import train_quality_classifier
    from blaze_spark.pipeline.selection import TrainedQualityModel

    m = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=2)
    path = str(tmp_path / "qcls_model")
    m.save(spark, path)
    back = TrainedQualityModel.load(spark, path)
    assert back.weights == m.weights
    assert back.intercept_milli == m.intercept_milli
    assert back.n_buckets == 512 and back.n == 1
    assert (sorted(map(tuple, back.classify(labeled_docs).collect()))
            == sorted(map(tuple, m.classify(labeled_docs).collect())))
    # a counts store (different stamp) pointed here fails loudly
    from blaze_spark.streaming.incremental_counts import (
        ingest_counts_batch)

    store = str(tmp_path / "not_a_model")
    ingest_counts_batch(labeled_docs, store, n_buckets=64, batch_id=0)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="model format|_QCLS"):
        TrainedQualityModel.load(spark, store)
    # a plain parquet without the geometry rows fails loudly too
    plain = str(tmp_path / "plain")
    m.weights_df(spark).write.parquet(plain)
    with _pytest.raises(ValueError):
        TrainedQualityModel.load(spark, plain)


def test_calibrate_score_threshold(spark, labeled_docs):
    """Retention calibration for the classifier: at full-corpus
    sample the k-th largest score is exact, score >= threshold keeps
    AT LEAST the target (ties survive), keep_frac and target_n agree,
    and guards fire."""
    from blaze_spark.pipeline import (calibrate_score_threshold,
                                      train_quality_classifier)

    m = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=2)
    scored = m.classify(labeled_docs)
    n = scored.count()
    for frac in (0.1, 0.5, 0.9):
        thr = calibrate_score_threshold(scored, keep_frac=frac)
        kept = scored.filter(F.col("score_milli") >= thr).count()
        want = max(1, round(frac * n))
        assert kept >= want
        # never overshoots past the tie block: every kept doc at the
        # boundary shares the threshold score
        strictly = scored.filter(F.col("score_milli") > thr).count()
        assert strictly < want
    thr_n = calibrate_score_threshold(scored, target_n=25)
    thr_f = calibrate_score_threshold(scored, keep_frac=25 / n)
    assert thr_n == thr_f
    import pytest as _pytest
    with _pytest.raises(ValueError, match="exactly one"):
        calibrate_score_threshold(scored)
    with _pytest.raises(ValueError, match="exactly one"):
        calibrate_score_threshold(scored, keep_frac=0.5, target_n=3)
    with _pytest.raises(ValueError, match="keep_frac"):
        calibrate_score_threshold(scored, keep_frac=1.5)
    # remote inputs refuse (eager collect — the calibrate_key posture)
    remote = data([(0, "t", 0)], spark=spark,
                  schema="doc_id bigint, text string, y int",
                  name="rcal")
    remote._client = object()
    with _pytest.raises(Exception):
        calibrate_score_threshold(remote, keep_frac=0.5)


def test_trained_model_classify_reuses_one_plan(spark, labeled_docs):
    """VERDICT r11's one-sizing-job-per-model discipline, applied to
    the trained-model wrapper: repeated classify() calls reuse ONE
    weights plan object, so the classifier's semantic-hash memo hits
    instead of re-collecting the model per call."""
    from blaze_spark.pipeline import train_quality_classifier
    from blaze_spark.pipeline import selection as sel

    m = train_quality_classifier(labeled_docs, "y = 1", n_buckets=512,
                                 epochs=1)
    sel._WEIGHT_ROWS_CACHE.clear()
    for _ in range(5):
        m.classify(labeled_docs)
    assert len(sel._WEIGHT_ROWS_CACHE) == 1
    assert m.weights_df(spark) is m.weights_df(spark)


def test_calibrate_score_threshold_half_away_rounding(spark):
    """r15 (ADVICE): exact .5 retention boundaries round half AWAY
    from zero (the family's pinned discipline), not banker's — at
    n=10 and keep_frac=0.25 the target is 3 documents, so the
    threshold is the 3rd-highest score."""
    from blaze_spark.pipeline import calibrate_score_threshold

    rows = [(i, (i + 1) * 10) for i in range(10)]   # scores 10..100
    scored = data(rows, spark=spark,
                  schema="doc_id bigint, score_milli bigint",
                  name="cal_half")
    # want = round_half_away(0.25 * 10) = 3 (banker's round gives 2)
    thr = calibrate_score_threshold(scored, keep_frac=0.25)
    assert thr == 80        # 3rd-highest of 10..100
    kept = scored.df.filter(F.col("score_milli") >= thr).count()
    assert kept == 3


def test_train_classifier_aids_match_pure_python_reference(spark):
    """r15 (VERDICT r14 #4): the convergence aids keep the byte-exact
    differential contract — base-rate intercept init (Haldane–
    Anscombe-smoothed logit, half-away milli rounding) and the
    per-epoch lr·decay**t schedule both reproduce a from-scratch
    pure-Python twin exactly, across random corpora/configs."""
    import hashlib
    import math
    import random

    from blaze_spark.pipeline import train_quality_classifier

    def rha(x):
        return (int(math.floor(x + 0.5)) if x >= 0
                else -int(math.floor(-x + 0.5)))

    def ref_fit(docs, n_buckets, epochs, lr, init, decay):
        w: dict = {}
        b0 = 0
        if init:
            npos = sum(y for _, y in docs)
            b0 = rha(1000.0 * math.log(
                (npos + 0.5) / (len(docs) - npos + 0.5)))
        for e in range(epochs):
            g: dict = {}
            g0 = 0
            for toks, y in docs:
                bks = [int(hashlib.md5(t.encode()).hexdigest()[:8],
                           16) % n_buckets for t in toks]
                s = b0 + sum(w.get(b, 0) for b in bks)
                p = 1.0 / (1.0 + math.exp(-s / 1000.0))
                r = rha((p - y) * 1e6)
                g0 += r
                for b in bks:
                    g[b] = g.get(b, 0) + r
            n = len(docs)
            step = lr * (decay ** e)
            b0 -= rha(step * g0 / (1000.0 * n))
            for b, gb in g.items():
                nw = w.get(b, 0) - rha(step * gb / (1000.0 * n))
                if nw:
                    w[b] = nw
                else:
                    w.pop(b, None)
        return w, b0

    rng = random.Random(1515)
    vocab = [f"w{j}" for j in range(40)]
    for case in range(6):
        n_buckets = rng.choice([16, 64, 256])
        epochs = rng.randint(1, 4)
        lr = rng.choice([0.5, 2.0, 4.0, 9.0])
        init = rng.random() < 0.7
        decay = rng.choice([1.0, 0.9, 0.5, 0.25])
        docs = []
        for i in range(rng.randint(5, 40)):
            toks = [rng.choice(vocab)
                    for _ in range(rng.randint(1, 12))]
            docs.append((toks, rng.randint(0, 1)))
        t = data([(i, " ".join(tk), y)
                  for i, (tk, y) in enumerate(docs)],
                 spark=spark,
                 schema="doc_id long, text string, y int",
                 name=f"aidtrain{case}")
        m = train_quality_classifier(t, "y = 1", n_buckets=n_buckets,
                                     epochs=epochs, lr=lr,
                                     init_intercept=init,
                                     lr_decay=decay)
        ew, eb0 = ref_fit(docs, n_buckets, epochs, lr, init, decay)
        assert m.weights == ew, (case, n_buckets, epochs, lr, init,
                                 decay)
        assert m.intercept_milli == eb0, (case, n_buckets, epochs, lr,
                                          init, decay)


def test_train_classifier_aids_defaults_byte_identical(spark,
                                                       labeled_docs):
    """The aids default OFF: a fit passing the explicit defaults is
    byte-identical to the r14 form (existing oracle entries and saved
    models are untouched by the new parameters)."""
    from blaze_spark.pipeline import train_quality_classifier

    a = train_quality_classifier(labeled_docs, "y = 1", n_buckets=256,
                                 epochs=2)
    b = train_quality_classifier(labeled_docs, "y = 1", n_buckets=256,
                                 epochs=2, init_intercept=False,
                                 lr_decay=1.0)
    assert a.weights == b.weights
    assert a.intercept_milli == b.intercept_milli


def test_train_classifier_init_intercept_base_rate(spark):
    """init_intercept starts the intercept at the smoothed base-rate
    logit — exact value pinned, finite even on pure labels — and an
    epochs-long fit then moves it FROM there (history shows the
    epoch-1 residual at the base rate, not 0.5)."""
    import math

    from blaze_spark.pipeline import train_quality_classifier
    from blaze_spark.pipeline.selection import _round_half_away

    rows = [(i, f"tok{i} filler", 1 if i < 3 else 0)
            for i in range(10)]
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, y int", name="br10")
    # lr tiny so epoch updates round to zero: the fit RETURNS the init
    m = train_quality_classifier(t, "y = 1", n_buckets=64, epochs=1,
                                 lr=1e-9, init_intercept=True)
    want = _round_half_away(1000.0 * math.log(3.5 / 7.5))
    assert m.intercept_milli == want == -762
    # pure labels stay finite (Haldane–Anscombe smoothing)
    ones = data([(i, "t", 1) for i in range(4)], spark=spark,
                schema="doc_id bigint, text string, y int",
                name="brpure")
    mp = train_quality_classifier(ones, "y = 1", n_buckets=64,
                                  epochs=1, lr=1e-9,
                                  init_intercept=True)
    assert mp.intercept_milli == _round_half_away(
        1000.0 * math.log(4.5 / 0.5)) == 2197
    # the epoch-1 scoring pass starts from the base rate: mean |p-y|
    # ≈ 2·q·(1-q), not the zero-model 0.5
    h = m.history[0]
    assert h["abs_residual_micro"] / h["n_docs"] < 500_000


def test_train_classifier_aids_guards(spark, labeled_docs):
    """lr_decay outside (0, 1] refuses loudly, locally and before any
    remote POST; the wire node carries the aids only when engaged."""
    import pandas as pd

    from blaze_spark.pipeline import train_quality_classifier

    with pytest.raises(ValueError, match="lr_decay"):
        train_quality_classifier(labeled_docs, "y = 1", lr_decay=0.0)
    with pytest.raises(ValueError, match="lr_decay"):
        train_quality_classifier(labeled_docs, "y = 1", lr_decay=1.5)

    remote = data([(0, "t", 0)], spark=spark,
                  schema="doc_id bigint, text string, y int",
                  name="rtrain15")

    class _FakeClient:
        def __init__(self):
            self.trees = []

        def compute_tree(self, tree):
            self.trees.append(tree)
            return pd.DataFrame({"bucket": [-1],
                                 "weight_milli": [0]})

    remote._client = _FakeClient()
    remote._tree = {"op": "symbol", "args": ["rtrain15"]}
    with pytest.raises(ValueError, match="lr_decay"):
        train_quality_classifier(remote, remote.y == 1, lr_decay=2.0)
    assert remote._client.trees == []
    # defaults ride OFF the wire (pre-r15 servers keep reading trees)
    train_quality_classifier(remote, remote.y == 1, epochs=1)
    kw = remote._client.trees[-1]["args"][1]
    assert "init_intercept" not in kw and "lr_decay" not in kw
    # engaged aids ride ON the wire
    train_quality_classifier(remote, remote.y == 1, epochs=1,
                             init_intercept=True, lr_decay=0.5)
    kw = remote._client.trees[-1]["args"][1]
    assert kw["init_intercept"] is True and kw["lr_decay"] == 0.5


def test_train_classifier_init_speeds_weak_signal_residual(spark):
    """The pinned weak-signal convergence fixture (r15): 10%-positive
    mixture corpus where positives lean on a quality vocabulary.  The
    base-rate start reaches a mean-|p−y| at epoch 10 that plain GD
    from the zero model needs ~3× the epochs to match — every epoch
    is a full corpus scan at 100 TB, so starting calibrated buys real
    scans.  All quantities are integer-exact and deterministic (the
    fixture is seeded; the residual is the trainer's own integer
    telemetry), so the pin is exact, not a tolerance."""
    import random

    from blaze_spark.pipeline import train_quality_classifier

    rng = random.Random(11)
    common = ["the", "a", "of", "and", "is", "to", "in", "it", "on",
              "for", "with", "as", "at", "by", "this", "that", "be",
              "or", "an", "are"]
    qual = ["science", "history", "theory", "essay", "poem", "novel"]
    rows = []
    for i in range(400):
        pos = 1 if i % 10 == 0 else 0
        n_tok = rng.randint(15, 40)
        toks = [rng.choice(qual)
                if (pos and rng.random() < 0.25)
                else rng.choice(common) for _ in range(n_tok)]
        rows.append((i, " ".join(toks), pos))
    t = data(rows, spark=spark,
             schema="doc_id bigint, text string, y int",
             name="weakfix15")

    def res(m, i):
        h = m.history[i]
        return h["abs_residual_micro"] / h["n_docs"]

    plain = train_quality_classifier(t, "y = 1", n_buckets=512,
                                     epochs=30, lr=2.0)
    aided = train_quality_classifier(t, "y = 1", n_buckets=512,
                                     epochs=10, lr=2.0,
                                     init_intercept=True)
    # epoch 1 starts one intercept-travel closer: base-rate residual
    # (~0.18 at 10% positives), not the zero model's 0.5
    assert res(aided, 0) < 200_000 < res(plain, 0)
    # at epoch 10 the aided fit is ahead of plain at the same epoch
    # AND ahead of plain at epoch 30 (measured: 16.5k vs 25.3k / 18.9k
    # micro — plain crosses 16.5k only around epoch 40)
    assert res(aided, 9) < res(plain, 9)
    assert res(aided, 9) < res(plain, 29)
