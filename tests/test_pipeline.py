"""Tests for the LLM-data-pipeline operators (dedup / similarity / text /
multimodal) on the driver's documents+embeddings tables (sf0.001)."""

from __future__ import annotations

import pytest

from blaze_spark.pipeline import (
    attach_fake_binary,
    cosine_topk,
    decode_images,
    exact_dedup,
    extract_image_features,
    fingerprint,
    language_id,
    lsh_cosine_topk,
    minhash_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    normalized_dedup,
    quality_features,
    sample_video_frames,
    simhash,
    simhash_candidates,
    token_stats,
)


@pytest.fixture(scope="module")
def docs(star):
    return star["documents"]


@pytest.fixture(scope="module")
def emb(star):
    return star["embeddings"]


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """documents plus exact copies of 3 docs (new ids) — guarantees the
    dedup operators have something to find."""
    from blaze_spark import Table, concat
    from pyspark.sql import functions as F

    copies = Table(
        docs.df.filter(F.col("doc_id") < 3)
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    return concat(docs, copies)


def test_exact_dedup(docs_with_dups):
    out = exact_dedup(docs_with_dups).df
    dups = out.filter(out.n_copies > 1).collect()
    assert len(dups) == 3
    assert all(r.keeper_id < 3 for r in dups)


def test_normalized_dedup_catches_case_change(spark, docs):
    from blaze_spark import Table, concat
    from pyspark.sql import functions as F

    shouty = Table(
        docs.df.filter(F.col("doc_id") < 2)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.upper(F.col("text")))
    )
    both = concat(docs, shouty)
    assert exact_dedup(both).df.filter("n_copies > 1").count() == 0
    assert normalized_dedup(both).df.filter("n_copies > 1").count() == 2


def test_minhash_signature_shape(docs):
    row = minhash_signatures(docs, num_perm=16).df.first()
    assert len(row.signature) == 16


def test_minhash_max_tokens_bounds_giant_docs(spark):
    """r9 (ROADMAP #4): opt-in ``max_tokens`` shingles only the first N
    tokens — a giant doc's signature equals its N-token prefix's
    signature (explode cost stops growing with doc length), and docs
    under the cap keep their EXACT uncapped signature (stored
    signatures / _SIG_FORMAT preserved by the None default)."""
    from blaze_spark import data
    from blaze_spark.pipeline import minhash_signatures

    short = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    giant = short + " " + " ".join(f"w{i}" for i in range(400))
    prefix = " ".join(giant.split()[:50])
    t = data([(1, short), (2, giant), (3, prefix)], spark=spark,
             schema="doc_id long, text string", name="mt")
    sig = lambda tbl, **kw: {
        r.doc_id: list(r.signature)
        for r in minhash_signatures(tbl, **kw).df.collect()}
    uncapped = sig(t)
    capped = sig(t, max_tokens=50)
    assert capped[1] == uncapped[1]        # under the cap: identical
    assert capped[2] == uncapped[3]        # giant == its 50-token prefix
    assert capped[2] != uncapped[2]        # and differs from uncapped


def test_minhash_finds_exact_dups(docs_with_dups):
    pairs = minhash_candidates(docs_with_dups, num_perm=16, bands=4).df.collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    for i in range(3):
        assert (i, i + 100000) in found
    # exact copies have est_jaccard 1.0
    byp = {(r.doc_a, r.doc_b): r.est_jaccard for r in pairs}
    assert all(byp[(i, i + 100000)] == 1.0 for i in range(3))


def test_ngram_jaccard_verifies(docs_with_dups):
    cand = minhash_candidates(docs_with_dups, num_perm=16, bands=4)
    verified = ngram_jaccard_pairs(docs_with_dups, cand).df.collect()
    byp = {(r.doc_a, r.doc_b): r.jaccard for r in verified}
    assert all(byp[(i, i + 100000)] == 1.0 for i in range(3))


def test_jaccard_shingles_are_unreduced_64bit(docs_with_dups):
    """ADVICE r5: the exact-Jaccard verification path must compare full
    64-bit shingle hashes — mod-P reduction (needed only for the minhash
    permutations) would inflate scores via spurious collisions."""
    from blaze_spark.pipeline.dedup import _P, _shingle_hash_df

    sh = _shingle_hash_df(docs_with_dups.df, "text", 5).collect()
    vals = [v for r in sh for v in r.sh]
    # pmod output is always in [0, _P); raw xxhash64 is signed 64-bit —
    # with hundreds of shingles, some values MUST fall outside [0, _P)
    assert any(v < 0 or v >= _P for v in vals)


def test_simhash_dups_have_zero_hamming(docs_with_dups):
    pairs = simhash_candidates(docs_with_dups, max_hamming=3).df.collect()
    byp = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    for i in range(3):
        assert byp.get((i, i + 100000)) == 0


def test_simhash_values_stable(docs):
    a = {r.doc_id: (r.sim_lo, r.sim_hi) for r in simhash(docs).df.collect()}
    b = {r.doc_id: (r.sim_lo, r.sim_hi) for r in simhash(docs).df.collect()}
    assert a == b
    assert all(0 <= lo < 2**32 and 0 <= hi < 2**32 for lo, hi in a.values())


def test_cosine_topk(emb):
    from blaze_spark import Table

    queries = Table(emb.df.filter("vec_id < 3"))
    out = cosine_topk(emb, queries, k=5).df.collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
        assert -1.001 <= r.cosine <= 1.001
    assert all(len(v) == 5 for v in by_q.values())


def test_cosine_topk_matches_numpy(emb):
    import numpy as np
    from blaze_spark import Table

    rows = emb.df.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[0]
    sims = {
        vid: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        for vid, v in vecs.items() if vid != 0
    }
    expected = sorted(sims, key=lambda k: (-sims[k], k))[:5]

    queries = Table(emb.df.filter("vec_id = 0"))
    got = [r.neighbor_id for r in
           cosine_topk(emb, queries, k=5).df.orderBy("cosine", ascending=False).collect()]
    assert set(got) == set(expected)


def test_lsh_cosine_topk_runs(emb):
    from blaze_spark import Table

    queries = Table(emb.df.filter("vec_id < 3"))
    out = lsh_cosine_topk(emb, queries, k=3, n_planes=4).df.collect()
    # buckets may drop some neighbors (approximate); shape constraints hold
    assert all(r.neighbor_id != r.query_id for r in out)
    assert len(out) > 0


def test_language_id_deterministic(docs):
    out = language_id(docs).df
    counts = {r.pred_lang: r.cnt for r in
              out.groupBy("pred_lang").count().withColumnRenamed("count", "cnt").collect()}
    assert sum(counts.values()) == docs.df.count()
    # vocabulary is English-ish word salad -> 'en' dominates
    assert counts.get("en", 0) > 0


def test_quality_features(docs):
    row = quality_features(docs).df.first()
    assert row.n_tokens > 0
    assert 0 <= row.punct_ratio <= 1
    assert 0 <= row.quality <= 1


def test_token_stats_grouped(docs):
    out = token_stats(docs, group_col="lang").df.collect()
    assert {r.lang for r in out} == {"en", "es", "de", "fr", "zh"}
    assert all(r.total_tokens > 0 for r in out)
    assert all(r.total_subtokens >= r.total_tokens for r in out)


def test_fingerprint_stable_under_case(spark):
    from blaze_spark import data

    t = data([(1, "Hello, World"), (2, "hello world"), (3, "different")],
             spark=spark, schema="doc_id long, text string")
    out = {r.doc_id: r.fingerprint for r in fingerprint(t).df.collect()}
    assert out[1] == out[2] != out[3]


# -- multimodal plumbing -------------------------------------------------------

def test_image_pipeline(docs):
    withbin = attach_fake_binary(docs.head(20))
    assert "image" in withbin.columns
    decoded = decode_images(withbin).df.collect()
    assert len(decoded) == 20
    assert all(r.mean_intensity > 0 for r in decoded)
    assert all(32 <= r.width < 544 for r in decoded)


def test_image_features_shape(docs):
    withbin = attach_fake_binary(docs.head(5))
    feats = extract_image_features(withbin, dim=8).df.collect()
    assert all(len(r.features) == 8 for r in feats)
    # binary column dropped from output
    assert "image" not in extract_image_features(withbin).columns


def test_real_decode_raises(docs):
    withbin = attach_fake_binary(docs.head(2))
    with pytest.raises(Exception):
        decode_images(withbin, fake=False).df.collect()


def test_video_frame_sampling(spark):
    from blaze_spark import data

    t = data([(1, 3500), (2, 900)], spark=spark,
             schema="doc_id long, duration_ms long")
    out = sample_video_frames(t).df.collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.ts_ms)
    assert sorted(per_doc[1]) == [0, 1000, 2000]
    assert per_doc[2] == [0]


def test_embedding_neardup_finds_planted_dup(spark, emb):
    from pyspark.sql import functions as F

    from blaze_spark import Table, concat
    from blaze_spark.pipeline import embedding_neardup_pairs

    # plant a near-exact copy of vec 0 with a new id
    copy = Table(emb.df.filter("vec_id = 0")
                 .withColumn("vec_id", F.lit(900000).cast("long")))
    both = concat(emb, copy)
    for exact in (True, False):
        pairs = embedding_neardup_pairs(both, threshold=0.99,
                                        exact=exact).df.collect()
        found = {(r.vec_a, r.vec_b) for r in pairs}
        assert (0, 900000) in found, f"exact={exact}: {found}"


def test_ivf_topk_recall(spark, emb):
    """IVF with generous nprobe recovers most brute-force neighbors."""
    from blaze_spark import Table
    from blaze_spark.pipeline.ivf import ivf_topk, kmeans_fit

    centroids = kmeans_fit(emb, k=8, iters=3)
    assert centroids.shape == (8, 64)

    queries = Table(emb.df.filter("vec_id < 3"))
    approx = ivf_topk(emb, queries, centroids, k=5, nprobe=4).df.collect()
    exact = cosine_topk(emb, queries, k=5).df.collect()

    ax = {(r.query_id, r.neighbor_id) for r in approx}
    ex = {(r.query_id, r.neighbor_id) for r in exact}
    # recall@5 with half the cells probed should be well above chance
    recall = len(ax & ex) / len(ex)
    assert recall >= 0.5, f"recall {recall}: {ax} vs {ex}"
    # every query returns exactly k or fewer (cells may be sparse)
    per_q = {}
    for r in approx:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(v <= 5 for v in per_q.values())


def test_kmeans_fit_persists_vectors_once(spark, emb, monkeypatch):
    """VERDICT r5 #6: the Lloyd loop must materialize the vector column
    ONCE (persist before the loop, released after) — not rescan the
    corpus per iteration — and the persisted projection feeds the
    in-loop assign via InMemoryTableScan."""
    from pyspark.sql import functions as F

    from blaze_spark.pipeline.ivf import kmeans_fit
    from blaze_spark.plans import physical_plan

    # patch the CONCRETE class (Spark 4 classic sessions instantiate a
    # subclass of pyspark.sql.DataFrame that overrides persist)
    DataFrame = type(emb.df)
    calls = {"persist": 0, "unpersist": 0}
    orig_persist, orig_unpersist = DataFrame.persist, DataFrame.unpersist

    def _persist(self, *a, **kw):
        calls["persist"] += 1
        return orig_persist(self, *a, **kw)

    def _unpersist(self, *a, **kw):
        calls["unpersist"] += 1
        return orig_unpersist(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "persist", _persist)
    monkeypatch.setattr(DataFrame, "unpersist", _unpersist)
    centroids = kmeans_fit(emb, k=4, iters=3)
    assert calls["persist"] == 1, "one materialization, not per-iteration"
    assert calls["unpersist"] == 1, "released after the loop"
    assert centroids.shape == (4, 64)

    # the in-loop shape: a select over the persisted projection reads
    # from the cache, not the parquet scan
    vecs = emb.df.select(F.col("embedding").alias("v")).persist()
    try:
        plan = physical_plan(vecs.select("v"))
        assert "InMemoryTableScan" in plan, plan
    finally:
        orig_unpersist(vecs)


def test_ivf_assign_covers_all(spark, emb):
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit

    centroids = kmeans_fit(emb, k=4, iters=2)
    tagged = ivf_assign(emb, centroids)
    assert tagged.df.filter("cell IS NULL").count() == 0
    assert tagged.df.count() == emb.df.count()
    cells = {r.cell for r in tagged.df.select("cell").distinct().collect()}
    assert cells <= set(range(4))


def test_crosslingual_exact_dedup(spark):
    """A 'translated' doc (every token mapped through the lexicon, word
    order permuted) collides on concept_fingerprint; surface dedup won't."""
    from blaze_spark import data
    from blaze_spark.pipeline.crosslingual import (
        crosslingual_dedup, crosslingual_fingerprint)

    en = "the cat sat on the mat"
    es = "el gato sento on el mat"  # word-for-word via lexicon below
    lex = data(
        [("the", 1), ("el", 1), ("cat", 2), ("gato", 2), ("sat", 3),
         ("sento", 3), ("on", 4), ("mat", 5)],
        spark=spark, schema="token string, concept_id long", name="lex")
    docs = data([(1, en), (2, es), (3, "totally different content")],
                spark=spark, schema="doc_id long, text string", name="cd")
    fp = crosslingual_fingerprint(docs, lex)
    got = {r.doc_id: r.concept_fingerprint for r in fp.df.collect()}
    assert got[1] == got[2]
    assert got[3] != got[1]
    out = crosslingual_dedup(docs, lex)
    groups = {r.keeper_id: r.n_copies for r in out.df.collect()}
    assert groups[1] == 2 and groups[3] == 1


def test_crosslingual_minhash_near_translation(spark):
    """Partial translation overlap -> LSH candidate pair across languages."""
    from blaze_spark import data
    from blaze_spark.pipeline.crosslingual import (
        crosslingual_minhash_candidates)

    base_en = ("alpha bravo charlie delta echo foxtrot golf hotel india "
               "juliet kilo lima mike november oscar papa")
    # translate most tokens, drop/replace a couple (near-dup, not exact)
    pairs = [(w, w.upper()) for w in base_en.split()]
    lex_rows = [(w, i) for i, (w, _) in enumerate(pairs)]
    lex_rows += [(u.lower() + "x", i) for i, (_, u) in enumerate(pairs)]
    lex = data([(tok, cid) for tok, cid in lex_rows],
               spark=spark, schema="token string, concept_id long",
               name="lex2")
    base_xx = " ".join(w + "x" for w in base_en.split()[:14]) + " zulu yankee"
    docs = data([(1, base_en), (2, base_xx), (3, "noise " * 16)],
                spark=spark, schema="doc_id long, text string", name="cd2")
    out = crosslingual_minhash_candidates(docs, lex, bands=16, num_perm=32)
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in out.df.collect()}
    assert (1, 2) in got
    assert got[(1, 2)] > 0.5
    assert all(3 not in p for p in got)


def test_ivf_centroid_roundtrip(spark, tmp_path):
    import numpy as np
    from blaze_spark.pipeline.ivf import load_centroids, save_centroids

    c = np.arange(12, dtype=np.float64).reshape(4, 3)
    save_centroids(c, str(tmp_path / "cent"), spark=spark)
    back = load_centroids(str(tmp_path / "cent"), spark=spark)
    assert back.shape == (4, 3)
    assert np.allclose(back, c)


def test_resize_images_shapes(spark, star):
    from blaze_spark.pipeline.multimodal import (
        attach_fake_binary, resize_images)

    d = star["documents"].head(20)
    img = attach_fake_binary(d)
    out = resize_images(img, 64, 64).df.collect()
    assert len(out) == 20
    for r in out:
        assert r.image.width == 64 and r.image.height == 64
        assert 0 < len(r.image.content) <= 256


def test_audio_pipeline(spark, star):
    from blaze_spark.pipeline.multimodal import (
        attach_fake_audio, extract_audio_features)

    d = star["documents"].head(10)
    au = attach_fake_audio(d)
    out = extract_audio_features(au, n_mel=4).df.collect()
    assert len(out) == 10
    for r in out:
        assert len(r.mel) == 4 and all(0 <= v <= 1 for v in r.mel)
        assert r.rms > 0 and r.duration_ms >= 1000


# -- scoped_persist lifetime (VERDICT r2 #1 regression) ----------------------

def _cache_jdf(df):
    """py4j handle of the first scoped cache riding on a result df —
    outlives the Python DataFrame wrapper, so persistence can be checked
    after the wrapper is collected."""
    caches = getattr(df, "_blaze_caches", [])
    assert caches, "result should carry the signature cache"
    return caches[0]._jdf


def _is_persisted(jdf) -> bool:
    return jdf.storageLevel().useMemory() or jdf.storageLevel().useDisk()


def test_scoped_persist_survives_table_drop(docs_with_dups):
    """The entry queries drop the Table and keep only .df; the signature
    cache must still be persisted when the action finally runs, and be
    released once the result df is dropped."""
    import gc

    df = minhash_candidates(docs_with_dups, num_perm=16, bands=4).df
    gc.collect()  # the Table wrapper is gone — cache must not be
    jdf = _cache_jdf(df)
    assert _is_persisted(jdf), "cache unpersisted before the action ran"
    assert df.count() >= 3
    assert _is_persisted(jdf), "cache must survive materialization"
    del df
    gc.collect()
    assert not _is_persisted(jdf), "dropping the result must release the cache"


def test_scoped_persist_propagates_through_verify(docs_with_dups):
    """Chained op: candidates -> ngram verify.  The verify result must keep
    the signature cache alive even after the candidates Table is dropped."""
    import gc

    out = ngram_jaccard_pairs(
        docs_with_dups,
        minhash_candidates(docs_with_dups, num_perm=16, bands=4)).df
    gc.collect()
    jdf = _cache_jdf(out)
    assert _is_persisted(jdf)
    assert out.count() >= 3
    del out
    gc.collect()
    assert not _is_persisted(jdf)


def test_scoped_persist_simhash(docs_with_dups):
    import gc

    df = simhash_candidates(docs_with_dups, max_hamming=3).df
    gc.collect()
    jdf = _cache_jdf(df)
    assert _is_persisted(jdf)
    assert df.count() >= 3
    del df
    gc.collect()
    assert not _is_persisted(jdf)


# -- _spread remote sizing (VERDICT r2 #6) -----------------------------------

def test_spread_respreads_many_small_remote_files(spark, docs, monkeypatch):
    """A store of many SMALL remote files must still respread — the old
    `est += 7` guess made 5+ remote files always skip the shuffle."""
    from blaze_spark import fsutil
    from blaze_spark.pipeline.dedup import _spread

    df = docs.df
    # fewer files than cores (local[4]) so the sizing path runs
    remote = [f"s3a://bucket/part-{i:05d}.parquet" for i in range(2)]
    monkeypatch.setattr(type(df), "inputFiles", lambda self: remote)
    monkeypatch.setattr(fsutil, "file_len", lambda spark, p: 4096)
    out = _spread(df, "doc_id")
    assert out is not df, \
        "tiny remote files must trigger a respread"
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression" in plan


def test_spread_skips_large_remote_files(spark, docs, monkeypatch):
    """Files larger than maxPartitionBytes already split at scan time —
    no extra shuffle."""
    from blaze_spark import fsutil
    from blaze_spark.pipeline.dedup import _spread

    df = docs.df
    remote = [f"s3a://bucket/part-{i:05d}.parquet" for i in range(2)]
    monkeypatch.setattr(type(df), "inputFiles", lambda self: remote)
    monkeypatch.setattr(fsutil, "file_len",
                        lambda spark, p: 2 * 1024 * 1024 * 1024)
    out = _spread(df, "doc_id")
    assert out is df, "large splittable remote files need no respread"


def test_neardup_caller_supplied_count_skips_sizing_scan(spark, emb, monkeypatch):
    """n_vectors= lets production callers skip the auto-sizing count()
    pass (VERDICT r4 #6): with it supplied, no count job may run during
    plan construction."""
    from pyspark.sql import DataFrame

    from blaze_spark.pipeline import embedding_neardup_pairs

    def _no_count(self):
        raise AssertionError("count() must not run when n_vectors is given")

    monkeypatch.setattr(DataFrame, "count", _no_count)
    t = embedding_neardup_pairs(emb, threshold=0.9, n_vectors=500)
    monkeypatch.undo()
    assert t.df.columns == ["vec_a", "vec_b", "cosine"]


def test_retain_cache_connect_branch_releases_on_holder_drop():
    """The Spark Connect branch of ``CacheOwner.transfer`` (no _jdf):
    the unpersist finalizer attaches to the HOLDER (a closure over the
    cached object pins it, so cached-keyed finalization could never
    fire).  Exercised with stubs — no Connect server in this
    environment (see OPERATORS.md)."""
    import gc

    from blaze_spark.cache import carry, owned_cache

    released = []

    class FakeCached:  # no _jdf attribute -> Connect path
        def persist(self):
            return self

        def unpersist(self, blocking):
            released.append(blocking)

    class FakeHolder:
        pass

    cached = FakeCached()
    holder = FakeHolder()
    with owned_cache(cached) as c:
        assert c.transfer(holder) is holder
    assert holder._blaze_caches == [cached]
    # carrying the same cache onto the same holder is a no-op
    carry(holder, holder)
    assert holder._blaze_caches == [cached]
    assert not released
    del holder
    gc.collect()
    assert released == [False], "holder death must unpersist (non-blocking)"


def test_ivf_neardup_recall_vs_exact(spark, emb):
    """IVF-cell near-dup (sampled quantizer + per-cell BLAS matmul) must
    find >=95% of the brute-force pairs on a planted corpus (design:
    nprobe=2 top cells of a near-identical pair coincide w.h.p.)."""
    from pyspark.sql import functions as F

    from blaze_spark import Table, concat
    from blaze_spark.pipeline import embedding_neardup_pairs
    from blaze_spark.pipeline.ivf import ivf_neardup_pairs

    planted = Table(
        emb.df.filter(F.col("vec_id") % 10 == 0)
        .withColumn("vec_id", F.col("vec_id") + 10_000_000)
        .withColumn("embedding",
                    F.zip_with("embedding", F.reverse("embedding"),
                               lambda a, b: a + 0.03 * b)))
    corpus = concat(emb, planted)
    exact = {(r.vec_a, r.vec_b) for r in embedding_neardup_pairs(
        corpus, threshold=0.9, exact=True).df.collect()}
    got = {(r.vec_a, r.vec_b) for r in ivf_neardup_pairs(
        corpus, threshold=0.9).df.collect()}
    assert len(exact) > 0
    assert len(exact & got) / len(exact) >= 0.95
    # every found pair must be a genuine >=0.9 pair (exact rescoring)
    assert got <= exact


def test_ivf_neardup_hot_cell_truncates(spark):
    """A degenerate cell (all-identical vectors) is truncated to
    max_cell rows instead of an O(cell^2) blowup."""
    from blaze_spark import data
    from blaze_spark.pipeline.ivf import ivf_neardup_pairs

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(200)]
    t = data(rows, spark=spark,
             schema="vec_id bigint, embedding array<float>", name="hot")
    out = ivf_neardup_pairs(t, threshold=0.9, k=16, max_cell=50).df
    n = out.count()
    # truncation bounds pairs at ~C(50,2) per probed cell
    assert 0 < n <= 50 * 49 // 2


def test_kmeans_cell_means_is_jvm_side(spark, emb):
    """VERDICT r6 #2: the centroid update must be a JVM aggregation
    (posexplode -> partial-combinable avg per (cell, pos)) — no per-cell
    pandas materialization (FlatMapGroupsInPandas) anywhere in the fit
    path — and it must compute the same per-cell means as numpy."""
    import numpy as np
    from pyspark.sql import functions as F

    from blaze_spark.pipeline.ivf import _cell_means
    from blaze_spark.plans import physical_plan

    assigned = emb.df.select(
        F.col("embedding").alias("v"),
        (F.col("vec_id") % 4).cast("int").alias("cell"))
    means_df = _cell_means(assigned)
    plan = physical_plan(means_df)
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "HashAggregate" in plan, plan

    got = {int(r.cell): np.array(r.centroid) for r in means_df.collect()}
    pdf = assigned.toPandas()
    for cell, grp in pdf.groupby("cell"):
        want = np.stack(grp.v.to_numpy()).astype(np.float64).mean(axis=0)
        assert np.allclose(got[int(cell)], want, atol=1e-9), cell


def test_kmeans_fit_path_has_no_grouped_pandas(spark, emb):
    """The full fit produces the same centroids as a driver-side numpy
    Lloyd run (same init, same iteration count) — proving the JVM-side
    update changed the plan, not the math."""
    import numpy as np

    from blaze_spark.pipeline.ivf import kmeans_fit

    centroids = kmeans_fit(emb, k=4, iters=2)

    pdf = emb.df.orderBy("vec_id").toPandas()
    m = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ref = m[:4].copy()
    for _ in range(2):
        d = (-2.0 * m @ ref.T + (ref ** 2).sum(axis=1)[None, :])
        cells = d.argmin(axis=1)
        new = ref.copy()
        for c in range(4):
            sel = m[cells == c]
            if len(sel):
                new[c] = sel.mean(axis=0)
        if np.allclose(new, ref, atol=1e-9):
            break
        ref = new
    assert np.allclose(centroids, ref, atol=1e-6)


def _ivf_topk_join_reference(corpus, queries, centroids, k, nprobe,
                             round_to=4):
    """The former ivf_topk formulation, kept as the reference: corpus
    rows tagged by the assign UDF, queries exploded over their probed
    cells by the probe UDF, a broadcast equi-join on the cell and the
    per-pair cosine UDF, ranked by the shared window tail."""
    from pyspark.sql import functions as F

    from blaze_spark.pipeline.ivf import _assign_udf, _probe_udf
    from blaze_spark.pipeline.similarity import (_pair_cosine_udf,
                                                 _rank_topk)

    tagged = corpus.df.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"),
        _assign_udf(centroids)(F.col("embedding")).alias("cell"))
    q = queries.df.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.explode(_probe_udf(centroids, nprobe)(F.col("embedding")))
        .alias("cell"))
    scored = (tagged.join(F.broadcast(q), "cell")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine",
                          _pair_cosine_udf()(F.col("qv"), F.col("cv"))))
    return _rank_topk(scored, k, round_to)


def test_ivf_topk_fused_scan_equals_join_reference(spark, emb):
    """The fused per-partition scan returns exactly the former
    join + per-pair-UDF result (multiset of rows, raw and rounded
    cosines): planted duplicates (exact cosine ties broken by neighbor
    id), a zero vector on both sides (NaN cosine -> NULL, ranked last),
    nprobe >= k_cells, duplicate query ids, an empty query set and a
    7-way repartitioned and a single-partition corpus.  The k=60 case
    over a small corpus reaches the NULL tail of every query's list."""
    from collections import Counter

    from pyspark.sql import functions as F

    from blaze_spark import Table, concat
    from blaze_spark.pipeline.ivf import ivf_topk, kmeans_fit

    base = emb.df.select("vec_id", "embedding")
    copies = Table(base.filter("vec_id < 20")
                   .withColumn("vec_id", F.col("vec_id") + 1_000_000))
    zero = Table(base.filter("vec_id = 0").select(
        F.lit(2_000_000).cast("long").alias("vec_id"),
        F.expr("transform(embedding, x -> cast(0.0 as float))")
        .alias("embedding")))
    corpus = concat(Table(base), copies, zero)
    cents = kmeans_fit(corpus, k=4, iters=2)
    q1 = corpus.df.filter("vec_id < 6 OR vec_id = 1000003 "
                          "OR vec_id = 2000000")
    queries = Table(q1.union(corpus.df.filter("vec_id < 2")))
    small = concat(Table(base.filter("vec_id < 40")), copies, zero)

    def same(c, q, k, nprobe, round_to=4):
        got = ivf_topk(c, q, cents, k=k, nprobe=nprobe,
                       round_to=round_to).df.collect()
        want = _ivf_topk_join_reference(c, q, cents, k, nprobe,
                                        round_to).collect()
        assert Counter(map(tuple, got)) == Counter(map(tuple, want))
        return got

    out = same(corpus, queries, 5, 2)
    assert any(r.cosine is None for r in out)  # the zero-vector query
    same(corpus, queries, 5, 2, round_to=None)
    same(corpus, queries, 5, 4)                 # nprobe == k_cells
    same(corpus, queries, 5, 9)                 # nprobe > k_cells
    same(Table(corpus.df.repartition(7)), queries, 5, 2)
    # one partition: its local top-k IS the answer, so a wrong local
    # order cannot hide behind the final window's re-sort
    same(Table(corpus.df.coalesce(1)), queries, 5, 4)
    tail = same(Table(small.df.coalesce(1)), queries, 60, 4,
                round_to=None)
    assert any(r.cosine is None for r in tail
               if r.query_id != 2_000_000)      # the NULL tail
    assert same(corpus, Table(corpus.df.filter("vec_id < 0")), 5, 2) == []


def test_ivf_scan_topk_is_chunking_invariant():
    """The fused scan's per-partition kernel gives the same top-k
    whether a batch's queries are scored in one chunk or one query per
    chunk (a pair budget below one query's pairs), across two batches,
    with duplicate query ids and self-matches in the corpus."""
    import numpy as np
    import pandas as pd

    from blaze_spark.pipeline.ivf import _ivf_scan_topk, _probe_cells

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(3, 8))
    qids = np.array([1, 1, 4, 9, 12, 30, 31])
    qraw = rng.normal(size=(len(qids), 8))
    probed = _probe_cells(qraw, cents, 2)
    corpus = rng.normal(size=(40, 8)).astype(np.float32)
    batches = [pd.DataFrame({"nid": np.arange(lo, lo + 20),
                             "v": list(corpus[lo:lo + 20])})
               for lo in (0, 20)]

    def run(chunk_cells):
        out = pd.concat(_ivf_scan_topk(iter(batches), qids, qraw, probed,
                                       cents, 4, chunk_cells))
        assert (out.query_id != out.neighbor_id).all()
        return sorted(map(tuple, out.to_numpy()))

    one = run(1)
    assert one == run(10_000_000)
    assert len(one) == 4 * len(qids)


def test_ivf_topk_plan_is_one_python_scan(spark, emb):
    """Plan pin: the fused scan is the only Python evaluation node — no
    assign/probe/pair UDFs — and nothing is joined by broadcast."""
    from blaze_spark import Table
    from blaze_spark.pipeline.ivf import ivf_topk, kmeans_fit
    from blaze_spark.plans import physical_plan, python_eval_count

    cents = kmeans_fit(emb, k=4, iters=2)
    out = ivf_topk(emb, Table(emb.df.filter("vec_id < 8")), cents, k=3,
                   nprobe=2)
    assert python_eval_count(out) == 1
    assert "BroadcastHashJoin" not in physical_plan(out)


def test_ivf_topk_max_queries_guard_and_batching(spark, emb):
    """ivf_topk collects its query block, so past ``max_queries`` it
    raises with batched_topk advice; batched_topk through the IVF route
    (its max_queries=None override) equals a single call."""
    from collections import Counter

    from blaze_spark import Table
    from blaze_spark.pipeline import batched_topk
    from blaze_spark.pipeline.ivf import ivf_topk, kmeans_fit

    cents = kmeans_fit(emb, k=4, iters=2)
    queries = Table(emb.df.filter("vec_id < 8"))
    with pytest.raises(ValueError, match="batched_topk"):
        ivf_topk(emb, queries, cents, k=3, nprobe=2, max_queries=4)
    single = ivf_topk(emb, queries, cents, k=3, nprobe=2).df.collect()
    batched = batched_topk(emb, queries, k=3, queries_per_batch=3,
                           exact_max=100, centroids=cents,
                           nprobe=2).df.collect()
    assert len(single) == 24
    assert Counter(map(tuple, batched)) == Counter(map(tuple, single))


_BAD_ANN_PARAMS = [(r, bad) for r in ("ivf_topk", "ivf_pq_topk",
                                      "ivf_pq_range_search",
                                      "ivf_neardup_pairs", "ann_topk")
                   for bad in ({"nprobe": 0}, {"nprobe": -1}, {"k": 0})
                   if not (r == "ivf_pq_range_search" and "k" in bad)]


@pytest.mark.parametrize("route,bad", _BAD_ANN_PARAMS)
def test_ann_routes_reject_nonpositive_k_and_nprobe(spark, emb, route,
                                                    bad):
    """``nprobe=0`` used to return an empty result and ``nprobe=-1`` to
    probe all cells but one, both silently; now ``k``/``nprobe`` below 1
    raise at construction, before any job."""
    import numpy as np

    from blaze_spark import Table
    from blaze_spark.pipeline import (ann_topk, ivf_pq_range_search,
                                      ivf_pq_topk)
    from blaze_spark.pipeline.ivf import ivf_neardup_pairs, ivf_topk

    cents = np.ones((4, 64))
    cb = np.ones((8, 16, 8))
    q = Table(emb.df.filter("vec_id < 2"))
    calls = {
        "ivf_topk": lambda kw: ivf_topk(emb, q, cents, **kw),
        "ivf_pq_topk": lambda kw: ivf_pq_topk(emb, q, cents, cb, **kw),
        "ivf_pq_range_search":
            lambda kw: ivf_pq_range_search(emb, q, cents, cb, **kw),
        "ivf_neardup_pairs":
            lambda kw: ivf_neardup_pairs(emb, centroids=cents, **kw),
        "ann_topk": lambda kw: ann_topk(emb, q, **kw),
    }
    sc = spark.sparkContext
    group = f"ann-params-{route}-{sorted(bad.items())}"
    sc.setJobGroup(group, "invalid ANN parameters")
    try:
        with pytest.raises(ValueError, match=f"{next(iter(bad))} must be"):
            calls[route](bad)
    finally:
        sc.setJobGroup(None, None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


# -- r8: loud hot-cell truncation + regime auto-dispatch -----------------


def test_ivf_hot_cell_truncation_warns(spark):
    """VERDICT r7 #3: max_cell truncation must be LOUD — the pre-pass
    counts hot cells and warns with the excluded-row total (same
    pattern as the incremental store's hot-bucket guard)."""
    import warnings as _w

    from blaze_spark import data
    from blaze_spark.pipeline.ivf import ivf_neardup_pairs

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(200)]
    t = data(rows, spark=spark,
             schema="vec_id bigint, embedding array<float>", name="hotw")
    with _w.catch_warnings(record=True) as got:
        _w.simplefilter("always")
        n = ivf_neardup_pairs(t, threshold=0.9, k=16,
                              max_cell=50).df.count()
    hits = [w for w in got if "ivf_neardup_pairs" in str(w.message)]
    assert hits, "expected a truncation warning for the degenerate cell"
    msg = str(hits[0].message)
    assert "max_cell=50" in msg and "excluded" in msg
    # attributed to this call, not to the @local_only wrapper
    assert hits[0].filename == __file__
    assert 0 < n <= 50 * 49 // 2

    # a healthy corpus stays silent
    rows = [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(60)]
    t2 = data(rows, spark=spark,
              schema="vec_id bigint, embedding array<float>", name="coldw")
    with _w.catch_warnings(record=True) as got:
        _w.simplefilter("always")
        ivf_neardup_pairs(t2, threshold=0.99, k=16,
                          max_cell=1000).df.count()
    assert not [w for w in got
                if "ivf_neardup_pairs" in str(w.message)]


def test_neardup_pairs_dispatcher_crossover():
    """VERDICT r7 #5: the LSH->IVF regime boundary is the point where the
    UNCLAMPED table requirement exceeds max_tables (measured ~200k
    vectors at threshold 0.9 / recall 0.95 — PLANS.md 'IVF near-dup
    topology (r6)')."""
    from blaze_spark.pipeline.similarity import lsh_tables_required

    _, small = lsh_tables_required(6_000, threshold=0.9, recall=0.95)
    _, big = lsh_tables_required(200_000, threshold=0.9, recall=0.95)
    assert small <= 12 < big  # sf0.1-ish stays LSH; 200k crosses to IVF


def test_neardup_pairs_dispatch_routes(spark, emb, monkeypatch):
    """Small corpus -> LSH backend; past the table cap -> IVF backend.
    Both cases route through neardup_pairs with the same result schema."""
    from blaze_spark.pipeline import ivf as ivf_mod
    from blaze_spark.pipeline import similarity as sim

    called = {}

    real_ivf = ivf_mod.ivf_neardup_pairs
    real_lsh = sim.embedding_neardup_pairs

    def spy_ivf(*a, **k):
        called["ivf"] = True
        return real_ivf(*a, **k)

    def spy_lsh(*a, **k):
        called["lsh"] = True
        return real_lsh(*a, **k)

    monkeypatch.setattr(ivf_mod, "ivf_neardup_pairs", spy_ivf)
    monkeypatch.setattr(sim, "embedding_neardup_pairs", spy_lsh)

    out = sim.neardup_pairs(emb, threshold=0.9).df
    assert called == {"lsh": True}
    assert set(out.columns) == {"vec_a", "vec_b", "cosine"}

    called.clear()
    out = sim.neardup_pairs(emb, threshold=0.9, max_tables=1,
                            k=8, iters=1).df
    assert called == {"ivf": True}
    assert set(out.columns) == {"vec_a", "vec_b", "cosine"}

    # r10: a prebuilt code store routes to the PQ backend (fast path
    # is the default, same contract as ann_topk)
    from blaze_spark.pipeline import pq_encode, pq_fit

    real_pq = sim.pq_neardup_pairs

    def spy_pq(*a, **k):
        called["pq"] = True
        return real_pq(*a, **k)

    monkeypatch.setattr(sim, "pq_neardup_pairs", spy_pq)
    called.clear()
    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)
    out = sim.neardup_pairs(emb, threshold=0.9, codes=pq_encode(emb, cb),
                            codebooks=cb).df
    assert called == {"pq": True}
    assert set(out.columns) == {"vec_a", "vec_b", "cosine"}


# -- r8: import-guarded real multimodal decode ---------------------------


def test_real_decode_guard_names_missing_module(docs):
    """fake=False is an import guard now, not a flat refusal: absent the
    codec it raises NotImplementedError naming the module to install."""
    withbin = attach_fake_binary(docs.head(2))
    try:
        import PIL  # noqa: F401
        pytest.skip("Pillow installed — guard does not fire")
    except ImportError:
        pass
    with pytest.raises(Exception, match="PIL.Image"):
        decode_images(withbin, fake=False).df.collect()


def _make_wav(sampwidth: int, nch: int, sr: int, samples) -> bytes:
    """Write an uncompressed PCM WAV with the stdlib writer."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(sampwidth)
        w.setframerate(sr)
        if sampwidth == 1:
            w.writeframes(bytes(int(s * 127) + 128 for s in samples))
        else:
            w.writeframes(b"".join(
                struct.pack("<h", int(s * 32767)) for s in samples))
    return buf.getvalue()


def test_read_wav_mono_widths_and_edges():
    """Pure-function contract for the stdlib WAV parser: 8-bit unsigned
    offset removal, 16-bit scaling, 32-bit scaling, stereo averaging,
    and the unsupported-width refusal (24-bit PCM has no numpy dtype)."""
    import io
    import wave

    import numpy as np
    import pytest as pt

    from blaze_spark.pipeline.multimodal import _read_wav_mono

    def wav(width, nch, sr, frames_bytes):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(width)
            w.setframerate(sr)
            w.writeframes(frames_bytes)
        return buf.getvalue()

    # 8-bit: 128 is zero, 255 ~ +1, 0 = -1
    mono, sr = _read_wav_mono(wav(1, 1, 8000, bytes([128, 255, 0])))
    assert sr == 8000
    assert abs(mono[0]) < 1e-12 and mono[2] == -1.0 and mono[1] > 0.99
    # 16-bit stereo: channels average; int16 min maps to -1
    import struct
    frames = struct.pack("<4h", 16384, -16384, -32768, -32768)
    mono, _ = _read_wav_mono(wav(2, 2, 44100, frames))
    assert abs(mono[0]) < 1e-12 and mono[1] == -1.0
    # 32-bit: full-scale positive ~ +1
    frames = struct.pack("<i", 2**31 - 1)
    mono, _ = _read_wav_mono(wav(4, 1, 16000, frames))
    assert abs(mono[0] - 1.0) < 1e-6
    assert mono.dtype == np.float64
    # 24-bit refuses loudly (falls through to the codec path upstream)
    with pt.raises(NotImplementedError, match="width"):
        _read_wav_mono(wav(3, 1, 16000, b"\x00\x00\x00"))


def test_real_audio_decode_wav_runs_everywhere(spark):
    """r9 (VERDICT r8 missing #2): the fake=False audio path executes in
    a codec-less container — uncompressed PCM WAV parses with the stdlib
    ``wave`` module; soundfile is only required for other formats.  A
    known sine round-trips: rms == amplitude/sqrt(2), duration exact,
    and the dominant rFFT band carries the energy."""
    import math

    from blaze_spark import data
    from blaze_spark.pipeline.multimodal import extract_audio_features

    sr, amp, secs = 16000, 0.5, 0.5
    n = int(sr * secs)
    sine = [amp * math.sin(2 * math.pi * 440 * i / sr) for i in range(n)]
    # stereo 16-bit: identical channels, so the mono mean is the sine
    stereo = [v for s in sine for v in (s, s)]
    wav16 = _make_wav(2, 2, sr, stereo)
    # 8-bit mono DC silence: rms ~ 0 (unsigned-PCM offset removed)
    wav8 = _make_wav(1, 1, 8000, [0.0] * 800)
    t = data([(1, {"content": wav16, "sample_rate": sr, "n_channels": 2,
                   "duration_ms": 500}),
              (2, {"content": wav8, "sample_rate": 8000, "n_channels": 1,
                   "duration_ms": 100})],
             spark=spark,
             schema=("doc_id long, audio struct<content:binary,"
                     "sample_rate:int,n_channels:int,duration_ms:long>"))
    rows = {r.doc_id: r for r in
            extract_audio_features(t, fake=False).df.collect()}
    assert rows[1].duration_ms == 500
    assert abs(rows[1].rms - amp / math.sqrt(2)) < 1e-3
    assert len(rows[1].mel) == 8 and max(rows[1].mel) > 0
    assert rows[2].duration_ms == 100
    assert rows[2].rms < 0.01


def test_real_image_decode_pnm_runs_everywhere(spark):
    """r9: the fake=False image path executes in a codec-less container
    for binary PNM — P6 RGB decodes with ITU-R 601 luma, P5 grayscale
    directly, header comments parse, and nearest-neighbor resize
    re-emits a valid PNM the decoder round-trips."""
    from blaze_spark import data
    from blaze_spark.pipeline.multimodal import (_read_pnm, decode_images,
                                                 resize_images)

    # P6 4x2 solid color (R=200, G=100, B=50): luma = 136.3
    p6 = b"P6\n# a comment\n4 2\n255\n" + bytes([200, 100, 50]) * 8
    # P5 2x2 grayscale ramp: mean = (0+60+120+240)/4 = 105
    p5 = b"P5\n2 2\n255\n" + bytes([0, 60, 120, 240])
    t = data([(1, {"content": p6, "width": 4, "height": 2,
                   "format": "pnm"}),
              (2, {"content": p5, "width": 2, "height": 2,
                   "format": "pnm"})], spark=spark,
             schema=("doc_id long, image struct<content:binary,width:int,"
                     "height:int,format:string>"))
    rows = {r.doc_id: r for r in decode_images(t, fake=False).df.collect()}
    assert (rows[1].width, rows[1].height) == (4, 2)
    luma = 0.299 * 200 + 0.587 * 100 + 0.114 * 50
    assert abs(rows[1].mean_intensity - luma) < 1e-9
    assert (rows[2].width, rows[2].height) == (2, 2)
    assert abs(rows[2].mean_intensity - 105.0) < 1e-9

    rrow = {r.doc_id: r for r in
            resize_images(t, 2, 1, fake=False).df.collect()}
    img = rrow[1].image
    assert (img.width, img.height) == (2, 1) and img.format == "pnm"
    arr, w, h, maxval = _read_pnm(bytes(img.content))
    assert (w, h, maxval) == (2, 1, 255)
    assert arr.shape == (1, 2, 3) and list(arr[0, 0]) == [200, 100, 50]


def test_read_pnm_comment_after_maxval_and_truncation():
    """r9 review: a comment between maxval and the raster must not be
    decoded as pixels (the unskipped form silently read the comment
    text); an exactly-sized raster whose first byte is '#' (35) is NOT
    eaten; a short raster raises instead of mis-decoding."""
    import pytest as pt

    from blaze_spark.pipeline.multimodal import _read_pnm

    arr, w, h, _ = _read_pnm(b"P5\n2 2\n255 # trailing comment\n"
                             + bytes([10, 20, 30, 40]))
    assert [int(v) for v in arr.flat] == [10, 20, 30, 40]
    # raster legitimately starting with 0x23 ('#') in an exact-size file
    arr, _, _, _ = _read_pnm(b"P5\n2 2\n255\n" + bytes([35, 1, 2, 3]))
    assert [int(v) for v in arr.flat] == [35, 1, 2, 3]
    # a writer-appended trailing newline must not eat a
    # whitespace-valued first pixel (second-pass review)
    arr, _, _, _ = _read_pnm(b"P5\n2 2\n255\n" + bytes([10, 1, 2, 3])
                             + b"\n")
    assert [int(v) for v in arr.flat] == [10, 1, 2, 3]
    with pt.raises(ValueError, match="truncated"):
        _read_pnm(b"P5\n2 2\n255\n" + bytes([1, 2]))


def test_real_video_demux_y4m_runs_everywhere(spark):
    """r9: the fake=False video path executes in a codec-less container
    for uncompressed YUV4MPEG2 — frame count x fps gives the duration,
    sampling matches the metadata-driven fake path; malformed streams
    raise (falling to the pyav guard)."""
    import pytest as pt

    from blaze_spark import data
    from blaze_spark.pipeline.multimodal import (_y4m_stream_info,
                                                 sample_video_frames)

    # 2x2 C420 (6 bytes/frame), 10 frames at 5 fps -> 2000 ms
    y4m = b"YUV4MPEG2 W2 H2 F5:1 Ip A1:1 C420\n" \
        + b"".join(b"FRAME\n" + bytes(6) for _ in range(10))
    assert _y4m_stream_info(y4m) == (10, 5.0)
    with pt.raises(ValueError, match="truncated"):
        _y4m_stream_info(y4m[:-3])

    t = data([(1, y4m)], spark=spark,
             schema="doc_id long, video binary")
    out = sample_video_frames(t, fake=False).df.collect()
    assert sorted(r.ts_ms for r in out) == [0, 1000]
    assert sorted(r.frame_idx for r in out) == [0, 1]


def _media_fuzz_settings():
    from hypothesis import settings

    return settings(max_examples=25, deadline=None)


def test_fuzz_media_parser_roundtrips():
    """Property: the three codec-free parsers invert their stdlib/byte
    writers exactly — random PNM rasters (both magics, 8/16-bit),
    random PCM WAV (8/16/32-bit, mono/stereo, incl. zero frames), and
    random y4m streams (all four colorspaces) round-trip bit-exact."""
    import io
    import wave

    import numpy as np
    from hypothesis import given
    from hypothesis import strategies as st

    from blaze_spark.pipeline.multimodal import (_read_pnm, _read_wav_mono,
                                                 _y4m_stream_info)

    @given(width=st.integers(1, 5), height=st.integers(1, 5),
           nch=st.sampled_from([1, 3]),
           maxval=st.sampled_from([255, 65535]),
           seed=st.integers(0, 2 ** 16))
    @_media_fuzz_settings()
    def pnm(width, height, nch, maxval, seed):
        rng = np.random.default_rng(seed)
        shape = (height, width, 3) if nch == 3 else (height, width)
        vals = rng.integers(0, maxval + 1, size=shape)
        dt = np.dtype(">u2") if maxval > 255 else np.uint8
        magic = b"P6" if nch == 3 else b"P5"
        raw = (magic + f"\n{width} {height}\n{maxval}\n".encode()
               + vals.astype(dt).tobytes())
        arr, w, h, mv = _read_pnm(raw)
        assert (w, h, mv) == (width, height, maxval)
        assert np.array_equal(arr, vals.astype(np.float64))

    @given(sr=st.sampled_from([8000, 44100]),
           width=st.sampled_from([1, 2, 4]), nch=st.integers(1, 2),
           n=st.integers(0, 40), seed=st.integers(0, 2 ** 16))
    @_media_fuzz_settings()
    def wav(sr, width, nch, n, seed):
        rng = np.random.default_rng(seed)
        dt = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}[width]
        info = np.iinfo(dt)
        vals = rng.integers(info.min, int(info.max) + 1, size=n * nch)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(nch)
            wf.setsampwidth(width)
            wf.setframerate(sr)
            wf.writeframes(vals.astype(dt).tobytes())
        mono, got_sr = _read_wav_mono(buf.getvalue())
        assert got_sr == sr and len(mono) == n
        scale = {1: 128.0, 2: 32768.0, 4: 2147483648.0}[width]
        offs = 128.0 if width == 1 else 0.0
        want = ((vals.astype(np.float64) - offs) / scale) \
            .reshape(-1, nch).mean(axis=1)
        assert np.allclose(mono, want, atol=0)

    @given(w=st.integers(1, 4), h=st.integers(1, 4),
           num=st.integers(1, 60), den=st.integers(1, 3),
           csp=st.sampled_from([b"420", b"422", b"444", b"mono"]),
           n=st.integers(0, 12))
    @_media_fuzz_settings()
    def y4m(w, h, num, den, csp, n):
        fb = {b"420": w * h * 3 // 2, b"422": w * h * 2,
              b"444": w * h * 3, b"mono": w * h}[csp]
        raw = (b"YUV4MPEG2 W%d H%d F%d:%d C%s\n" % (w, h, num, den, csp)
               + b"".join(b"FRAME\n" + bytes(fb) for _ in range(n)))
        assert _y4m_stream_info(raw) == (n, num / den)

    pnm()
    wav()
    y4m()


def test_real_image_decode_with_pillow(spark):
    """Skips in codec-less containers; with Pillow installed the
    fake=False path decodes real bytes end to end."""
    Image = pytest.importorskip("PIL.Image")
    import io

    from blaze_spark import data
    from blaze_spark.pipeline.multimodal import decode_images, resize_images

    buf = io.BytesIO()
    Image.new("L", (8, 6), color=128).save(buf, format="PNG")
    png = buf.getvalue()
    t = data([(1, {"content": png, "width": 8, "height": 6,
                   "format": "png"})], spark=spark,
             schema=("doc_id long, image struct<content:binary,width:int,"
                     "height:int,format:string>"))
    row = decode_images(t, fake=False).df.collect()[0]
    assert (row.width, row.height) == (8, 6)
    assert abs(row.mean_intensity - 128.0) < 1e-9
    rrow = resize_images(t, 4, 3, fake=False).df.collect()[0]
    assert (rrow.image.width, rrow.image.height) == (4, 3)


# -- r8: int8 embedding quantization -------------------------------------


def test_quantize_roundtrip_error_bound(spark, emb):
    """x_hat = q*scale is within scale/2 of x per element; codes are in
    [-127, 127]; a zero vector quantizes to all-zero with scale 1."""
    from blaze_spark import data
    from blaze_spark.pipeline import (dequantize_embeddings,
                                      quantize_embeddings)

    q = quantize_embeddings(emb.head(200))
    rows = q.df.select("vec_id", "embedding", "qembedding", "qscale") \
        .collect()
    for r in rows:
        assert all(-127 <= c <= 127 for c in r.qembedding)
        assert r.qscale > 0
        for x, c in zip(r.embedding, r.qembedding):
            assert abs(c * r.qscale - x) <= r.qscale / 2 + 1e-9

    z = data([(1, [0.0, 0.0, 0.0])], spark=spark,
             schema="vec_id bigint, embedding array<float>")
    zr = quantize_embeddings(z).df.collect()[0]
    assert zr.qscale == 1.0 and list(zr.qembedding) == [0, 0, 0]

    deq = dequantize_embeddings(
        quantize_embeddings(emb.head(50)).drop_field("embedding"))
    out = deq.df.select("vec_id", "embedding").collect()
    assert len(out) == 50 and all(len(r.embedding) > 0 for r in out)


def test_quantized_store_roundtrip(spark, emb, tmp_path):
    """write_quantized drops the raw float column at rest (the 4x
    storage cut); read_quantized rehydrates the same vectors within the
    quantization error bound and leaves the schema ANN-ready."""
    from blaze_spark.pipeline import read_quantized, write_quantized

    src = emb.head(100)
    store = str(tmp_path / "qstore")
    write_quantized(src, store)

    import pyarrow.parquet as pq
    on_disk = pq.read_schema(
        next((tmp_path / "qstore").glob("*.parquet")))
    assert "embedding" not in on_disk.names          # raw floats dropped
    assert {"qembedding", "qscale"} <= set(on_disk.names)

    back = read_quantized(store, spark=spark)
    assert "qembedding" not in back.df.columns       # rehydrated view
    got = {r.vec_id: r for r in back.df.collect()}
    for r in src.df.select("vec_id", "embedding", ).collect():
        h = got[r.vec_id]
        scale = max(abs(x) for x in r.embedding) / 127.0 or 1.0
        assert all(abs(a - b) <= scale / 2 + 1e-6
                   for a, b in zip(h.embedding, r.embedding))
    # keep_codes retains the store columns for code-native consumers
    keep = read_quantized(store, spark=spark, keep_codes=True)
    assert {"qembedding", "qscale"} <= set(keep.df.columns)
    # a non-store path fails loudly, never silently rehydrates garbage
    src.df.select("vec_id").write.parquet(str(tmp_path / "plain"))
    with pytest.raises(ValueError, match="not a quantized store"):
        read_quantized(str(tmp_path / "plain"), spark=spark)


def test_quantize_is_jvm_side_and_topk_recall(spark, emb):
    """The quantize/dequantize plans stay in whole-stage codegen (no
    Python), and cosine top-k over dequantized int8 vectors keeps high
    recall vs exact float top-k."""
    from blaze_spark.pipeline import (cosine_topk, dequantize_embeddings,
                                      quantize_embeddings, topk_recall)
    from blaze_spark.plans import physical_plan

    q = quantize_embeddings(emb)
    plan = physical_plan(dequantize_embeddings(
        q.drop_field("embedding")).df)
    assert "Python" not in plan and "FlatMap" not in plan

    corpus = emb.head(400)
    queries = emb.head(20)
    exact = cosine_topk(corpus, queries, k=5)
    qc = dequantize_embeddings(
        quantize_embeddings(corpus).drop_field("embedding"))
    qq = dequantize_embeddings(
        quantize_embeddings(queries).drop_field("embedding"))
    approx = cosine_topk(qc, qq, k=5)
    rec = topk_recall(exact, approx).df.collect()[0]
    assert rec.recall >= 0.9, rec


def test_quantized_ivf_ann_end_to_end(spark, emb):
    """Storage-optimized ANN: quantize the corpus to int8, dequantize in
    the plan, and run the IVF family on it — recall vs the float-exact
    top-k stays high (the quantization error is far inside the cell
    geometry)."""
    from blaze_spark.pipeline import (cosine_topk, dequantize_embeddings,
                                      quantize_embeddings, topk_recall)
    from blaze_spark.pipeline.ivf import ivf_topk, kmeans_fit

    corpus = emb.head(400)
    queries = emb.head(15)
    qcorpus = dequantize_embeddings(
        quantize_embeddings(corpus).drop_field("embedding"))
    cents = kmeans_fit(qcorpus, k=8, iters=2)
    approx = ivf_topk(qcorpus, queries, cents, k=5, nprobe=4)
    exact = cosine_topk(corpus, queries, k=5)
    rec = topk_recall(exact, approx).df.collect()[0]
    assert rec.recall >= 0.8, rec


# -- r8: cross-document line dedup (Lee et al. line granularity) ---------


def test_cross_doc_dup_lines_scores_and_scrubs(spark):
    from blaze_spark import data
    from blaze_spark.pipeline import cross_doc_dup_lines

    boiler = "COPYRIGHT 2020 EXAMPLE CORP"
    rows = [
        (1, f"{boiler}\nunique alpha text\nmore alpha"),
        (2, f"{boiler}\nunique beta text"),
        (3, "totally original document\nno shared lines here"),
        (4, ""),                              # empty doc
        (5, f"  {boiler}  \nunique gamma"),   # whitespace variant matches
    ]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="xdl")
    scored = {r.doc_id: r for r in cross_doc_dup_lines(t).df.collect()}
    assert scored[1].n_lines == 3 and scored[1].n_dup_lines == 1
    assert scored[2].dup_line_frac == 0.5
    assert scored[3].n_dup_lines == 0 and scored[3].dup_line_frac == 0.0
    assert scored[4].n_lines == 0 and scored[4].dup_line_frac == 0.0
    assert scored[5].n_dup_lines == 1   # trim-normalized match

    cleaned = {r.doc_id: r.clean_text for r in
               cross_doc_dup_lines(t, scrub=True).df.collect()}
    assert cleaned[1] == "unique alpha text\nmore alpha"
    assert cleaned[2] == "unique beta text"
    assert cleaned[3] == "totally original document\nno shared lines here"
    assert boiler not in cleaned[5]
    # order preserved when a middle line is scrubbed
    t2 = data([(1, f"a\n{boiler}\nz"), (2, f"b\n{boiler}\ny")],
              spark=spark, schema="doc_id long, text string", name="xdl2")
    c2 = {r.doc_id: r.clean_text for r in
          cross_doc_dup_lines(t2, scrub=True).df.collect()}
    assert c2[1] == "a\nz" and c2[2] == "b\ny"


def test_cross_doc_dup_lines_within_doc_repeat_not_flagged(spark):
    """A line repeated only WITHIN one document is not cross-doc
    boilerplate (distinct-doc counting, not occurrence counting)."""
    from blaze_spark import data
    from blaze_spark.pipeline import cross_doc_dup_lines

    t = data([(1, "same line\nsame line\nunique"), (2, "other text")],
             spark=spark, schema="doc_id long, text string", name="xdl3")
    scored = {r.doc_id: r for r in cross_doc_dup_lines(t).df.collect()}
    assert scored[1].n_dup_lines == 0


def test_cross_doc_dup_ngrams_coverage(spark):
    """Hand-computed span coverage: overlapping windows count each
    position once; within-doc repeats are not cross-doc; sub-n shared
    runs are invisible."""
    from blaze_spark import data
    from blaze_spark.pipeline import cross_doc_dup_ngrams

    rows = [
        (1, "a b c d e unique tail one"),     # shares 'a b c d e' span
        (2, "a b c d e other ending two"),
        (3, "totally different words here now"),
        (4, "c d e short"),                   # only a 3-token overlap
    ]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="xdn")
    out = {r.doc_id: r for r in
           cross_doc_dup_ngrams(t, n=5).df.collect()}
    # docs 1/2 share exactly one 5-gram ('a b c d e') -> 5 covered
    assert out[1].n_tokens == 8 and out[1].dup_tokens == 5
    assert out[1].dup_token_frac == round(5 / 8, 4)
    assert out[2].dup_tokens == 5
    # sub-n overlap (doc 4's 'c d e') is below the window width
    assert out[3].dup_tokens == 0 and out[4].dup_tokens == 0

    cleaned = {r.doc_id: r.clean_text for r in
               cross_doc_dup_ngrams(t, n=5, scrub=True).df.collect()}
    assert cleaned[1] == "unique tail one"
    assert cleaned[2] == "other ending two"
    assert cleaned[3] == "totally different words here now"
    assert cleaned[4] == "c d e short"


def test_cross_doc_dup_ngrams_overlapping_spans_union(spark):
    """Two overlapping duplicated windows cover the UNION of their
    positions (6 tokens for a shared 6-token run at n=5), and a doc
    that is entirely one duplicated span disappears from the scrub."""
    from blaze_spark import data
    from blaze_spark.pipeline import cross_doc_dup_ngrams

    rows = [
        (1, "p q r s t u"),                  # the whole doc is shared
        (2, "x p q r s t u y"),
        (3, "filler words avoid accidental repeats"),
    ]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="xdn2")
    out = {r.doc_id: r for r in
           cross_doc_dup_ngrams(t, n=5).df.collect()}
    assert out[1].dup_tokens == 6 and out[1].dup_token_frac == 1.0
    assert out[2].dup_tokens == 6 and out[2].n_tokens == 8
    cleaned = {r.doc_id: r.clean_text for r in
               cross_doc_dup_ngrams(t, n=5, scrub=True).df.collect()}
    assert 1 not in cleaned            # fully-covered doc disappears
    assert cleaned[2] == "x y"         # order preserved around the span


def test_cross_doc_dup_ngrams_min_docs_and_validation(spark):
    from blaze_spark import data
    from blaze_spark.pipeline import cross_doc_dup_ngrams

    rows = [(1, "s h a r e d words one"), (2, "s h a r e d words two"),
            (3, "s h a r e d words three")]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="xdn3")
    # the 7-token run 's h a r e d words' is in all 3 docs (3
    # overlapping 5-gram windows; only the final token differs)
    at2 = {r.doc_id: r.dup_tokens for r in
           cross_doc_dup_ngrams(t, n=5, min_docs=2).df.collect()}
    at3 = {r.doc_id: r.dup_tokens for r in
           cross_doc_dup_ngrams(t, n=5, min_docs=3).df.collect()}
    assert at2 == at3 == {1: 7, 2: 7, 3: 7}
    at4 = {r.doc_id: r.dup_tokens for r in
           cross_doc_dup_ngrams(t, n=5, min_docs=4).df.collect()}
    assert at4 == {1: 0, 2: 0, 3: 0}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="min_docs"):
        cross_doc_dup_ngrams(t, min_docs=1)
    with _pytest.raises(ValueError, match="n must be"):
        cross_doc_dup_ngrams(t, n=0)


def test_edit_distance_pairs_exact_and_bounded(spark):
    from blaze_spark import data
    from blaze_spark.core import Table
    from blaze_spark.pipeline import edit_distance_pairs

    docs = data([(1, "the quick brown fox"), (2, "the quick browm fox"),
                 (3, "unrelated words entirely"), (4, "")],
                spark=spark, schema="doc_id long, text string",
                name="edp")
    cand = Table(spark.createDataFrame(
        [(1, 2), (1, 3), (4, 4)], "doc_a long, doc_b long"), "edc")
    out = {(r.doc_a, r.doc_b): r for r in
           edit_distance_pairs(docs, cand).df.collect()}
    assert out[(1, 2)].edit_distance == 1
    assert out[(1, 2)].edit_similarity == round(1 - 1 / 19, 4)
    assert out[(1, 3)].edit_distance > 10
    assert out[(4, 4)].edit_distance == 0      # two empty texts
    assert out[(4, 4)].edit_similarity == 1.0
    # bounded form drops pairs past max_dist (levenshtein's -1 cutoff)
    bounded = {(r.doc_a, r.doc_b) for r in
               edit_distance_pairs(docs, cand, max_dist=3).df.collect()}
    assert bounded == {(1, 2), (4, 4)}


def test_edit_distance_pairs_truncation_cap(spark):
    import pytest as _pytest

    from blaze_spark import data
    from blaze_spark.core import Table
    from blaze_spark.pipeline import edit_distance_pairs

    long_a = "x" * 50 + "tail one"
    long_b = "x" * 50 + "tail two"
    docs = data([(1, long_a), (2, long_b)],
                spark=spark, schema="doc_id long, text string",
                name="edt")
    cand = Table(spark.createDataFrame([(1, 2)],
                                       "doc_a long, doc_b long"), "edt2")
    r = edit_distance_pairs(docs, cand, max_chars=50).df.first()
    # only the identical 50-char prefixes are compared, and the cap is
    # surfaced
    assert r.edit_distance == 0 and bool(r.truncated)
    full = edit_distance_pairs(docs, cand).df.first()
    assert full.edit_distance == 3 and not bool(full.truncated)
    with _pytest.raises(ValueError, match="max_chars"):
        edit_distance_pairs(docs, cand, max_chars=0)


# ---------------------------------------------------------------------------
# Product quantization (pipeline/pq.py) — compressed-domain ANN
# ---------------------------------------------------------------------------

def test_pq_fit_shape_and_determinism(emb):
    from blaze_spark.pipeline import pq_fit

    cb = pq_fit(emb, m=8, ks=16, iters=3, train_rows=300)
    assert cb.shape == (8, 16, 8)   # (m, ks, dim/m) at dim=64
    cb2 = pq_fit(emb, m=8, ks=16, iters=3, train_rows=300)
    assert (cb == cb2).all()        # seeded TakeOrdered sample + Lloyd

    with pytest.raises(ValueError, match="> 256"):
        pq_fit(emb, ks=300)
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(emb, m=7)


def test_pq_encode_decode_reconstruction(emb):
    """Codes are m uint8 bytes; reconstruction approximates the unit
    vector (quantization-error contract: mean cosine well above the
    ~0 of random 64-dim directions, and decode(encode(x)) is the
    nearest-codeword reconstruction, so it beats any single codeword)."""
    import numpy as np

    from blaze_spark.pipeline import pq_decode, pq_encode, pq_fit

    cb = pq_fit(emb, m=8, ks=16, iters=4, train_rows=500)
    enc = pq_encode(emb, cb)
    rows = enc.df.select("pq_code").limit(10).collect()
    assert all(len(r.pq_code) == 8 for r in rows)
    assert all(max(r.pq_code) < 16 for r in rows)   # ks=16 codes

    dec = pq_decode(enc, cb, out_col="recon")
    pdf = dec.df.select("embedding", "recon").limit(100).toPandas()
    cos = []
    for a, b in zip(pdf["embedding"], pdf["recon"]):
        a = np.asarray(a, dtype=float)
        a /= np.linalg.norm(a)
        b = np.asarray(b, dtype=float)
        cos.append(float(a @ b / np.linalg.norm(b)))
    assert np.mean(cos) > 0.5, np.mean(cos)


def test_pq_topk_planted_dup_and_recall(spark, emb):
    """An exact copy shares the query's code, so its ADC distance is the
    minimum any corpus row can achieve (the query's own quantization
    error — ADC never quantizes the query, so the distance is NOT 0) ->
    it must rank top-1.  Overall recall vs brute-force cosine is well
    above chance."""
    from pyspark.sql import functions as F

    from blaze_spark import Table, concat
    from blaze_spark.pipeline import cosine_topk, pq_encode, pq_fit, pq_topk

    copy = Table(emb.df.filter("vec_id = 0")
                 .withColumn("vec_id", F.lit(900000).cast("long")))
    both = concat(emb, copy)
    cb = pq_fit(both, m=8, ks=256, iters=5, train_rows=501)
    codes = pq_encode(both, cb)

    queries = Table(both.df.filter("vec_id < 3"))
    approx = pq_topk(codes, queries, cb, k=5).df.collect()
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) <= 5 for v in by_q.values())
    # planted copy is vec 0's nearest neighbor (identical code); its
    # ADC cosine reflects q's quantization error, so bound it loosely
    top0 = max(by_q[0], key=lambda r: r.cosine)
    assert top0.neighbor_id == 900000 and top0.cosine > 0.6

    # superset recall (standard ANN eval): approx@10 vs exact@5.  The
    # synthetic embeddings are near-random (top cosines ~0.5, dense
    # ties), the hardest regime for PQ — 0.6 here is far above the
    # ~2% chance rate, and the production default ks=256 measured 0.80.
    exact = cosine_topk(both, queries, k=5).df.collect()
    at10 = pq_topk(codes, queries, cb, k=10).df.collect()
    ax = {(r.query_id, r.neighbor_id) for r in at10}
    ex = {(r.query_id, r.neighbor_id) for r in exact}
    assert len(ax & ex) / len(ex) >= 0.6, (ax, ex)


def test_pq_topk_query_guard(spark, emb):
    from blaze_spark import Table
    from blaze_spark.pipeline import pq_encode, pq_fit, pq_topk

    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)
    codes = pq_encode(emb, cb)
    with pytest.raises(ValueError, match="max_queries"):
        pq_topk(codes, Table(emb.df), cb, k=3, max_queries=100)
    # None skips the sizing probe entirely
    out = pq_topk(codes, Table(emb.df.filter("vec_id < 2")), cb,
                  k=3, max_queries=None)
    assert out.df.count() == 6


def test_ivf_pq_topk_exhaustive_equals_flat_scan(spark, emb):
    """nprobe >= k_cells makes the candidate set the whole corpus, so
    IVF-PQ must return EXACTLY pq_topk's rows (same ADC, same
    tie-break) — the composed layout's differential contract."""
    from blaze_spark import Table
    from blaze_spark.pipeline import (ivf_pq_topk, pq_encode, pq_fit,
                                      pq_topk)
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit

    cents = kmeans_fit(emb, k=8, iters=3)
    cb = pq_fit(emb, m=8, ks=64, iters=4, train_rows=500)
    codes = pq_encode(ivf_assign(emb, cents), cb)
    q = Table(emb.df.filter("vec_id < 3"))

    full = {(r.query_id, r.neighbor_id, r.cosine) for r in
            ivf_pq_topk(codes, q, cents, cb, k=5, nprobe=8).df.collect()}
    flat = {(r.query_id, r.neighbor_id, r.cosine) for r in
            pq_topk(codes, q, cb, k=5).df.collect()}
    assert full == flat and len(full) == 15

    # cell-less codes with the float column still present: derived on
    # the fly, identical result
    auto = {(r.query_id, r.neighbor_id, r.cosine) for r in
            ivf_pq_topk(pq_encode(emb, cb), q, cents, cb,
                        k=5, nprobe=8).df.collect()}
    assert auto == full

    # pruned probing recovers most of the exhaustive set
    pruned = {(r.query_id, r.neighbor_id) for r in
              ivf_pq_topk(codes, q, cents, cb, k=5, nprobe=4)
              .df.collect()}
    assert len(pruned & {(a, b) for a, b, _ in full}) / 15 >= 0.5

    # codes without cell AND without vectors -> actionable error
    bare = Table(codes.df.drop("cell", "embedding"))
    with pytest.raises(ValueError, match="cell"):
        ivf_pq_topk(bare, q, cents, cb)


def test_pq_store_roundtrip_and_partition_pruning(spark, emb, tmp_path):
    """Codebooks and cell-partitioned codes persist and reload; the
    at-rest IVF-PQ query equals the in-memory one, and the probed-cell
    isin filter reaches the scan as a PartitionFilter — the
    sublinear-IO half of the layout, pinned in the plan."""
    from blaze_spark import Table
    from blaze_spark.pipeline import (ivf_pq_topk, load_codebooks,
                                      pq_encode, pq_fit, read_pq_codes,
                                      save_codebooks, write_pq_codes)
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit

    cents = kmeans_fit(emb, k=8, iters=3)
    cb = pq_fit(emb, m=8, ks=64, iters=3, train_rows=400)

    save_codebooks(cb, str(tmp_path / "cb"), spark=spark)
    cb2 = load_codebooks(str(tmp_path / "cb"), spark=spark)
    assert cb2.shape == cb.shape and (cb2 == cb).all()

    codes = pq_encode(ivf_assign(emb, cents), cb)
    store = str(tmp_path / "codes")
    write_pq_codes(codes, store)
    back = read_pq_codes(store, spark=spark)
    assert "embedding" not in back.df.columns      # floats dropped
    assert {"vec_id", "pq_code", "cell"} <= set(back.df.columns)
    assert back.df.count() == emb.df.count()

    q = Table(emb.df.filter("vec_id < 3"))
    mem = {(r.query_id, r.neighbor_id, r.cosine) for r in
           ivf_pq_topk(codes, q, cents, cb, k=5, nprobe=3).df.collect()}
    rest = ivf_pq_topk(back, q, cents, cb2, k=5, nprobe=3)
    got = {(r.query_id, r.neighbor_id, r.cosine)
           for r in rest.df.collect()}
    assert got == mem

    plan = rest.df._jdf.queryExecution().executedPlan().toString()
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cell" in pf.group(1), plan[:2000]

    with pytest.raises(ValueError, match="pq_code"):
        read_pq_codes(str(tmp_path / "cb"), spark=spark)
    with pytest.raises(ValueError, match="encode"):
        write_pq_codes(emb, str(tmp_path / "x"))


def test_pq_topk_ties_keep_smallest_neighbor_ids(spark):
    """Review r9: duplicate vectors share one code, so their ADC
    distances tie bit-for-bit; the batch-local pre-filter must select
    under the SAME (adist, neighbor_id) order as the global window —
    never drop a tied smaller id.  7 identical vectors, k=5 -> exactly
    ids 1..5; and flat/exhaustive-IVF-PQ stay EQUAL under ties."""
    from blaze_spark import data
    from blaze_spark.pipeline import (ivf_pq_topk, pq_encode, pq_fit,
                                      pq_topk)
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit

    base = [float(i % 7 + 1) for i in range(64)]
    other = [float((i * 3) % 11 + 1) for i in range(64)]
    rows = [(j, base) for j in range(1, 8)] + [(0, base), (99, other)]
    t = data(rows, spark=spark,
             schema="vec_id long, embedding array<float>", name="ties")
    cb = pq_fit(t, m=8, ks=4, iters=3, train_rows=9)
    codes = pq_encode(t, cb)

    flat = pq_topk(codes, t[t.vec_id == 0], cb, k=5).df.collect()
    assert sorted(r.neighbor_id for r in flat) == [1, 2, 3, 4, 5]

    cents = kmeans_fit(t, k=2, iters=2)
    full = ivf_pq_topk(pq_encode(ivf_assign(t, cents), cb),
                       t[t.vec_id == 0], cents, cb,
                       k=5, nprobe=2).df.collect()
    assert ({(r.neighbor_id, r.cosine) for r in full}
            == {(r.neighbor_id, r.cosine) for r in flat})

    # batch-layout independence: a 5-partition scan picks the same ids
    from blaze_spark import Table
    flat5 = pq_topk(Table(codes.df.repartition(5)),
                    t[t.vec_id == 0], cb, k=5).df.collect()
    assert sorted(r.neighbor_id for r in flat5) == [1, 2, 3, 4, 5]


def test_pq_topk_empty_queries_and_corpus_edges(spark, emb):
    """Review r9: an empty query table returns an empty (query_id,
    neighbor_id, cosine) frame like cosine_topk/ivf_topk, not a numpy
    stack crash; pq_fit on an empty corpus raises a clear error."""
    from blaze_spark import Table
    from blaze_spark.pipeline import (ivf_pq_topk, pq_encode, pq_fit,
                                      pq_topk)
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit

    cents = kmeans_fit(emb, k=4, iters=2)
    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)
    codes = pq_encode(ivf_assign(emb, cents), cb)
    none = Table(emb.df.filter("vec_id < -1"))

    out = pq_topk(codes, none, cb, k=3).df
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == \
        ["query_id", "neighbor_id", "cosine"]
    assert ivf_pq_topk(codes, none, cents, cb, k=3).df.count() == 0

    with pytest.raises(ValueError, match="empty"):
        pq_fit(none, m=8, ks=16)


def test_pq_fit_sample_is_id_order_unbiased(spark):
    """VERDICT r9 #2: the training sample is hash-of-id ordered, not
    smallest-id — on an ingest-ordered corpus (ids 0..499 all one
    content segment, 500..999 an orthogonal one) a smallest-id sample
    of 500 rows would never see segment B and quantize it with ~unit
    error; the md5 sample sees both, so both segments reconstruct
    (near-)exactly."""
    import numpy as np

    from blaze_spark import Table, data
    from blaze_spark.pipeline import pq_decode, pq_encode, pq_fit

    e1 = [1.0] + [0.0] * 63          # unit vector in dim 0
    e2 = [0.0] * 32 + [1.0] + [0.0] * 31   # unit vector in dim 32
    rows = [(i, e1) for i in range(500)] + \
        [(i, e2) for i in range(500, 1000)]
    t = data(rows, spark=spark,
             schema="vec_id long, embedding array<float>", name="seg")
    cb = pq_fit(t, m=8, ks=4, iters=3, train_rows=500)
    dec = pq_decode(pq_encode(t, cb), cb).df.collect()
    for r in dec:
        want = np.array(e1 if r.vec_id < 500 else e2)
        err = float(((np.array(r.embedding) - want) ** 2).sum())
        assert err < 0.1, (r.vec_id, err)

    # determinism: physical row layout must not change the codebooks
    cb2 = pq_fit(Table(t.df.repartition(7)), m=8, ks=4, iters=3,
                 train_rows=500)
    assert (cb2 == cb).all()


def test_pq_fit_requires_id_col(spark, emb):
    """ADVICE r9: no silent unordered fallback — codebook bytes are the
    store identity, so a nondeterministic sample could lock the owner
    out of an incremental store on refit.  Missing id_col raises."""
    from blaze_spark import Table
    from blaze_spark.pipeline import pq_fit

    anon = Table(emb.df.select("embedding"))
    with pytest.raises(ValueError, match="id_col"):
        pq_fit(anon, m=8, ks=16, train_rows=100)


def test_pq_codebook_store_detects_incomplete(spark, emb, tmp_path):
    """Review r9: the loader validates the declared (m, ks) against the
    rows — a store missing its trailing subspace raises instead of
    silently returning truncated codebooks."""
    from pyspark.sql import functions as F

    from blaze_spark.pipeline import load_codebooks, pq_fit, save_codebooks

    cb = pq_fit(emb, m=8, ks=8, iters=2, train_rows=100)
    good = str(tmp_path / "cb_ok")
    save_codebooks(cb, good, spark=spark)
    assert (load_codebooks(good, spark=spark) == cb).all()

    broken = str(tmp_path / "cb_broken")
    spark.read.parquet(good).filter(F.col("subspace") < 7) \
        .coalesce(1).write.parquet(broken)
    with pytest.raises(ValueError, match="incomplete"):
        load_codebooks(broken, spark=spark)

    empty = str(tmp_path / "cb_empty")
    spark.read.parquet(good).filter("subspace < 0") \
        .coalesce(1).write.parquet(empty)
    with pytest.raises(ValueError, match="empty"):
        load_codebooks(empty, spark=spark)


def test_ivf_pq_topk_custom_cell_col(spark, emb):
    """Review r9: a non-default cell_col must work end-to-end (the
    probed-cell relation renames its join key to match)."""
    from blaze_spark import Table
    from blaze_spark.pipeline import ivf_pq_topk, pq_encode, pq_fit
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit

    cents = kmeans_fit(emb, k=4, iters=2)
    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)
    codes = pq_encode(ivf_assign(emb, cents), cb)
    renamed = Table(codes.df.withColumnRenamed("cell", "bucket"))
    q = Table(emb.df.filter("vec_id < 2"))

    want = {(r.query_id, r.neighbor_id, r.cosine) for r in
            ivf_pq_topk(codes, q, cents, cb, k=3, nprobe=4).df.collect()}
    got = {(r.query_id, r.neighbor_id, r.cosine) for r in
           ivf_pq_topk(renamed, q, cents, cb, k=3, nprobe=4,
                       cell_col="bucket").df.collect()}
    assert got == want and len(got) == 6
    # derive-on-the-fly with a custom name (floats present, no cell)
    derived = {(r.query_id, r.neighbor_id, r.cosine) for r in
               ivf_pq_topk(pq_encode(emb, cb), q, cents, cb, k=3,
                           nprobe=4, cell_col="bucket").df.collect()}
    assert derived == want


def test_ann_topk_dispatch_routes(spark, emb, monkeypatch):
    """The top-k dispatcher: small corpus -> exact; past exact_max with
    a declared threshold -> LSH (while tables fit); without a threshold
    -> IVF.  Same (query_id, neighbor_id, cosine) schema on every
    route."""
    from blaze_spark import Table
    from blaze_spark.pipeline import ivf as ivf_mod
    from blaze_spark.pipeline import similarity as sim

    called = {}
    real_exact, real_lsh, real_ivf = (sim.cosine_topk,
                                      sim.lsh_cosine_topk,
                                      ivf_mod.ivf_topk)

    def spy(name, real):
        def f(*a, **kw):
            called[name] = True
            return real(*a, **kw)
        return f

    monkeypatch.setattr(sim, "cosine_topk", spy("exact", real_exact))
    monkeypatch.setattr(sim, "lsh_cosine_topk", spy("lsh", real_lsh))
    monkeypatch.setattr(ivf_mod, "ivf_topk", spy("ivf", real_ivf))

    q = Table(emb.df.filter("vec_id < 2"))

    out = sim.ann_topk(emb, q, k=3).df   # 500 rows <= exact_max
    assert called == {"exact": True}
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine"}
    assert out.count() == 6

    called.clear()
    out = sim.ann_topk(emb, q, k=3, exact_max=100, threshold=0.9).df
    assert called == {"lsh": True}
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine"}

    called.clear()
    from blaze_spark.pipeline.ivf import kmeans_fit
    cents = kmeans_fit(emb, k=4, iters=2)
    out = sim.ann_topk(emb, q, k=3, exact_max=100, centroids=cents).df
    assert called == {"ivf": True}
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine"}
    assert out.count() <= 6

    # a threshold past the table cap ALSO lands on IVF
    called.clear()
    sim.ann_topk(emb, q, k=3, exact_max=100, threshold=0.9,
                 max_tables=0, centroids=cents).df.count()
    assert called == {"ivf": True}


def test_ann_topk_prebuilt_store_routes(spark, emb, tmp_path, monkeypatch):
    """VERDICT r9 #1: prebuilt PQ code stores route THROUGH the
    dispatcher — the measured-37x ADC path is the default, not a
    hand-picked expert path.  codes= tables, flat write_pq_codes
    stores and format-validated ingest stores all dispatch; answers
    equal the direct pq_topk/ivf_pq_topk calls."""
    from blaze_spark import Table
    from blaze_spark.pipeline import (pq_encode, pq_fit, write_pq_codes)
    from blaze_spark.pipeline import pq as pq_mod
    from blaze_spark.pipeline import similarity as sim
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit

    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)
    q = Table(emb.df.filter("vec_id < 3"))

    called = {}
    real_pq, real_ivfpq = pq_mod.pq_topk, pq_mod.ivf_pq_topk

    def spy(name, real):
        def f(*a, **kw):
            called[name] = True
            return real(*a, **kw)
        return f

    monkeypatch.setattr(pq_mod, "pq_topk", spy("pq", real_pq))
    monkeypatch.setattr(pq_mod, "ivf_pq_topk", spy("ivf_pq", real_ivfpq))

    # codes table without centroids -> flat ADC route, answer-equal
    codes = pq_encode(emb, cb)
    want_flat = {(r.query_id, r.neighbor_id, r.cosine)
                 for r in real_pq(codes, q, cb, k=3).df.collect()}
    got = {(r.query_id, r.neighbor_id, r.cosine)
           for r in sim.ann_topk(None, q, k=3, codes=codes,
                                 codebooks=cb).df.collect()}
    assert called == {"pq": True}
    assert got == want_flat and len(got) == 9

    # at-rest cell-partitioned store + centroids -> IVF-PQ route
    called.clear()
    cents = kmeans_fit(emb, k=4, iters=2)
    cell_codes = pq_encode(ivf_assign(emb, cents), cb)
    store = str(tmp_path / "flat_store")
    write_pq_codes(cell_codes, store)
    want_ivf = {(r.query_id, r.neighbor_id, r.cosine)
                for r in real_ivfpq(cell_codes, q, cents, cb, k=3,
                                    nprobe=4).df.collect()}
    got = {(r.query_id, r.neighbor_id, r.cosine)
           for r in sim.ann_topk(None, q, k=3, store=store,
                                 codebooks=cb, centroids=cents,
                                 nprobe=4).df.collect()}
    assert called == {"ivf_pq": True}
    assert got == want_ivf

    # incremental ingest store -> read_pq_index (format-validated,
    # complete-ingests-only) then the same IVF-PQ route
    called.clear()
    from blaze_spark.streaming.incremental_ann import ingest_pq_batch
    istore = str(tmp_path / "ingest_store")
    for i in range(2):
        ingest_pq_batch(Table(emb.df.filter(f"vec_id % 2 == {i}")),
                        istore, cb, cents, batch_id=i)
    got = {(r.query_id, r.neighbor_id, r.cosine)
           for r in sim.ann_topk(None, q, k=3, store=istore,
                                 codebooks=cb, centroids=cents,
                                 nprobe=4).df.collect()}
    assert called == {"ivf_pq": True}
    assert got == want_ivf

    # foreign codebooks against an ingest store fail loudly
    cb2 = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200, seed=7)
    with pytest.raises(ValueError, match="index format"):
        sim.ann_topk(None, q, k=3, store=istore, codebooks=cb2,
                     centroids=cents)

    # surface errors: store without codebooks, both codes and store,
    # neither corpus nor codes
    with pytest.raises(ValueError, match="codebooks"):
        sim.ann_topk(None, q, k=3, store=store)
    with pytest.raises(ValueError, match="not both"):
        sim.ann_topk(None, q, k=3, store=store, codes=codes,
                     codebooks=cb)
    with pytest.raises(ValueError, match="corpus"):
        sim.ann_topk(None, q, k=3)


def test_batched_topk_equals_single_call(spark, emb):
    """VERDICT r9 #5: hash-of-id query batching unions to EXACTLY the
    single-call answer (top-k per query is independent across queries)
    — on the default dispatcher backend, on a single-chunk fast path,
    and on a custom PQ backend; the per-chunk guard is force-disabled
    (batching IS the guard the single call would trip)."""
    import pytest

    from blaze_spark import Table
    from blaze_spark.pipeline import (batched_topk, cosine_topk,
                                      pq_encode, pq_fit, pq_topk)

    q = Table(emb.df.filter("vec_id < 20"))
    want = {(r.query_id, r.neighbor_id, r.cosine)
            for r in cosine_topk(emb, q, k=4).df.collect()}
    assert len(want) == 80

    # the single call trips a small guard; the batched loop does not
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk(emb, q, k=4, max_queries=4)
    got = {(r.query_id, r.neighbor_id, r.cosine)
           for r in batched_topk(emb, q, k=4,
                                 queries_per_batch=4).df.collect()}
    assert got == want

    # single-chunk fast path and explicit n_queries both stay equal
    got1 = {(r.query_id, r.neighbor_id, r.cosine)
            for r in batched_topk(emb, q, k=4, queries_per_batch=1000,
                                  n_queries=20).df.collect()}
    assert got1 == want

    # custom backend signature (PQ over a codes table)
    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)
    codes = pq_encode(emb, cb)
    want_pq = {(r.query_id, r.neighbor_id, r.cosine)
               for r in pq_topk(codes, q, cb, k=4).df.collect()}
    got_pq = {(r.query_id, r.neighbor_id, r.cosine)
              for r in batched_topk(
                  None, q, k=4, queries_per_batch=6,
                  backend=lambda c, qq, **kw: pq_topk(codes, qq, cb,
                                                      **kw),
              ).df.collect()}
    assert got_pq == want_pq


def test_batched_topk_hoists_corpus_count(spark, emb):
    """VERDICT r10 #1: when the backend accepts ``n_vectors`` and the
    caller didn't pass it, batched_topk sizes the corpus ONCE and
    threads the count into every chunk call — the default route costs
    one sizing job, not n_batches (each would be a full metadata/scan
    pass at 100 TB).  A caller-supplied value is forwarded untouched,
    and store=/codes= routes (which ignore the float corpus) never
    trigger the count."""
    from blaze_spark import Table
    from blaze_spark.pipeline import batched_topk, cosine_topk

    q = Table(emb.df.filter("vec_id < 12"))
    calls = []

    def backend(corpus, queries, k=5, id_col="vec_id",
                vec_col="embedding", n_vectors=None, max_queries=None):
        calls.append(n_vectors)
        return cosine_topk(corpus, queries, k=k, id_col=id_col,
                           vec_col=vec_col)

    n_corpus = emb.df.count()
    got = {(r.query_id, r.neighbor_id, r.cosine)
           for r in batched_topk(emb, q, k=3,
                                 queries_per_batch=4,
                                 backend=backend).df.collect()}
    assert len(calls) >= 2  # genuinely multi-chunk
    assert all(c == n_corpus for c in calls)
    want = {(r.query_id, r.neighbor_id, r.cosine)
            for r in cosine_topk(emb, q, k=3).df.collect()}
    assert got == want

    # caller-supplied n_vectors wins (no recount, value forwarded)
    calls.clear()
    batched_topk(emb, q, k=3, queries_per_batch=4, backend=backend,
                 n_vectors=777).df.collect()
    assert calls and all(c == 777 for c in calls)

    # store routes: the corpus param is ignored there, so the hoisted
    # count must not run — n_vectors stays unset for the backend
    calls.clear()

    def store_backend(corpus, queries, k=5, id_col="vec_id",
                      vec_col="embedding", n_vectors=None, store=None,
                      max_queries=None):
        calls.append(n_vectors)
        return cosine_topk(emb, queries, k=k)

    # corpus present but store= passed: the skip must key off the
    # store kwarg, not just a None corpus
    batched_topk(emb, q, k=3, queries_per_batch=4,
                 backend=store_backend, store="ignored").df.collect()
    assert calls and all(c is None for c in calls)


def test_neardup_pairs_route_uniform_kwargs(spark, emb):
    """ADVICE r10: backend_kwargs are validated against the UNION of
    every neardup route at entry (unknown names raise TypeError on
    every route alike) and each route receives only the names it
    accepts — a kwarg valid on another regime is inert, never a
    route-dependent TypeError."""
    import pytest

    from blaze_spark import Table
    from blaze_spark.pipeline import neardup_pairs, pq_encode, pq_fit

    corpus = Table(emb.df.filter("vec_id < 60"))
    with pytest.raises(TypeError, match="unexpected keyword 'bogus'"):
        neardup_pairs(corpus, 0.9, bogus=1)

    cb = pq_fit(corpus, m=8, ks=16, iters=2, train_rows=200)
    codes = pq_encode(corpus, cb)
    with pytest.raises(TypeError, match="unexpected keyword 'bogus'"):
        neardup_pairs(corpus, 0.9, codes=codes, codebooks=cb, bogus=1)

    # max_bucket is an LSH knob: on the PQ code-store route it must be
    # dropped silently (route-uniform contract), not raise
    out = neardup_pairs(corpus, 0.95, codes=codes, codebooks=cb,
                        max_bucket=50)
    out.df.collect()
    # and margin is a PQ knob: inert on the LSH/IVF float routes
    neardup_pairs(corpus, 0.95, margin=0.05, n_vectors=60).df.collect()


def test_pq_range_search_bias_correction_finds_dups(spark, emb):
    """r10: ADC range search must widen each query's radius by its OWN
    quantization error — ADC measures against RECONSTRUCTED neighbors,
    so an exact duplicate sits at the query's reconstruction error
    (~0.5+ on random dim-64 data), far outside an uncorrected cosine-
    0.9 radius of 0.2.  Corrected: every planted duplicate is a
    candidate; uncorrected: (at least some) planted dups are missed —
    the bug the correction exists for."""
    from pyspark.sql import functions as F

    from blaze_spark import Table, concat
    from blaze_spark.pipeline import (pq_encode, pq_fit,
                                      pq_range_search)

    copies = Table(emb.df.filter("vec_id < 20")
                   .withColumn("vec_id", F.col("vec_id") + 1_000_000))
    corpus = concat(emb, copies)
    cb = pq_fit(corpus, m=8, ks=16, iters=3, train_rows=600)
    codes = pq_encode(corpus, cb)
    q = Table(emb.df.filter("vec_id < 20"))

    got = {(r.query_id, r.neighbor_id) for r in
           pq_range_search(codes, q, cb, min_cosine=0.9).df.collect()}
    want = {(i, i + 1_000_000) for i in range(20)}
    assert want <= got

    raw = {(r.query_id, r.neighbor_id) for r in
           pq_range_search(codes, q, cb, min_cosine=0.9,
                           correct_bias=False).df.collect()}
    assert len(want & raw) < len(want)


def test_codes_matrix_decode_is_byte_identical():
    """r15: the ADC scan kernels decode the m-byte PQ code column with
    ONE b''.join + frombuffer + reshape pass (the per-row frombuffer +
    stack loop it replaced ran once per Arrow batch and dominated the
    whole candidate scan).  Pin byte-identity against the per-row
    form, including the 1-row and ks=256 (full uint8 range) edges."""
    import numpy as np

    from blaze_spark.pipeline.pq import _codes_matrix

    rng = np.random.default_rng(7)
    for n, m in [(1, 8), (17, 8), (1000, 4), (257, 16)]:
        rows = np.array([bytes(rng.integers(0, 256, m, dtype=np.uint8))
                         for _ in range(n)], dtype=object)
        slow = np.stack([np.frombuffer(b, dtype=np.uint8)
                         for b in rows])
        assert np.array_equal(_codes_matrix(rows, m), slow)

    # ADVICE r15: width corruption (a truncated or over-long code cell)
    # must raise loudly with the total-bytes check, not silently
    # misalign every later code the way a bare reshape would.  (Exactly
    # compensating per-row corruption — one row m+1, another m−1 —
    # still passes the total check by design: a per-row length loop
    # would reintroduce per-row Python work in the hottest ADC kernel
    # for a defensive-depth-only case; codes are fixed-width by
    # construction.)
    import pytest

    bad = np.array([b"\x01" * 9, b"\x02" * 8, b"\x03" * 8], dtype=object)
    with pytest.raises(ValueError, match="fixed-width"):
        _codes_matrix(bad, 8)


def test_pq_neardup_chunk_loop_leaves_caller_persist_alone(spark, emb):
    """ADVICE r15: the multi-chunk loop's construction-scoped codes
    persist must not un-cache a codes frame the CALLER persisted —
    a raw unpersist shared the caller's JVM entry (CacheManager keys
    by canonicalized plan) and silently degraded their survivor.  An
    already-cached codes object is left alone; a derived (un-cached)
    codes frame is still persisted for the loop and released after."""
    from blaze_spark.pipeline import pq_encode, pq_fit, pq_neardup_pairs

    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=2000)
    codes = pq_encode(emb, cb)
    codes.df.persist()
    try:
        pq_neardup_pairs(emb, codes=codes, codebooks=cb, threshold=0.9,
                         queries_per_batch=100).df.count()
        assert codes.df.is_cached  # caller-owned cache survived
    finally:
        codes.df.unpersist()

    codes2 = pq_encode(emb, cb)
    pq_neardup_pairs(emb, codes=codes2, codebooks=cb, threshold=0.9,
                     queries_per_batch=100).df.count()
    assert not codes2.df.is_cached  # scope released its own persist


def test_pq_neardup_chunk_loop_failure_keeps_refcount_balanced(
        spark, emb, monkeypatch):
    """A codes frame the caller holds through the refcount (a scoped
    cache, not a raw persist) gets one more reference for the chunk
    loop.  A forced failure inside the loop must leave the persisted
    RDDs as they were, and the loop's reference must be gone: the
    caller's own release then unpersists the codes."""
    from blaze_spark.cache import owned_cache
    from blaze_spark.pipeline import pq as pq_mod
    from blaze_spark.pipeline import pq_encode, pq_fit, pq_neardup_pairs

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=2000)
    codes = pq_encode(emb, cb)
    before = persistent()
    caller = owned_cache(codes.df)
    codes.df.count()  # fill the caller's cache
    held = persistent()

    def failing(*a, **kw):
        raise RuntimeError("forced chunk failure")

    monkeypatch.setattr(pq_mod, "_pq_range_scored", failing)
    with pytest.raises(RuntimeError, match="forced chunk failure"):
        pq_neardup_pairs(emb, codes=codes, codebooks=cb, threshold=0.9,
                         queries_per_batch=100)
    assert persistent() == held
    assert codes.df.storageLevel.useMemory  # the caller still holds it
    caller.release()
    assert persistent() == before


def test_pq_neardup_chunk_loop_outlives_the_callers_holder(
        spark, emb, monkeypatch):
    """Dropping the caller's scoped holder while the chunk loop runs
    must not unpersist the codes under the remaining chunks; the loop's
    own reference releases them once it is done."""
    from blaze_spark.cache import owned_cache
    from blaze_spark.pipeline import pq as pq_mod
    from blaze_spark.pipeline import pq_encode, pq_fit, pq_neardup_pairs

    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=2000)
    codes = pq_encode(emb, cb)
    caller = owned_cache(codes.df)
    real = pq_mod._pq_range_scored
    cached_in_loop = []

    def spy(*a, **kw):
        caller.release()  # idempotent: the first chunk drops the holder
        cached_in_loop.append(codes.df.storageLevel.useMemory)
        return real(*a, **kw)

    monkeypatch.setattr(pq_mod, "_pq_range_scored", spy)
    pq_neardup_pairs(emb, codes=codes, codebooks=cb, threshold=0.9,
                     queries_per_batch=100).df.count()
    assert len(cached_in_loop) == 5 and all(cached_in_loop)
    assert not codes.df.storageLevel.useMemory


def test_pq_neardup_pairs_matches_exact_truth(spark, emb, tmp_path):
    """r10: corpus self-dedup over the at-rest PQ codes — candidates
    from the bias-corrected ADC range scan, decisions from the exact
    float rescore, so the pair set must EQUAL the brute-force truth on
    a planted corpus (random dim-64 vectors never reach cosine 0.9, so
    truth == the planted duplicates exactly).  Flat codes, a
    cell-partitioned at-rest store, and a multi-chunk batched run all
    agree."""
    from pyspark.sql import functions as F

    from blaze_spark import Table, concat
    from blaze_spark.pipeline import (embedding_neardup_pairs,
                                      pq_encode, pq_fit,
                                      pq_neardup_pairs, write_pq_codes)
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit

    copies = Table(emb.df.filter("vec_id < 30")
                   .withColumn("vec_id", F.col("vec_id") + 1_000_000))
    corpus = concat(emb, copies)
    truth = {(r.vec_a, r.vec_b, r.cosine) for r in
             embedding_neardup_pairs(corpus, 0.9, exact=True)
             .df.collect()}
    assert len(truth) == 30

    cb = pq_fit(corpus, m=8, ks=16, iters=3, train_rows=600)
    codes = pq_encode(corpus, cb)
    got = {(r.vec_a, r.vec_b, r.cosine) for r in
           pq_neardup_pairs(corpus, 0.9, codebooks=cb,
                            codes=codes).df.collect()}
    assert got == truth

    # cell-partitioned at-rest store route (store= + centroids)
    cents = kmeans_fit(corpus, k=4, iters=2)
    store = str(tmp_path / "nd_store")
    write_pq_codes(pq_encode(ivf_assign(corpus, cents), cb), store)
    # nprobe < k_cells so the CELL route runs (nprobe >= k_cells falls
    # back to the flat matrix kernel — no pruning to buy)
    got_store = {(r.vec_a, r.vec_b, r.cosine) for r in
                 pq_neardup_pairs(corpus, 0.9, codebooks=cb,
                                  store=store, centroids=cents,
                                  nprobe=2).df.collect()}
    assert got_store == truth

    # multi-chunk batched run (bounded per-chunk broadcast state)
    got_batched = {(r.vec_a, r.vec_b, r.cosine) for r in
                   pq_neardup_pairs(corpus, 0.9, codebooks=cb,
                                    codes=codes,
                                    queries_per_batch=100).df.collect()}
    assert got_batched == truth

    # no codes/store -> a clear routing error, not a silent scan
    with pytest.raises(ValueError, match="codes="):
        pq_neardup_pairs(corpus, 0.9)


def test_ann_topk_kwarg_surface_uniform(spark, emb):
    """ADVICE r9: the dispatcher's kwarg surface must not change
    exception class with corpus size.  Unknown kwargs raise TypeError
    AT ENTRY on every regime alike; the guard knobs are named params
    forwarded only to routes that declare them (inert elsewhere by
    contract), so crossing a regime boundary never turns a working
    call into a TypeError."""
    import pytest

    from blaze_spark import Table
    from blaze_spark.pipeline import similarity as sim
    from blaze_spark.pipeline.ivf import kmeans_fit

    q = Table(emb.df.filter("vec_id < 2"))
    cents = kmeans_fit(emb, k=4, iters=2)

    for route_kwargs in ({}, {"exact_max": 100, "centroids": cents},
                         {"exact_max": 100, "threshold": 0.9}):
        with pytest.raises(TypeError, match="no\\s+dispatch route"):
            sim.ann_topk(emb, q, k=3, bogus_knob=1, **route_kwargs)

    # max_queries guards the exact route (raises past it)...
    assert sim.ann_topk(emb, q, k=3, max_queries=5).df.count() == 6
    with pytest.raises(ValueError, match="max_queries"):
        sim.ann_topk(emb, q, k=3, max_queries=1)
    # ...and the IVF route, which collects its query block too...
    assert sim.ann_topk(emb, q, k=3, exact_max=100, centroids=cents,
                        max_queries=5).df.count() == 6
    with pytest.raises(ValueError, match="max_queries"):
        sim.ann_topk(emb, q, k=3, exact_max=100, centroids=cents,
                     max_queries=1)
    # (IVF's former second knob is gone from the surface)
    with pytest.raises(TypeError, match="max_broadcast_queries"):
        sim.ann_topk(emb, q, k=3, exact_max=100, centroids=cents,
                     max_broadcast_queries=1)
    # ...and is inert (never TypeError) on the LSH route
    out = sim.ann_topk(emb, q, k=3, exact_max=100, threshold=0.9,
                       max_queries=1).df
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine"}


def test_pq_topk_duplicate_query_ids_mask_all_occurrences(spark, emb):
    """Review r9 #2: duplicate query rows (same vec_id twice) must not
    leak a self-match — the left/right searchsorted range masks EVERY
    occurrence, not just the first."""
    from blaze_spark import Table
    from blaze_spark.pipeline import pq_encode, pq_fit, pq_topk

    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)
    codes = pq_encode(emb, cb)
    q1 = emb.df.filter("vec_id < 2")
    qdup = Table(q1.union(q1))
    out = pq_topk(codes, qdup, cb, k=5).df.collect()
    assert all(r.neighbor_id != r.query_id for r in out)


def test_pq_codebook_store_preversion_schema_rejected(spark, emb, tmp_path):
    """Review r9 #1: a store without the self-describing (m, ks)
    columns gets a clear re-save error, not an AttributeError."""
    from blaze_spark.pipeline import load_codebooks, pq_fit

    cb = pq_fit(emb, m=8, ks=8, iters=2, train_rows=100)
    rows = [(int(i), int(j), [float(x) for x in cb[i, j]])
            for i in range(8) for j in range(8)]
    old = str(tmp_path / "cb_old")
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>") \
        .coalesce(1).write.parquet(old)
    with pytest.raises(ValueError, match="re-save"):
        load_codebooks(old, spark=spark)


def test_ann_topk_derives_dim_for_lsh_route(spark):
    """Review r9 #5: the LSH route sizes its plane matrix from the
    data's real width — a dim-32 corpus past exact_max must not crash
    on the old fixed 64."""
    from pyspark.sql import functions as F

    from blaze_spark import Table, data
    from blaze_spark.pipeline import ann_topk

    emb32 = data("/root/testdata/sf0.001/embeddings.parquet", spark=spark)
    emb32 = Table(emb32.df.withColumn(
        "embedding", F.slice("embedding", 1, 32)))
    q = Table(emb32.df.filter("vec_id < 2"))
    out = ann_topk(emb32, q, k=3, exact_max=100, threshold=0.9).df
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine"}
    out.count()   # executes the UDF path — shape mismatch would raise


def test_batched_topk_lazy_optout(spark, emb):
    """ADVICE r11: materialize_chunks=False keeps the union fully lazy
    (no localCheckpoint — full lineage for preemptible executors) and
    answers stay equal to the eager default."""
    from blaze_spark import Table
    from blaze_spark.pipeline import batched_topk

    q = Table(emb.df.filter("vec_id < 12"))
    eager = {(r.query_id, r.neighbor_id, r.cosine)
             for r in batched_topk(emb, q, k=3,
                                   queries_per_batch=4).df.collect()}
    lazy = batched_topk(emb, q, k=3, queries_per_batch=4,
                        materialize_chunks=False)
    got = {(r.query_id, r.neighbor_id, r.cosine)
           for r in lazy.df.collect()}
    assert got == eager
    # genuinely lazy: no LogicalRDD (checkpointed block) leaves in the plan
    plan = lazy.df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan and "Scan ExistingRDD" not in plan


def test_semantic_dedup_removes_planted_cluster(spark, emb):
    """SemDeDup (r13 second half): planted near-copies collapse to one
    survivor (smallest id), untouched vectors keep themselves, and at
    k_cells=1 the result EQUALS the exact small-corpus oracle
    (canonical_docs over embedding_neardup_pairs(exact=True))."""
    from pyspark.sql import functions as F

    from blaze_spark import Table, concat
    from blaze_spark.pipeline import (embedding_neardup_pairs,
                                      semantic_dedup)
    from blaze_spark.pipeline.cluster import canonical_docs

    copies = Table(emb.df.filter("vec_id < 2")
                   .withColumn("vec_id",
                               (F.col("vec_id") + 900000).cast("long")))
    both = concat(emb, copies)
    out = semantic_dedup(both, threshold=0.99, k_cells=4,
                         kmeans_iters=2).df
    rows = {r["vec_id"]: r for r in out.collect()}
    assert len(rows) == both.df.count()          # corpus-wide view
    # each planted pair collapses: smallest id survives
    for vid in (0, 1):
        assert rows[vid]["keep"] is True
        assert rows[vid + 900000]["keep"] is False
        assert rows[vid + 900000]["cluster_id"] == vid
    # untouched vectors keep themselves
    assert rows[5]["keep"] is True and rows[5]["cluster_id"] == 5
    # k_cells=1 == the exact pipeline, row for row
    got = sorted((r["vec_id"], r["cluster_id"], r["keep"])
                 for r in semantic_dedup(both, threshold=0.99,
                                         k_cells=1,
                                         kmeans_iters=1).df.collect())
    exact_pairs = embedding_neardup_pairs(both, threshold=0.99,
                                          exact=True)
    want_df = canonical_docs(both, exact_pairs, id_col="vec_id",
                             left="vec_a", right="vec_b").df
    want = sorted((r["vec_id"], r["cluster_id"], r["keep"])
                  for r in want_df.collect())
    assert got == want
    # determinism
    again = sorted((r["vec_id"], r["cluster_id"], r["keep"])
                   for r in semantic_dedup(both, threshold=0.99,
                                           k_cells=4,
                                           kmeans_iters=2).df.collect())
    base = sorted((r["vec_id"], r["cluster_id"], r["keep"])
                  for r in out.collect())
    assert again == base
    # validation
    import pytest as _pt
    with _pt.raises(ValueError, match="threshold"):
        semantic_dedup(both, threshold=1.5)
    with _pt.raises(ValueError, match="max_cell"):
        semantic_dedup(both, max_cell=1)


def test_semantic_dedup_far_centroid_policy(spark):
    """keep="far_centroid" (the paper's rule): within a cluster the
    survivor is the member with the LOWEST cosine to its cell
    centroid.  Geometry: a crowd at +y pulls the k=1 centroid up, so
    of the near-dup pair {1 (along +x), 2 (tilted −y)}, member 2 is
    farther from the centroid and survives — where min_id keeps 1."""
    from blaze_spark import data
    from blaze_spark.pipeline import semantic_dedup

    rows = [(1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.995, -0.0999, 0.0, 0.0])] + \
           [(10 + i, [0.0, 1.0, 0.0, 0.0]) for i in range(6)]
    t = data(rows, spark=spark,
             schema="vec_id long, embedding array<double>",
             name="sd_far")
    far = {r["vec_id"]: r["keep"]
           for r in semantic_dedup(t, threshold=0.99, k_cells=1,
                                   kmeans_iters=1,
                                   keep="far_centroid").df.collect()}
    assert far[2] is True and far[1] is False
    # the crowd cluster keeps exactly one member
    assert sum(far[10 + i] for i in range(6)) == 1
    mid = {r["vec_id"]: r["keep"]
           for r in semantic_dedup(t, threshold=0.99, k_cells=1,
                                   kmeans_iters=1).df.collect()}
    assert mid[1] is True and mid[2] is False
    import pytest as _pt
    with _pt.raises(ValueError, match="keep must"):
        semantic_dedup(t, keep="oldest")


def test_cross_doc_dup_spans_maximal(spark):
    """r14 (VERDICT r13 missing #2): maximal duplicated spans — the
    gaps-and-islands merge of duplicated windows.  A 10-token shared
    run surfaces as ONE (start, len=10) row per doc; two occurrences
    inside one doc are two rows; a sub-n overlap is invisible; and
    consistency with the scoring mode: per-doc Σ span_len ==
    dup_tokens."""
    from blaze_spark import data
    from blaze_spark.pipeline import (cross_doc_dup_ngrams,
                                      cross_doc_dup_spans)

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (0, f"alpha {shared} beta gamma {shared} end"),
        (1, f"{shared} something unique here"),
        (2, "totally different text with nothing in common at all"),
        (3, f"prefix words {shared}"),
    ]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="maxspans")
    out = sorted(map(tuple, cross_doc_dup_spans(t, n=5).df.collect()))
    # (doc, start, len, windows, n_docs): each 10-token run is 6
    # overlapping 5-gram windows merged into one island; the span
    # appears in 3 docs (0, 1, 3)
    assert out == [(0, 2, 10, 6, 3), (0, 14, 10, 6, 3),
                   (1, 1, 10, 6, 3), (3, 3, 10, 6, 3)]
    # span/scoring consistency: union of island lengths == dup_tokens
    score = {r.doc_id: r.dup_tokens for r in
             cross_doc_dup_ngrams(t, n=5).df.collect()}
    per_doc: dict = {}
    for d, _s, ln, _w, _nd in out:
        per_doc[d] = per_doc.get(d, 0) + ln
    for d, dup in score.items():
        assert per_doc.get(d, 0) == dup


def test_cross_doc_dup_spans_gap_splits_islands(spark):
    """Adjacent coverage merges (contiguous positions), a 1-token gap
    splits; r15 (VERDICT r14 #3): n_docs is the EXACT distinct-doc
    count per span fingerprint — doc 1's merged 10-token region
    exists contiguously ONLY in doc 1 (doc 2 has a gap inside it), so
    its n_docs is 1, not the former min-window bound of 2; and a doc
    whose region is embedded in a strictly longer duplicated region
    reports the longer span (doc 1 doesn't count as a carrier of the
    bare 5-token spans)."""
    from blaze_spark import data
    from blaze_spark.pipeline import cross_doc_dup_spans

    # 'a b c d e' is in docs 1,2,3; 'v w x y z' in 1,2; doc 1 holds
    # them back-to-back -> contiguous coverage merges into ONE
    # 10-token island unique (as a maximal region) to doc 1
    rows = [
        (1, "a b c d e v w x y z"),
        (2, "a b c d e gap1 v w x y z"),
        (3, "pre a b c d e post filler words"),
    ]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="gapspans")
    got = sorted(map(tuple, cross_doc_dup_spans(t, n=5).df.collect()))
    assert got == [
        # merged: the two duplicated windows ('a b c d e' covering
        # 1-5, 'v w x y z' covering 6-10) touch, so ONE island even
        # though the bridging windows are unique to doc 1; no other
        # doc carries this exact maximal region
        (1, 1, 10, 2, 1),
        (2, 1, 5, 1, 2),         # 1-token gap -> two islands
        (2, 7, 5, 1, 1),
        (3, 2, 5, 1, 2),
    ]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="min_docs"):
        cross_doc_dup_spans(t, min_docs=1)
    with _pytest.raises(ValueError, match="n must be"):
        cross_doc_dup_spans(t, n=0)


def test_assign_clusters_mirrors_sources_on_onehot_geometry(spark):
    """r14: assign_clusters is the unsupervised source label — with
    one-hot centroids that mirror the sources exactly, the whole
    cluster-mix chain (assign → temperature mix by cell → apply)
    keeps byte-identically the same documents as the source-mix
    chain, and unembedded docs land in cell -1 (a real stratum, never
    silently dropped)."""
    import numpy as np

    from blaze_spark import data
    from blaze_spark.pipeline import (apply_source_mix, assign_clusters,
                                      temperature_source_mix)

    rng = np.random.default_rng(3)
    docs, vecs = [], []
    for i in range(90):
        src = i % 3
        docs.append((i, "w " * (5 + i % 17), f"src{src}"))
        if i != 77:                       # doc 77 has no embedding
            v = (rng.normal(0, 0.05, 3) + np.eye(3)[src]).tolist()
            vecs.append((i, [float(x) for x in v]))
    d = data(docs, spark=spark,
             schema="doc_id bigint, text string, source string",
             name="cm_docs")
    e = data(vecs, spark=spark,
             schema="vec_id bigint, embedding array<float>",
             name="cm_vecs")
    cents = np.eye(3, dtype=np.float32)
    tagged = assign_clusters(d, e, centroids=cents)
    rows = {r.doc_id: r.cell for r in tagged.df.collect()}
    assert rows[77] == -1
    for i, _t, src in docs:
        if i != 77:
            assert rows[i] == int(src[-1])
    # drop doc 77 so the strata match exactly, then the two chains
    # keep the same docs
    t2 = data([r for r in docs if r[0] != 77], spark=spark,
              schema="doc_id bigint, text string, source string",
              name="cm_docs2")
    tag2 = assign_clusters(t2, e, centroids=cents)
    wc = temperature_source_mix(tag2, alpha=0.3, source_col="cell")
    kept_c = sorted(r.doc_id for r in apply_source_mix(
        tag2, wc, source_col="cell").df.select("doc_id").collect())
    ws = temperature_source_mix(t2, alpha=0.3)
    kept_s = sorted(r.doc_id for r in apply_source_mix(
        t2, ws, source_col="source").df.select("doc_id").collect())
    assert kept_c == kept_s and len(kept_c) > 0
    # determinism: same seed, same fitted assignment
    a = sorted(map(tuple, assign_clusters(
        t2, e, k_cells=3, seed=5).df.select("doc_id", "cell")
        .collect()))
    b = sorted(map(tuple, assign_clusters(
        t2, e, k_cells=3, seed=5).df.select("doc_id", "cell")
        .collect()))
    assert a == b
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k_cells"):
        assign_clusters(t2, e, k_cells=0)


def test_dup_span_popularity_profile(spark):
    """r14 (ROADMAP #10): the min_docs threshold sweep — cumulative
    at-threshold counts, hand-verified: a 10-token run shared by 3
    docs (6 windows each) + a 5-token run shared by 2 docs, and the
    per-doc count uses each document's MAX duplication level (doc 0
    holds both runs but counts once per threshold)."""
    from blaze_spark import data
    from blaze_spark.pipeline import dup_span_popularity

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (0, f"alpha {shared} beta pair only gram here repeated"),
        (1, f"{shared} x"), (2, f"{shared} y"),
        (3, "pair only gram here repeated words too"),
    ]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="popdocs2")
    got = {r.min_docs: (r.n_dup_grams, r.n_dup_windows, r.n_docs)
           for r in dup_span_popularity(t, n=5).df.collect()}
    # ndocs=3: the 10-token run = 6 windows in each of docs 0,1,2;
    # ndocs=2: adds the 5-token run (1 window in docs 0 and 3)
    assert got == {3: (6, 18, 3), 2: (7, 20, 4)}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n must be"):
        dup_span_popularity(t, n=0)


def test_assign_clusters_refuses_taken_columns(spark):
    """r15 (ADVICE): docs that already carry a 'cell' (or the
    internal '__aid') column refuse loudly BEFORE the join — not an
    opaque ambiguous-column analysis error downstream."""
    import numpy as np
    import pytest as _pytest

    from blaze_spark import data
    from blaze_spark.pipeline import assign_clusters

    e = data([(0, [1.0, 0.0])], spark=spark,
             schema="vec_id bigint, embedding array<float>",
             name="acg_vecs")
    cents = np.eye(2, dtype=np.float32)
    d_cell = data([(0, "t", 7)], spark=spark,
                  schema="doc_id bigint, text string, cell int",
                  name="acg_cell")
    with _pytest.raises(ValueError, match="'cell'"):
        assign_clusters(d_cell, e, centroids=cents)
    d_aid = data([(0, "t", 7)], spark=spark,
                 schema="doc_id bigint, text string, __aid int",
                 name="acg_aid")
    with _pytest.raises(ValueError, match="__aid"):
        assign_clusters(d_aid, e, centroids=cents)


def _failed_call_leaves_no_cache(spark, monkeypatch, call, match="nope"):
    """Run ``call`` (which must raise mid-construction) and check that
    every frame it persisted was released: re-running each one must not
    fill a cache entry, so the persistent-RDD set ends where it began."""
    import pytest as _pytest

    cls = type(spark.range(1))   # the session's concrete DataFrame class
    persisted = []
    orig = cls.persist

    def spy(self, *a, **k):
        persisted.append(self)
        return orig(self, *a, **k)

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    monkeypatch.setattr(cls, "persist", spy)
    with _pytest.raises(Exception, match=match):
        call()
    monkeypatch.setattr(cls, "persist", orig)
    assert persisted, "the op failed before it persisted anything"
    for df in persisted:
        df.count()   # a leaked cache entry materializes here
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def _nope(*a, **k):
    raise RuntimeError("nope")


def _fail_lm(spark, monkeypatch, tmp_path, docs, emb):
    from blaze_spark.pipeline import ngram_lm_logprob

    # the self-fit frame is persisted before the model rejects smoothing
    return (lambda: ngram_lm_logprob(docs, n_buckets=64, smoothing=0.0),
            "smoothing must be > 0")


def _fail_pack(spark, monkeypatch, tmp_path, docs, emb):
    from blaze_spark.pipeline import pack_sequences, packing

    monkeypatch.setattr(packing, "local_frame", _nope)  # after the totals
    return lambda: pack_sequences(docs, budget=500, partitions=2), "nope"


def _fail_neardup(spark, monkeypatch, tmp_path, docs, emb):
    from blaze_spark.pipeline import embedding_neardup_pairs, similarity

    monkeypatch.setattr(similarity, "lsh_auto_params", _nope)  # sizing
    return lambda: embedding_neardup_pairs(emb, threshold=0.9), "nope"


def _fail_ingest(spark, monkeypatch, tmp_path, docs, emb):
    from blaze_spark.streaming.incremental_dedup import process_batch

    writer = type(spark.range(1).write)
    monkeypatch.setattr(writer, "parquet", _nope)  # the pairs sink write
    return lambda: process_batch(docs, str(tmp_path / "store")), "nope"


def _fail_kmeans(spark, monkeypatch, tmp_path, docs, emb):
    from blaze_spark.pipeline.ivf import kmeans_fit

    monkeypatch.setattr(type(emb.df), "collect", _nope)  # the Lloyd loop
    return lambda: kmeans_fit(emb, k=4, iters=2), "nope"


def _fail_trainer(spark, monkeypatch, tmp_path, docs, emb):
    from blaze_spark.pipeline import selection, train_quality_classifier

    # the first epoch's update, after its gradient job read the cache
    monkeypatch.setattr(selection, "_round_half_away", _nope)
    return (lambda: train_quality_classifier(
        docs, "doc_id % 2 = 0", n_buckets=64, epochs=2), "nope")


@pytest.mark.parametrize("case", [
    _fail_lm, _fail_pack, _fail_neardup, _fail_ingest, _fail_kmeans,
    _fail_trainer], ids=["ngram_lm_logprob", "pack_sequences",
                         "embedding_neardup_pairs", "incremental_ingest",
                         "kmeans_fit", "train_quality_classifier"])
def test_failed_call_leaves_no_cache(spark, monkeypatch, tmp_path, docs,
                                     emb, case):
    """A failure after an operator's persist — in its owned_cache
    block, a construction scope or a result scope alike — leaves no
    persisted frame behind."""
    call, match = case(spark, monkeypatch, tmp_path, docs, emb)
    _failed_call_leaves_no_cache(spark, monkeypatch, call, match)


def test_semantic_dedup_failure_releases_its_cache(spark, monkeypatch):
    """A failure after the tagged-corpus persist (a bad id column)
    leaves no persisted frame behind."""
    import numpy as np

    from blaze_spark import data
    from blaze_spark.pipeline import semantic_dedup

    t = data([(i, [1.0, float(i % 3), 0.0]) for i in range(8)],
             spark=spark, schema="vec_id long, embedding array<double>",
             name="sd_leak")
    cents = np.eye(3, dtype=np.float32)
    _failed_call_leaves_no_cache(spark, monkeypatch, lambda: semantic_dedup(
        t, threshold=0.99, centroids=cents, id_col="nope"))


def test_assign_clusters_failure_releases_its_cache(spark, monkeypatch):
    """A failure after the (id, cell) persist (a bad doc id column)
    leaves no persisted frame behind."""
    import numpy as np

    from blaze_spark import data
    from blaze_spark.pipeline import assign_clusters

    d = data([(i, "t") for i in range(4)], spark=spark,
             schema="doc_id bigint, text string", name="ac_leak_docs")
    e = data([(i, [1.0, 0.0]) for i in range(4)], spark=spark,
             schema="vec_id bigint, embedding array<float>",
             name="ac_leak_vecs")
    cents = np.eye(2, dtype=np.float32)
    _failed_call_leaves_no_cache(spark, monkeypatch, lambda: assign_clusters(
        d, e, centroids=cents, doc_id_col="nope"))


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003) — r15


def _ref_winnow(text: str, k: int, w: int) -> set:
    """Pure-Python winnowing twin: leftmost-min per window over the
    family's md5-first-8-hex gram hashes."""
    import hashlib

    toks = text.lower().split()
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
    lim = 1 << 20
    out = set()
    for j in range(len(hs) - w + 1):
        m = min(hs[j + o] * lim + (j + o) for o in range(w))
        out.add((m % lim, m // lim))
    return out


def test_winnow_matches_reference(spark):
    """Selected (pos, hash) sets equal the from-first-principles Python
    twin on varied texts; sub-(w+k-1) docs select nothing."""
    from blaze_spark import data
    from blaze_spark.pipeline import winnow_fingerprints

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "pack my box with five dozen liquor jugs very quickly today"),
        (2, "the the the the the the the the"),          # degenerate ties
        (3, "too short"),                                 # < w+k-1
    ]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="win_docs")
    got = {}
    for r in winnow_fingerprints(t, k=3, w=4).df.collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.gram_hash))
    for d, txt in rows:
        assert got.get(d, set()) == _ref_winnow(txt, 3, 4), d


def test_winnow_detection_guarantee(spark):
    """The paper's theorem, pinned: a shared token run of length
    >= w+k-1 always yields a shared fingerprint (and a candidate
    pair); below-k overlaps never do."""
    from blaze_spark import Table, data
    from blaze_spark.pipeline import winnow_candidates

    shared = "alpha beta gamma delta epsilon zeta"      # 6 = w+k-1
    rows = [
        (0, "one two three " + shared + " four five six"),
        (1, "seven eight " + shared + " nine ten"),
        # only a k-1 = 2-token overlap with doc 0 -> must NOT pair
        (2, "one two eleven twelve thirteen fourteen fifteen sixteen"),
    ]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="win_g")
    pairs = {(r.doc_a, r.doc_b)
             for r in winnow_candidates(t, k=3, w=4,
                                        min_shared=1).df.collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs
    # partitioning invariance
    shuf = Table(t.df.repartition(7), "win_g_r")
    assert {(r.doc_a, r.doc_b) for r in winnow_candidates(
        shuf, k=3, w=4, min_shared=1).df.collect()} == pairs


def test_winnow_candidates_hot_bucket_and_guards(spark):
    """Corpus-common fingerprints blacklist before the bucket gather;
    guard matrix."""
    import pytest

    from blaze_spark import data
    from blaze_spark.pipeline import winnow_candidates, winnow_fingerprints

    boiler = "this boilerplate footer text repeats on every single page here"
    rows = [(i, f"unique{i} words{i} " + boiler) for i in range(8)]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="win_hot")
    # every pair shares the boilerplate; max_bucket=4 < 8 docs kills
    # those buckets, so only fingerprints surviving the blacklist pair
    few = winnow_candidates(t, k=3, w=4, min_shared=1, max_bucket=4)
    assert few.df.count() == 0
    many = winnow_candidates(t, k=3, w=4, min_shared=1, max_bucket=100)
    assert many.df.count() == 8 * 7 // 2
    with pytest.raises(ValueError, match="k must be"):
        winnow_fingerprints(t, k=0)
    with pytest.raises(ValueError, match="w must be"):
        winnow_fingerprints(t, w=0)
    with pytest.raises(ValueError, match="min_shared"):
        winnow_candidates(t, min_shared=0)
    with pytest.raises(ValueError, match="max_bucket"):
        winnow_candidates(t, max_bucket=1)


def test_winnow_over_wire(spark):
    """Both winnow ops serialize as unary sweep nodes (md5 hashes are
    portable, unlike the xxhash64 generators): remote == local over
    real HTTP; unknown keywords reject loudly."""
    import pytest

    from blaze_spark import data
    from blaze_spark.interop import from_tree
    from blaze_spark.pipeline import winnow_candidates, winnow_fingerprints
    from blaze_spark.server import BlazeSparkServer

    rows = [(0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "iota kappa alpha beta gamma delta epsilon zeta nu")]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="win_wire")
    srv = BlazeSparkServer({"win_wire": t}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::win_wire", spark=spark)
        for fn, kw in ((winnow_fingerprints, {"k": 3, "w": 4}),
                       (winnow_candidates,
                        {"k": 3, "w": 4, "min_shared": 1})):
            r = fn(rt, **kw)
            got = sorted(map(tuple, spark.createDataFrame(
                r.compute(), schema=r.df.schema).collect()))
            want = sorted(map(tuple, fn(t, **kw).df.collect()))
            assert got == want and got, fn.__name__
    finally:
        srv.stop()
    bad = {"op": "winnow_fingerprints",
           "args": [{"op": "symbol", "args": ["win_wire"]},
                    {"k": 3, "evil": 1}]}
    with pytest.raises(ValueError, match="unknown keyword|unexpected"):
        from_tree(bad, spark=spark, datasets={"win_wire": t},
                  allow_data_uris=False)
