"""Bloom-filter membership prefilters (pipeline/bloom.py): the
zero-false-negative contract through the full pack/probe round trip,
measured FPR vs the analytic estimate, exact equality with
contamination_report when the filter is sized so FPs vanish, plan
hygiene (no shuffle on the probe side, the k probe joins reuse ONE
bloom build at runtime), and persistence."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from blaze_spark import data
from blaze_spark.pipeline import (
    BloomFilter,
    bloom_contains,
    bloom_contamination,
    build_bloom,
    build_ngram_bloom,
    expected_fpr,
    load_bloom,
    optimal_k,
    save_bloom,
)
from blaze_spark.pipeline.curation import contamination_report


@pytest.fixture(scope="module")
def refkeys(spark):
    return data([(i, f"key{i}") for i in range(500)], spark=spark,
                schema="i bigint, key string", name="refkeys")


def test_zero_false_negatives(spark, refkeys):
    bl = build_bloom(refkeys, "key", m_bits=1 << 14, k=5)
    got = bloom_contains(refkeys, bl, "key")
    assert got.filter(~F.col("bloom_hit")).count() == 0
    # and the packed relation is bounded by m/64
    assert bl.df.count() <= (1 << 14) // 64


def test_fpr_tracks_analytic(spark, refkeys):
    m, k, n = 1 << 12, 4, 500
    bl = build_bloom(refkeys, "key", m_bits=m, k=k)
    probe = data([(i, f"disjoint{i}") for i in range(5000)],
                 spark=spark, schema="i bigint, key string",
                 name="disjoint")
    fp = bloom_contains(probe, bl, "key") \
        .filter(F.col("bloom_hit")).count()
    est = expected_fpr(m, k, n)
    assert est * 0.25 <= fp / 5000.0 <= est * 3.0, (fp, est)


def test_contamination_matches_exact_when_oversized(spark):
    """With m sized so the analytic FPR is ~1e-12 at this scale, the
    bloom report must equal contamination_report ROW FOR ROW — the
    prefilter degrades to the exact operator as m grows."""
    docs = data([(1, "alpha beta gamma delta epsilon zeta"),
                 (2, "eta theta iota kappa lam mu"),
                 (3, "alpha beta gamma nine ten eleven"),
                 (4, "x y")],
                spark=spark, schema="doc_id bigint, text string",
                name="bc_docs")
    ref = data([(9, "alpha beta gamma delta")], spark=spark,
               schema="doc_id bigint, text string", name="bc_ref")
    bl = build_ngram_bloom(ref, n=3, m_bits=1 << 20, k=7)
    got = sorted(map(tuple,
                     bloom_contamination(docs, bl, n=3,
                                         threshold=0.3).collect()))
    want = sorted(map(tuple,
                      contamination_report(docs, ref, n=3,
                                           threshold=0.3).collect()))
    assert got == want and len(got) == 3  # doc 4 has no 3-gram


def test_null_and_missing_keys(spark):
    withnull = data([(1, "a"), (2, None)], spark=spark,
                    schema="i bigint, key string", name="bn")
    bl = build_bloom(withnull, "key", m_bits=1 << 10, k=3)
    got = {r["i"]: r["bloom_hit"]
           for r in bloom_contains(withnull, bl, "key").collect()}
    assert got[1] is True and got[2] is False
    with pytest.raises(ValueError, match="no column"):
        bloom_contains(withnull, bl, "nope")


def test_save_load_roundtrip(spark, refkeys, tmp_path):
    bl = build_bloom(refkeys, "key", m_bits=1 << 13, k=6)
    path = str(tmp_path / "bloom")
    save_bloom(bl, path)
    bl2 = load_bloom(spark, path)
    assert (bl2.m_bits, bl2.k) == (bl.m_bits, bl.k)
    assert sorted(map(tuple, bl2.df.collect())) == \
        sorted(map(tuple, bl.df.collect()))
    # a random parquet is not a bloom store
    refkeys.df.write.mode("overwrite").parquet(str(tmp_path / "not"))
    with pytest.raises(Exception):
        load_bloom(spark, str(tmp_path / "not"))


def test_validation(spark, refkeys):
    with pytest.raises(ValueError, match="m_bits"):
        build_bloom(refkeys, "key", m_bits=32)
    with pytest.raises(ValueError, match="m_bits"):
        build_bloom(refkeys, "key", m_bits=(1 << 33) + 64)
    with pytest.raises(ValueError, match="k must"):
        build_bloom(refkeys, "key", k=0)
    with pytest.raises(ValueError, match="k must"):
        build_bloom(refkeys, "key", k=99)
    with pytest.raises(ValueError, match="word_idx"):
        BloomFilter(refkeys.df, 1 << 10, 3)
    with pytest.raises(TypeError, match="BloomFilter"):
        bloom_contains(refkeys, refkeys.df, "key")
    with pytest.raises(ValueError, match="n must"):
        build_ngram_bloom(refkeys, n=0, text_col="key")


def test_probe_plan_no_shuffle_one_build(spark, refkeys):
    """The corpus side of a probe never shuffles (broadcast-hash
    joins only), and at runtime AQE reuses ONE bloom build across the
    k probe joins (ReusedExchange), so a persisted bloom broadcasts
    once per stage regardless of k."""
    k = 5
    bl = build_bloom(refkeys, "key", m_bits=1 << 14, k=k)
    out = bloom_contains(refkeys, bl, "key")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("ReusedExchange") >= k - 2


def test_sizing_math():
    assert optimal_k(1 << 13, 500) == min(16, round(
        (1 << 13) / 500 * math.log(2)))
    assert optimal_k(1 << 10, 0) == 1
    assert expected_fpr(1 << 20, 7, 0) == 0.0
    # 10 bits/item at k=7 is the classic ~1% point
    assert 0.005 < expected_fpr(10_000, 7, 1_000) < 0.02


# ---------------------------------------------------------------------------
# Incremental bloom store (streaming/incremental_bloom.py): blooms are
# OR-additive — the union filter of the batches equals the one-shot
# build exactly — with the signature-store discipline (exactly-once
# replays, complete-only reads, geometry stamp, compaction).

def test_incremental_bloom_store_matches_batch_build(spark, tmp_path):
    import os

    from blaze_spark.streaming.incremental_bloom import (
        compact_bloom_store, ingest_bloom_batch, read_bloom)

    store = str(tmp_path / "bloom_store")
    rows = [(i, f"key{i}") for i in range(30)]
    batches = [rows[:10], rows[10:20], rows[20:]]
    for bid, part in enumerate(batches):
        b = data(part, spark=spark, schema="i bigint, key string",
                 name=f"bb{bid}")
        ingest_bloom_batch(b, store, key_col="key", m_bits=1 << 12,
                           k=4, batch_id=bid)

    full = data(rows, spark=spark, schema="i bigint, key string",
                name="bbfull")
    direct = build_bloom(full, "key", m_bits=1 << 12, k=4)
    via = read_bloom(spark, store, m_bits=1 << 12, k=4)
    assert sorted(map(tuple, via.df.collect())) == \
        sorted(map(tuple, direct.df.collect()))
    # zero false negatives through the store path
    hits = bloom_contains(full, via, "key")
    assert hits.filter(~F.col("bloom_hit")).count() == 0

    # geometry / mode mismatches fail loudly
    with pytest.raises(ValueError, match="filter geometry"):
        read_bloom(spark, store, m_bits=1 << 13, k=4)
    with pytest.raises(ValueError, match="filter geometry"):
        read_bloom(spark, store, m_bits=1 << 12, k=4, n=2)
    b = data(rows[:3], spark=spark, schema="i bigint, key string",
             name="bbx")
    with pytest.raises(ValueError, match="filter geometry"):
        ingest_bloom_batch(b, store, n=2, text_col="key",
                           m_bits=1 << 12, k=4)
    with pytest.raises(ValueError, match="exactly one"):
        ingest_bloom_batch(b, store, m_bits=1 << 12, k=4)
    with pytest.raises(ValueError, match="exactly one"):
        ingest_bloom_batch(b, store, key_col="key", n=2,
                           m_bits=1 << 12, k=4)

    # a crashed (_SUCCESS-less) ingest is never OR-merged
    os.remove(os.path.join(store, "ingest=2", "_SUCCESS"))
    partial = data(rows[:20], spark=spark,
                   schema="i bigint, key string", name="bbp")
    direct2 = build_bloom(partial, "key", m_bits=1 << 12, k=4)
    got2 = read_bloom(spark, store, m_bits=1 << 12, k=4)
    assert sorted(map(tuple, got2.df.collect())) == \
        sorted(map(tuple, direct2.df.collect()))

    # compaction preserves the readable filter
    compact_bloom_store(spark, store)
    got3 = read_bloom(spark, store, m_bits=1 << 12, k=4)
    assert sorted(map(tuple, got3.df.collect())) == \
        sorted(map(tuple, direct2.df.collect()))


def test_bloom_store_read_declares_the_write_schema(spark, tmp_path):
    """read_bloom declares the (word_idx, bits) schema its ingests
    wrote instead of inferring it: no Spark job at read time, and the
    same rows as an inferred read, on a fresh store and on a compacted
    one."""
    import os
    import uuid

    from blaze_spark.streaming.incremental_bloom import (
        compact_bloom_store, ingest_bloom_batch, read_bloom)

    store = str(tmp_path / "bloom_declared")
    rows = [(i, f"key{i}") for i in range(20)]
    for bid, part in enumerate([rows[:10], rows[10:]]):
        b = data(part, spark=spark, schema="i bigint, key string",
                 name=f"bd{bid}")
        ingest_bloom_batch(b, store, key_col="key", m_bits=1 << 12,
                           k=4, batch_id=bid)

    def inferred():
        return sorted(map(tuple, (
            spark.read.option("basePath", store).parquet(
                *[f"{store}/{c}" for c in sorted(os.listdir(store))
                  if c.startswith("ingest=")])
            .drop("ingest").groupBy("word_idx")
            .agg(F.bit_or("bits").alias("bits")).collect())))

    def declared():
        sc = spark.sparkContext
        group = f"bloom-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "bloom store read")
        try:
            bl = read_bloom(spark, store, m_bits=1 << 12, k=4)
        finally:
            sc.setJobGroup(None, None)
        assert not sc.statusTracker().getJobIdsForGroup(group)
        return sorted(map(tuple, bl.df.collect()))

    assert declared() == inferred()
    compact_bloom_store(spark, store)
    assert declared() == inferred()


def test_incremental_bloom_streaming_and_empty(spark, tmp_path,
                                               sf_dir):
    from blaze_spark.streaming import stream_data
    from blaze_spark.streaming.incremental_bloom import (
        incremental_bloom, read_bloom)

    store = str(tmp_path / "bloom_stream")
    with pytest.raises(ValueError, match="no complete ingests"):
        read_bloom(spark, store, m_bits=1 << 14, k=5, n=3)
    q = incremental_bloom(
        stream_data(spark, f"{sf_dir}/documents.parquet"), store,
        str(tmp_path / "ckpt_bloom"), n=3, m_bits=1 << 14, k=5)
    q.awaitTermination(120)
    from blaze_spark import data as _data
    docs = _data(f"{sf_dir}/documents.parquet", spark=spark,
                 name="documents")
    direct = build_ngram_bloom(docs, n=3, m_bits=1 << 14, k=5)
    via = read_bloom(spark, store, m_bits=1 << 14, k=5, n=3)
    assert sorted(map(tuple, via.df.collect())) == \
        sorted(map(tuple, direct.df.collect()))


def test_two_phase_exact_for_any_geometry(spark):
    """The two-phase composite returns contamination_report's EXACT
    output even with a deliberately undersized, high-FPR filter —
    false positives only add phase-2 work, never wrong rows — and
    with a prebuilt bloom=."""
    from blaze_spark.pipeline import (bloom_two_phase_contamination,
                                      build_ngram_bloom)

    docs = data([(i, f"alpha beta gamma tok{i} tok{i+1} tok{i+2}")
                 for i in range(40)], spark=spark,
                schema="doc_id bigint, text string", name="tp_docs")
    ref = data([(900, "alpha beta gamma"),
                (901, "tok5 tok6 tok7 tok8")], spark=spark,
               schema="doc_id bigint, text string", name="tp_ref")
    want = sorted(map(tuple, contamination_report(
        docs, ref, n=3, threshold=0.3).collect()))
    assert any(r[4] == 1 for r in want)     # overlap actually planted
    for m_bits, k in ((64, 2), (1 << 20, 7)):
        got = sorted(map(tuple, bloom_two_phase_contamination(
            docs, ref, n=3, threshold=0.3, m_bits=m_bits,
            k=k).collect()))
        assert got == want, (m_bits, k)
    bl = build_ngram_bloom(ref, n=3, m_bits=1 << 12, k=3)
    got2 = sorted(map(tuple, bloom_two_phase_contamination(
        docs, ref, n=3, threshold=0.3, bloom=bl).collect()))
    assert got2 == want


def test_size_for_targets_fpr():
    from blaze_spark.pipeline import size_for

    m, k = size_for(1_000, 0.01)
    assert m % 64 == 0
    # achieved fpr is at or below target (rounded-up m, optimal k)
    assert expected_fpr(m, k, 1_000) <= 0.011
    # and not absurdly oversized (within 2x of the textbook bits)
    assert m <= 2 * int(-1_000 * math.log(0.01) / math.log(2) ** 2)
    with pytest.raises(ValueError, match="broadcast ceiling"):
        size_for(10**10, 1e-6)
    with pytest.raises(ValueError, match="fpr"):
        size_for(100, 1.5)
    with pytest.raises(ValueError, match="n_items"):
        size_for(0, 0.01)
