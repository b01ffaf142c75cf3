"""Structured Streaming surface tests: file stream -> windowed aggs ->
memory sink with availableNow; results asserted against the equivalent
batch computation (differential scheme, SURVEY.md §5)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from blaze_spark.streaming import stream_data


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return stream_data(spark, f"{sf_dir}/events.parquet")


def test_stream_tumbling_window_matches_batch(spark, sf_dir, events_stream):
    st = (events_stream
          .with_watermark("ts", "1 hour")
          .by_window("ts", "6 hours",
                     n=F.count(F.lit(1)),
                     total=F.round(F.sum("value"), 4)))
    st.to_memory("tumbling6h")
    got = spark.table("tumbling6h").select(
        F.col("window.start").alias("ws"), "n", "total").toPandas()

    from blaze_spark import data

    batch = data(f"{sf_dir}/events.parquet", spark=spark).df \
        .groupBy(F.window("ts", "6 hours")).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total")) \
        .select(F.col("window.start").alias("ws"), "n", "total").toPandas()

    g = got.sort_values("ws").reset_index(drop=True)
    b = batch.sort_values("ws").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, b)


def test_stream_sliding_window(spark, events_stream):
    st = events_stream.by_window("ts", "12 hours", slide="6 hours",
                                 n=F.count(F.lit(1)))
    st.to_memory("sliding12h")
    out = spark.table("sliding12h").toPandas()
    assert len(out) > 0
    assert out.n.sum() > 0


def test_stream_session_window(spark, events_stream):
    st = (events_stream
          .with_watermark("ts", "1 hour")
          .by_session("ts", "30 minutes", extra_keys=["user_id"],
                      n=F.count(F.lit(1))))
    st.to_memory("sessions", output_mode="append")
    out = spark.table("sessions").toPandas()
    assert len(out) > 0
    assert (out.n >= 1).all()


def test_stream_filter_transform_project(spark, events_stream):
    st = events_stream[events_stream.event_type == "purchase"]
    st = st.transform(v2=F.round(F.col("value") * 2, 4))
    agg = st.by_window("ts", "24 hours", total_v2=F.sum("v2"))
    agg.to_memory("purchases")
    out = spark.table("purchases").toPandas()
    assert len(out) > 0


def test_stateful_apply_running_count(spark, events_stream):
    """applyInPandasWithState: per-user running event count."""
    import pandas as pd

    def running_count(key, pdf_iter, state):
        count = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

    limited = events_stream[events_stream.user_id <= 10]
    st = limited.stateful_apply(
        ["user_id"], running_count,
        state_schema="n long", output_schema="user_id long, n_events long")
    st.to_memory("running_counts", output_mode="update")
    got = spark.table("running_counts").toPandas()
    assert len(got) > 0
    assert set(got.columns) == {"user_id", "n_events"}
    assert (got.n_events >= 1).all()


def test_stream_parquet_sink(spark, sf_dir, tmp_path):
    st = stream_data(spark, f"{sf_dir}/events.parquet")
    flt = st[st.event_type == "error"]
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    flt.to_parquet(out_dir, ck)
    written = spark.read.parquet(out_dir)
    from blaze_spark import data

    expected = data(f"{sf_dir}/events.parquet", spark=spark)
    expected_n = expected[expected.event_type == "error"].nrows()
    assert written.count() == expected_n


def test_stream_static_join(spark, sf_dir, events_stream):
    from blaze_spark import by, data

    # each micro-batch joins against a small static dimension table
    dim = data([("click", 1), ("view", 0), ("purchase", 10),
                ("signup", 5), ("error", -1)],
               spark=spark, schema="etype string, weight int")
    j = events_stream.join_static(dim, "event_type", "etype")
    agg = j.by_window("ts", "24 hours",
                      score=F.sum(F.col("weight")))
    agg.to_memory("scored")
    out = spark.table("scored").toPandas()
    assert len(out) > 0


def test_streaming_dedup_within_watermark(spark, sf_dir, events_stream):
    st = (events_stream
          .with_watermark("ts", "2 hours")
          .drop_duplicates_within_watermark(["user_id", "event_type"]))
    agg = st.by_window("ts", "24 hours", n=F.count(F.lit(1)))
    agg.to_memory("deduped", output_mode="append")
    out = spark.table("deduped").toPandas()
    assert len(out) >= 0  # runs end-to-end; dedup specifics data-dependent


def test_incremental_minhash_dedup_batches(spark, tmp_path):
    """Cross-batch near-dup found via the signature store; in-batch pair
    found via bucket pairing; unrelated docs produce no pairs."""
    from blaze_spark import data
    from blaze_spark.streaming.incremental_dedup import process_batch

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest tonight " * 3)
    store = str(tmp_path / "store")
    b1 = data([(1, base), (2, "completely different words " * 10)],
              spark=spark, schema="doc_id long, text string", name="b1")
    p1 = process_batch(b1, store)
    assert p1.count() == 0  # no dups inside batch 1

    near = base.replace("tonight", "today")  # near-dup of doc 1
    b2 = data([(3, near), (4, near), (5, "unrelated corpus text " * 12)],
              spark=spark, schema="doc_id long, text string", name="b2")
    p2 = process_batch(b2, store)
    got = {(r.new_doc, r.matched_doc) for r in p2.collect()}
    assert (3, 1) in got  # cross-batch, via store probe
    assert (4, 1) in got
    assert (4, 3) in got  # in-batch pair
    assert all(a != 5 and b != 5 for a, b in got)

    # batch 3 sees docs from BOTH earlier batches in the store
    b3 = data([(6, base)], spark=spark,
              schema="doc_id long, text string", name="b3")
    p3 = process_batch(b3, store)
    matched = {r.matched_doc for r in p3.collect()}
    assert {1, 3, 4} <= matched


def test_incremental_dedup_streaming_wrapper(spark, tmp_path):
    """foreachBatch wiring: run the streaming form over a file source."""
    import time

    from blaze_spark.streaming import stream_data
    from blaze_spark.streaming.incremental_dedup import (
        incremental_minhash_dedup)

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    dup = "all work and no play makes jack a dull boy " * 8
    pdf = pd.DataFrame({"doc_id": [10, 11, 12],
                        "text": [dup, dup, "something else entirely " * 9]})
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pandas(pdf), src_dir / "part0.parquet")

    st = stream_data(spark, str(src_dir), fmt="parquet",
                     schema="doc_id long, text string")
    q = incremental_minhash_dedup(
        st, str(tmp_path / "store2"), str(tmp_path / "ckpt"),
        str(tmp_path / "pairs"))
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            import os
            found_file = any(
                f.endswith(".parquet")
                for _, _, fs in os.walk(tmp_path / "pairs") for f in fs)
            if found_file:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    pairs = spark.read.parquet(str(tmp_path / "pairs"))
    got = {(r.new_doc, r.matched_doc) for r in pairs.collect()}
    assert (11, 10) in got


def test_compact_store(spark, tmp_path):
    """Compaction shrinks file count; probe results unchanged."""
    import os
    from blaze_spark import data
    from blaze_spark.streaming.incremental_dedup import (
        compact_store, process_batch)

    store = str(tmp_path / "store_c")
    text = "many identical words flowing through the pipeline " * 6
    for bid in range(3):  # 3 appends -> many small files
        b = data([(bid * 10, text + f" tail{bid}")], spark=spark,
                 schema="doc_id long, text string", name=f"cb{bid}")
        process_batch(b, store)
    def pq_files(p):
        return [os.path.join(dp, f) for dp, _, fs in os.walk(p)
                for f in fs if f.endswith(".parquet")]
    before = len(pq_files(store))
    rows_before = spark.read.parquet(store).count()
    compact_store(spark, store)
    assert len(pq_files(store)) < before
    assert spark.read.parquet(store).count() == rows_before
    # the compacted store still answers probes
    b = data([(99, text + " tail0")], spark=spark,
             schema="doc_id long, text string", name="cb9")
    found = process_batch(b, store)
    assert found.count() >= 1


def test_compact_store_file_uri_generic_path(spark, tmp_path):
    """r9 (VERDICT r8 #8): compaction swaps through the Hadoop FS API,
    so a file:// URI store (which the old os-level renames would have
    mangled) compacts through the same generic path HDFS would take,
    carrying the _SIG_FORMAT marker across the swap and leaving no
    temp/old directories behind."""
    from blaze_spark import data
    from blaze_spark.streaming.incremental_dedup import (
        compact_store, process_batch)

    local = tmp_path / "store_u"
    store = "file://" + str(local)
    text = "many identical words flowing through the pipeline " * 6
    for bid in range(2):
        b = data([(bid * 10, text + f" tail{bid}")], spark=spark,
                 schema="doc_id long, text string", name=f"ub{bid}")
        process_batch(b, store)
    assert (local / "_SIG_FORMAT").exists()
    rows_before = spark.read.parquet(store).count()
    compact_store(spark, store)
    assert (local / "_SIG_FORMAT").exists()   # marker survived the swap
    assert not (tmp_path / "store_u.__compact_tmp").exists()
    assert not (tmp_path / "store_u.__compact_old").exists()
    assert spark.read.parquet(store).count() == rows_before
    b = data([(99, text + " tail0")], spark=spark,
             schema="doc_id long, text string", name="ub9")
    assert process_batch(b, store).count() >= 1


def test_compact_store_gatewayless_local_fallback(spark, tmp_path,
                                                  monkeypatch):
    """r9 review: on a gateway-less (Spark Connect) session the fs_*
    helpers raise — a LOCAL store must then compact through the os-level
    swap (the pre-r9 path) instead of crashing mid-function, and a
    remote store must refuse cleanly."""
    from blaze_spark import data
    from blaze_spark.streaming import incremental_dedup as inc

    store = str(tmp_path / "store_g")
    text = "many identical words flowing through the pipeline " * 6
    for bid in range(2):
        b = data([(bid * 10, text + f" tail{bid}")], spark=spark,
                 schema="doc_id long, text string", name=f"gb{bid}")
        inc.process_batch(b, store)
    rows_before = spark.read.parquet(store).count()

    def _no_gateway(*a, **k):
        raise AttributeError("no JVM gateway (Connect)")

    import blaze_spark.fsutil as fsutil
    monkeypatch.setattr(fsutil, "hadoop_fs", _no_gateway)
    inc.compact_store(spark, store)
    assert spark.read.parquet(store).count() == rows_before
    with pytest.raises(NotImplementedError, match="Connect"):
        inc.compact_store(spark, "hdfs://nn/dedup_store")


def test_compact_store_skips_incomplete_ingests(spark, tmp_path):
    """ADVICE r9 (medium): compaction reads ONLY _SUCCESS-complete
    ingests and keeps max(complete) — a crashed batch's half-written
    directory must not be laundered into complete state, and its
    checkpoint replay (same batch id) must not overwrite the compacted
    store."""
    import os
    import shutil

    from blaze_spark import data
    from blaze_spark.streaming.incremental_dedup import (
        compact_store, process_batch)

    store = str(tmp_path / "store_i")
    text = "many identical words flowing through the pipeline " * 6
    for bid in range(2):
        b = data([(bid * 10, text + f" tail{bid}")], spark=spark,
                 schema="doc_id long, text string", name=f"ib{bid}")
        process_batch(b, store)
    complete_rows = (spark.read.option("basePath", store)
                     .parquet(f"{store}/ingest=0", f"{store}/ingest=1")
                     .count())
    # fake a crashed batch WITH THE MAX ID: a copy of ingest=1 at
    # ingest=99, minus its _SUCCESS marker
    shutil.copytree(os.path.join(store, "ingest=1"),
                    os.path.join(store, "ingest=99"))
    os.remove(os.path.join(store, "ingest=99", "_SUCCESS"))

    compact_store(spark, store)
    # the partial rows were dropped, not laundered; keep == max(complete)
    assert sorted(d for d in os.listdir(store)
                  if d.startswith("ingest=")) == ["ingest=1"]
    assert spark.read.parquet(store).count() == complete_rows
    # the crashed batch's replay writes its own fresh directory — it
    # cannot collide with the compacted keep dir
    b = data([(990, text + " tail99")], spark=spark,
             schema="doc_id long, text string", name="ib99")
    process_batch(b, store, batch_id=99)
    assert sorted(d for d in os.listdir(store)
                  if d.startswith("ingest=")) == ["ingest=1", "ingest=99"]
    b2 = data([(991, text + " tail99")], spark=spark,
              schema="doc_id long, text string", name="ib99b")
    assert process_batch(b2, store).count() >= 1


def test_compact_store_manifest_path(spark, tmp_path):
    """VERDICT r9 #3: object stores (no atomic directory rename)
    compact by copy-then-repoint — rewrite into a new generation dir,
    flip the single-file _CURRENT manifest.  Forced down that path on a
    file:// store: generations advance, readers/writers resolve the
    manifest (probes answer, new batches land INSIDE the live
    generation), the _SIG_FORMAT stamp is carried, and the superseded
    generation is cleaned up."""
    from blaze_spark import data
    from blaze_spark.streaming.incremental_dedup import (
        compact_store, process_batch, resolve_store_root)

    local = tmp_path / "store_m"
    store = "file://" + str(local)
    text = "many identical words flowing through the pipeline " * 6
    for bid in range(2):
        b = data([(bid * 10, text + f" tail{bid}")], spark=spark,
                 schema="doc_id long, text string", name=f"mb{bid}")
        process_batch(b, store)
    rows_before = spark.read.parquet(store).count()

    compact_store(spark, store, strategy="manifest")
    assert (local / "_CURRENT").read_text().strip() == "gen-000001"
    assert (local / "gen-000001" / "_SIG_FORMAT").exists()
    assert (local / "gen-000001" / "ingest=1").exists()
    # superseded legacy ingest dirs are gone; resolution follows the flip
    assert not (local / "ingest=0").exists()
    assert resolve_store_root(spark, store).endswith("gen-000001")
    gen_store = spark.read.parquet(str(local / "gen-000001"))
    assert gen_store.count() == rows_before

    # a post-compaction batch probes AND writes the live generation
    b = data([(99, text + " tail0")], spark=spark,
             schema="doc_id long, text string", name="mb9")
    assert process_batch(b, store).count() >= 1
    assert (local / "gen-000001" / "ingest=2").exists()

    # second manifest compaction advances the generation and drops the old
    compact_store(spark, store, strategy="manifest")
    assert (local / "_CURRENT").read_text().strip() == "gen-000002"
    assert not (local / "gen-000001").exists()
    b = data([(100, text + " tail99")], spark=spark,
             schema="doc_id long, text string", name="mb10")
    assert process_batch(b, store).count() >= 1


def test_manifest_compaction_preserves_directory_marker(spark, tmp_path):
    """r10 review: a store stamped through the Spark-API text fallback
    (the Connect tier) carries its _SIG_FORMAT as a DIRECTORY of part
    files; manifest compaction must read and carry that content into
    the new generation — silently dropping the stamp would brick the
    store (next batch refuses a marker-less non-empty store)."""
    import os
    import shutil

    from blaze_spark import data
    from blaze_spark.streaming.incremental_dedup import (
        _SIG_FORMAT, compact_store, process_batch)

    store = str(tmp_path / "store_dm")
    text = "many identical words flowing through the pipeline " * 6
    for bid in range(2):
        b = data([(bid * 10, text + f" tail{bid}")], spark=spark,
                 schema="doc_id long, text string", name=f"dm{bid}")
        process_batch(b, store)
    # rewrite the marker as the Spark-API directory form
    marker = os.path.join(store, "_SIG_FORMAT")
    os.remove(marker)
    os.makedirs(marker)
    with open(os.path.join(marker, "part-00000"), "w") as fh:
        fh.write(_SIG_FORMAT + "\n")

    compact_store(spark, store, strategy="manifest")
    gen_marker = tmp_path / "store_dm" / "gen-000001" / "_SIG_FORMAT"
    assert gen_marker.is_file()
    assert gen_marker.read_text().strip() == _SIG_FORMAT
    b = data([(99, text + " tail0")], spark=spark,
             schema="doc_id long, text string", name="dm9")
    assert process_batch(b, store).count() >= 1


def test_incremental_counts_store_matches_batch_fit(spark, tmp_path):
    """r10: the streaming-native DSIR fit side — three batch ingests
    sum to EXACTLY the one-shot corpus fit, a crashed (_SUCCESS-less)
    ingest is excluded, and a feature-space mismatch fails loudly."""
    import os

    from blaze_spark import data
    from blaze_spark.pipeline import hashed_bucket_counts
    from blaze_spark.streaming.incremental_counts import (
        compact_counts_store, ingest_counts_batch, read_bucket_counts)

    store = str(tmp_path / "counts_store")
    rows = [(i, f"tok{i % 7} tok{i % 3} shared words here") for i in range(30)]
    batches = [rows[:10], rows[10:20], rows[20:]]
    for bid, part in enumerate(batches):
        b = data(part, spark=spark, schema="doc_id long, text string",
                 name=f"cb{bid}")
        ingest_counts_batch(b, store, n_buckets=256, batch_id=bid)

    full = data(rows, spark=spark, schema="doc_id long, text string",
                name="cbfull")
    expect = sorted(map(tuple,
                        hashed_bucket_counts(full, n_buckets=256).collect()))
    got = sorted(map(tuple,
                     read_bucket_counts(spark, store, n_buckets=256)
                     .collect()))
    assert got == expect

    # wrong feature space -> loud refusal (bucket ids don't transfer)
    with pytest.raises(ValueError, match="feature space"):
        read_bucket_counts(spark, store, n_buckets=512)
    b = data(rows[:3], spark=spark, schema="doc_id long, text string",
             name="cbx")
    with pytest.raises(ValueError, match="feature space"):
        ingest_counts_batch(b, store, n_buckets=256, n=2)

    # a crashed (incomplete) ingest is never counted
    os.remove(os.path.join(store, "ingest=2", "_SUCCESS"))
    partial = data(rows[:20], spark=spark,
                   schema="doc_id long, text string", name="cbp")
    expect2 = sorted(map(tuple,
                         hashed_bucket_counts(partial,
                                              n_buckets=256).collect()))
    got2 = sorted(map(tuple,
                      read_bucket_counts(spark, store, n_buckets=256)
                      .collect()))
    assert got2 == expect2

    # compaction (complete-only input) preserves the readable counts
    compact_counts_store(spark, store)
    got3 = sorted(map(tuple,
                      read_bucket_counts(spark, store, n_buckets=256)
                      .collect()))
    assert got3 == expect2
    assert not any(c.startswith("ingest=2")
                   for c in os.listdir(store) if c.startswith("ingest"))


def test_counts_store_reads_declare_the_write_schema(spark, tmp_path):
    """read_bucket_counts / read_lm_counts declare the schema their
    ingests wrote instead of inferring it: no Spark job at read time,
    and the same rows as an inferred read, on a fresh store and on a
    compacted one."""
    import os
    import uuid

    from blaze_spark import data
    from blaze_spark.streaming.incremental_counts import (
        compact_counts_store, ingest_counts_batch, ingest_lm_counts_batch,
        read_bucket_counts, read_lm_counts)

    rows = [(i, f"tok{i % 5} w{i % 3} shared words") for i in range(20)]
    flat, lm = str(tmp_path / "flat"), str(tmp_path / "lm")
    for bid, part in enumerate([rows[:10], rows[10:]]):
        b = data(part, spark=spark, schema="doc_id long, text string",
                 name=f"ws{bid}")
        ingest_counts_batch(b, flat, n_buckets=64, batch_id=bid)
        ingest_lm_counts_batch(b, lm, n_buckets=64, n=2, batch_id=bid,
                               unigrams=True)

    def inferred(store, keys):
        return sorted(map(tuple, (
            spark.read.option("basePath", store).parquet(
                *[f"{store}/{c}" for c in sorted(os.listdir(store))
                  if c.startswith("ingest=")])
            .drop("ingest").groupBy(*keys)
            .agg(F.sum("cnt").alias("cnt")).collect())))

    def declared(read, store, **kw):
        sc = spark.sparkContext
        group = f"counts-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counts store read")
        try:
            df = read(spark, store, n_buckets=64, **kw)
        finally:
            sc.setJobGroup(None, None)
        assert not sc.statusTracker().getJobIdsForGroup(group)
        return sorted(map(tuple, df.collect()))

    def check():
        assert declared(read_bucket_counts, flat) == \
            inferred(flat, ["bucket"])
        got = declared(read_lm_counts, lm, n=2, unigrams=True)
        assert got == inferred(lm, ["kind", "bucket"])
        assert {k for k, _, _ in got} >= {"gram", "ctx", "uni"}

    check()
    compact_counts_store(spark, flat)
    compact_counts_store(spark, lm)
    check()


def test_counts_store_read_survives_corrupt_crashed_ingest(spark,
                                                           tmp_path):
    """VERDICT r10 #2: ``read_bucket_counts`` must list the complete
    ingest directories EXPLICITLY — a crashed batch that died mid-write
    can leave a half-written parquet footer, and a root-wide read's
    schema inference may touch that file and fail the whole read even
    though partition pruning would have excluded its rows."""
    import os

    from blaze_spark import data
    from blaze_spark.pipeline import hashed_bucket_counts
    from blaze_spark.streaming.incremental_counts import (
        ingest_counts_batch, read_bucket_counts)

    store = str(tmp_path / "counts_store")
    rows = [(i, f"tok{i % 5} common words") for i in range(20)]
    for bid, part in enumerate([rows[:10], rows[10:]]):
        b = data(part, spark=spark, schema="doc_id long, text string",
                 name=f"cc{bid}")
        ingest_counts_batch(b, store, n_buckets=128, batch_id=bid)

    # the crash fixture: an ingest directory holding ONLY a truncated
    # parquet file, no _SUCCESS
    crashed = os.path.join(store, "ingest=7")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1 truncated mid-write, not a valid footer")

    full = data(rows, spark=spark, schema="doc_id long, text string",
                name="ccfull")
    expect = sorted(map(tuple,
                        hashed_bucket_counts(full, n_buckets=128)
                        .collect()))
    got = sorted(map(tuple,
                     read_bucket_counts(spark, store, n_buckets=128)
                     .collect()))
    assert got == expect


def test_incremental_counts_feed_dsir(spark, tmp_path, sf_dir):
    """The store's relation plugs straight into dsir_log_weights as
    raw_counts/target_counts and reproduces the direct fit exactly."""
    from blaze_spark import data
    from blaze_spark.pipeline import dsir_log_weights
    from blaze_spark.streaming.incremental_counts import (
        incremental_bucket_counts, read_bucket_counts)

    docs = data(f"{sf_dir}/documents.parquet", spark=spark,
                name="documents")
    target = docs[docs.source.isin(["src0", "src1"])]

    raw_store = str(tmp_path / "raw_counts")
    q = incremental_bucket_counts(
        stream_data(spark, f"{sf_dir}/documents.parquet"), raw_store,
        str(tmp_path / "ckpt_raw"), n_buckets=512)
    q.awaitTermination(120)

    direct = dsir_log_weights(docs, target, n_buckets=512)
    via_store = dsir_log_weights(
        docs, target, n_buckets=512,
        raw_counts=read_bucket_counts(spark, raw_store, n_buckets=512))
    assert sorted(map(tuple, via_store.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_streaming_dsir_pipeline_matches_one_shot(spark, sf_dir):
    """r11 (VERDICT r10 #6): the store-fed DSIR composite (3-batch
    counts ingests -> read_bucket_counts -> dsir_log_weights ->
    weighted_sample) selects EXACTLY the one-shot pipeline's documents
    with identical weights and ranking keys."""
    import __spark_entry__ as entry

    out = entry.streaming_dsir_pipeline(spark, sf_dir).collect()
    assert out
    assert all(r["match"] == 1 for r in out)


def test_compact_pq_store(spark, tmp_path):
    """VERDICT r9 #4: per-ingest compaction for the PQ code store —
    three ingests collapse to one complete keep dir with fewer files,
    read_pq_index answers bit-identically (same artifacts, same digest
    check), and the next default batch id keeps incrementing past
    keep.  Cell-partitioned and cell-less layouts both compact."""
    import os

    from blaze_spark import Table
    from blaze_spark.pipeline import pq_fit
    from blaze_spark.pipeline.ivf import kmeans_fit
    from blaze_spark.streaming.incremental_ann import (
        compact_pq_store, ingest_pq_batch, read_pq_index)

    from blaze_spark import data
    emb = data("/root/testdata/sf0.001/embeddings.parquet", spark=spark)
    cents = kmeans_fit(emb, k=4, iters=2)
    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)

    def pq_files(p):
        return [os.path.join(dp, f) for dp, _, fs in os.walk(p)
                for f in fs if f.endswith(".parquet")]

    store = str(tmp_path / "pq_store_c")
    for i in range(3):
        ingest_pq_batch(Table(emb.df.filter(f"vec_id % 3 == {i}")),
                        store, cb, cents, batch_id=i)
    before = {(r.vec_id, bytes(r.pq_code), r.cell) for r in
              read_pq_index(spark, store, cb, cents).df.collect()}
    files_before = len(pq_files(store))
    compact_pq_store(spark, store)
    assert sorted(d for d in os.listdir(store)
                  if d.startswith("ingest=")) == ["ingest=2"]
    after = {(r.vec_id, bytes(r.pq_code), r.cell) for r in
             read_pq_index(spark, store, cb, cents).df.collect()}
    assert after == before
    assert len(pq_files(store)) < files_before
    # default id allocation continues past keep
    ingest_pq_batch(Table(emb.df.filter("vec_id >= 990")), store, cb,
                    cents)
    assert (tmp_path / "pq_store_c" / "ingest=3").exists()

    # cell-less layout (no centroids): coalesce path, same contract
    store2 = str(tmp_path / "pq_store_flat")
    for i in range(3):
        ingest_pq_batch(Table(emb.df.filter(f"vec_id % 3 == {i}")),
                        store2, cb, batch_id=i)
    before2 = {(r.vec_id, bytes(r.pq_code)) for r in
               read_pq_index(spark, store2, cb).df.collect()}
    compact_pq_store(spark, store2)
    after2 = {(r.vec_id, bytes(r.pq_code)) for r in
              read_pq_index(spark, store2, cb).df.collect()}
    assert after2 == before2

    # manifest strategy works on the PQ layout too (shared engine)
    compact_pq_store(spark, store2, strategy="manifest")
    assert (tmp_path / "pq_store_flat" / "_CURRENT").exists()
    after3 = {(r.vec_id, bytes(r.pq_code)) for r in
              read_pq_index(spark, store2, cb).df.collect()}
    assert after3 == before2


def test_incremental_dedup_retry_is_idempotent(spark, tmp_path):
    """A foreachBatch RETRY (same batch_id) must overwrite, not duplicate,
    both the signature store and the emitted pairs (ADVICE r1)."""
    from blaze_spark import data
    from blaze_spark.streaming.incremental_dedup import process_batch

    store = str(tmp_path / "store_r")
    text = "rows of text that repeat through this entire document " * 6
    b0 = data([(1, text), (2, text + " coda")], spark=spark,
              schema="doc_id long, text string", name="rb0")
    p_first = process_batch(b0, store, batch_id=0)
    n_pairs_first = p_first.count()
    store_rows_first = spark.read.parquet(store).count()

    # replay the SAME batch id (simulated retry after failure)
    p_retry = process_batch(b0, store, batch_id=0)
    assert p_retry.count() == n_pairs_first
    assert spark.read.parquet(store).count() == store_rows_first

    # a genuinely new batch still sees batch-0 docs exactly once
    b1 = data([(3, text)], spark=spark,
              schema="doc_id long, text string", name="rb1")
    p1 = process_batch(b1, store, batch_id=1)
    matched = sorted((r.new_doc, r.matched_doc) for r in p1.collect())
    assert matched == [(3, 1), (3, 2)]


def test_incremental_dedup_pathological_batch_is_sink_backed(spark, tmp_path):
    """A batch whose buckets go quadratic (60 near-identical docs ->
    C(60,2)=1770 in-batch pairs) flows through the parquet sink, not
    driver memory: the returned DataFrame is file-backed."""
    from blaze_spark import data
    from blaze_spark.streaming.incremental_dedup import process_batch

    text = "identical boilerplate text shared by every document here " * 5
    docs = [(i, text) for i in range(60)]
    b = data(docs, spark=spark, schema="doc_id long, text string", name="pb")
    out = process_batch(b, str(tmp_path / "store_p"))
    assert out.count() == 60 * 59 // 2
    assert out.inputFiles()  # backed by the per-batch parquet sink


def test_stream_ntz_schema_normalized(spark, tmp_path):
    """Naive-timestamp parquet sniffs as TIMESTAMP_NTZ; stream_data must
    declare TimestampType so withWatermark accepts the event-time column
    (VERDICT r4 #1 — the batch fix alone left streaming dead)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sdir"
    d.mkdir()
    ts0 = datetime.datetime(2024, 5, 1, 0, 10, 0)
    pq.write_table(
        pa.table({"ts": pa.array([ts0, ts0.replace(hour=2)],
                                 pa.timestamp("us")),
                  "v": [1.0, 2.0]}), str(d / "p.parquet"))
    st = stream_data(spark, str(d))
    assert dict(st.df.dtypes)["ts"] == "timestamp"
    agg = (st.with_watermark("ts", "1 hour")
             .by_window("ts", "1 hour", n=F.count(F.lit(1))))
    agg.to_memory("ntz_stream_check")
    out = spark.table("ntz_stream_check").toPandas()
    assert out.n.sum() == 2


def test_incremental_store_sig_format_guard(spark, tmp_path):
    """r5 changed the shingle-hash function: signatures from a pre-r5
    store never match new ones, so probing would silently miss every
    cross-batch dup.  New stores get a _SIG_FORMAT stamp; a store with
    batches but the wrong/missing stamp fails loudly."""
    import pytest as _pytest

    from blaze_spark import Table
    from blaze_spark.streaming.incremental_dedup import (
        _SIG_FORMAT, process_batch)

    store = str(tmp_path / "store")
    batch = Table(spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "a completely different document about spark and parquet")],
        "doc_id long, text string"))
    process_batch(batch, store)
    marker = tmp_path / "store" / "_SIG_FORMAT"
    assert marker.read_text().strip() == _SIG_FORMAT

    # simulate a store written by a different signature format (drop the
    # Hadoop local-FS checksum shadow so the tampered marker stays readable)
    marker.write_text("1")
    (tmp_path / "store" / "._SIG_FORMAT.crc").unlink(missing_ok=True)
    with _pytest.raises(ValueError, match="signature format"):
        process_batch(batch, store, batch_id=1)

    # missing marker on a non-empty store (pre-r5) also fails loudly
    marker.unlink()
    with _pytest.raises(ValueError, match="_SIG_FORMAT"):
        process_batch(batch, store, batch_id=1)


def test_sig_format_guard_without_jvm_gateway(spark, tmp_path, monkeypatch):
    """ADVICE r5: on gateway-less sessions (Spark Connect) the guard must
    still stamp/check local stores via plain file IO, not silently no-op."""
    import pytest as _pytest

    import blaze_spark.fsutil as fsutil
    from blaze_spark.streaming import incremental_dedup as inc
    from blaze_spark.streaming.store import SIGNATURES, check_format

    def _no_gateway(spark, path):
        raise RuntimeError("no JVM gateway (Connect)")

    monkeypatch.setattr(fsutil, "hadoop_fs", _no_gateway)
    store = str(tmp_path / "store")

    def check(has_existing):
        check_format(spark, SIGNATURES, store, inc._SIG_FORMAT,
                     has_existing)

    # fresh store: stamped through the local-path fallback
    check(False)
    marker = tmp_path / "store" / "_SIG_FORMAT"
    assert marker.read_text().strip() == inc._SIG_FORMAT
    # matching stamp passes
    check(True)
    # mismatched stamp still fails loudly with no gateway
    marker.write_text("0")
    with _pytest.raises(ValueError, match="signature format"):
        check(True)
    # unmarked non-empty store fails loudly with no gateway
    marker.unlink()
    with _pytest.raises(ValueError, match="_SIG_FORMAT"):
        check(True)


def test_streaming_curation_gate_matches_batch(spark, sf_dir):
    """The curation projections (repetition signals, PII scrub, quality)
    are stateless Column exprs, so they compose with readStream
    unchanged: stream the documents, gate + scrub, and require the
    surviving doc_ids to equal the batch run's (differential scheme)."""
    from blaze_spark import data
    from blaze_spark.pipeline import pii_scrub, repetition_features
    from blaze_spark.streaming import StreamTable

    def curate(t):
        t = repetition_features(t)
        t = t[(t.dup_token_frac <= 0.7) & (t.n_tokens >= 10)]
        return pii_scrub(t)[["doc_id", "n_tokens", "clean_text"]]

    st = stream_data(spark, f"{sf_dir}/documents.parquet")
    out = curate(st)
    StreamTable(out.df).to_memory("curated_stream", output_mode="append")
    got = spark.table("curated_stream").toPandas()

    batch = curate(
        data(f"{sf_dir}/documents.parquet", spark=spark, name="documents")
    ).df.toPandas()
    assert sorted(got.doc_id) == sorted(batch.doc_id)
    assert got.n_tokens.sum() == batch.n_tokens.sum()
    assert len(got) > 0


def test_streaming_quality_classifier_matches_batch(spark, sf_dir):
    """Model-based quality scoring on a stream: the literal-map path of
    selection.quality_classifier is ONE stateless projection, so it
    composes with readStream unchanged — scores and keep decisions on
    the streamed corpus must equal the batch run byte-for-byte (exact
    LONG scores, no float in the decision)."""
    import hashlib

    from blaze_spark import data
    from blaze_spark.pipeline import quality_classifier
    from blaze_spark.streaming import StreamTable

    wts = spark.createDataFrame(
        [(int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 4096, m)
         for w, m in [("the", 10), ("a", 10), ("slow", -15)]],
        "bucket long, weight_milli long")

    st = stream_data(spark, f"{sf_dir}/documents.parquet")
    out = quality_classifier(st, wts, intercept_milli=-20,
                             threshold_milli=-20)
    StreamTable(out).to_memory("qc_stream", output_mode="append")
    got = spark.table("qc_stream").toPandas()

    batch = quality_classifier(
        data(f"{sf_dir}/documents.parquet", spark=spark, name="documents"),
        wts, intercept_milli=-20, threshold_milli=-20).toPandas()
    key = ["doc_id", "n_tokens", "score_milli", "keep"]
    assert sorted(map(tuple, got[key].itertuples(index=False))) == \
        sorted(map(tuple, batch[key].itertuples(index=False)))
    assert got.keep.nunique() == 2  # both classes present — non-vacuous


def test_streaming_dsir_scoring_matches_batch(spark, sf_dir):
    """DSIR scoring on a stream: with PRECOMPUTED corpus counts (the
    100 TB form — fit once per snapshot), the literal-map scoring fold
    is ONE STATELESS projection, so it composes with readStream in
    plain append mode — no aggregation state at all — and must match
    the batch scores exactly."""
    from blaze_spark import data
    from blaze_spark.pipeline import dsir_log_weights, hashed_bucket_counts
    from blaze_spark.streaming import StreamTable

    docs = data(f"{sf_dir}/documents.parquet", spark=spark,
                name="documents")
    target = docs[docs.source.isin(["src0", "src1"])]
    raw_counts = hashed_bucket_counts(docs, n_buckets=512).cache()
    tgt_counts = hashed_bucket_counts(target, n_buckets=512).cache()

    st = stream_data(spark, f"{sf_dir}/documents.parquet")
    out = dsir_log_weights(st, n_buckets=512, raw_counts=raw_counts,
                           target_counts=tgt_counts)
    StreamTable(out).to_memory("dsir_stream", output_mode="append")
    got = spark.table("dsir_stream").toPandas()

    batch = dsir_log_weights(docs, n_buckets=512, raw_counts=raw_counts,
                             target_counts=tgt_counts).toPandas()
    key = ["doc_id", "n_tokens", "logw"]
    assert sorted(map(tuple, got[key].itertuples(index=False))) == \
        sorted(map(tuple, batch[key].itertuples(index=False)))
    assert len(got) > 0 and got.logw.nunique() > 1


def test_streaming_contamination_probe_static_broadcast(spark, sf_dir):
    """Decontamination on a stream: the benchmark n-gram set is a STATIC
    broadcast relation (stream-static join), so the streaming corpus scan
    needs no stream-stream state; per-doc counts aggregate in complete
    mode.  Matches the batch contamination_report on the same split."""
    from blaze_spark import Table, data
    from blaze_spark.pipeline import contamination_report
    from blaze_spark.pipeline.curation import ngram_array
    from blaze_spark.streaming import StreamTable

    docs = data(f"{sf_dir}/documents.parquet", spark=spark,
                name="documents")
    test = Table(docs.df.filter(F.col("doc_id") % 10 == 0), "test")
    test_grams = (test.df.select(
        F.explode(F.array_distinct(
            ngram_array(F.col("text"), 3))).alias("ngram"))
        .distinct().withColumn("hit", F.lit(1)))

    st = stream_data(spark, f"{sf_dir}/documents.parquet")
    train_ng = st.df.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.explode(F.array_distinct(
            ngram_array(F.col("text"), 3))).alias("ngram"))
    hits = train_ng.join(F.broadcast(test_grams), "ngram", "left")
    rep = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"))
    StreamTable(rep).to_memory("contam_stream", output_mode="complete")
    got = spark.table("contam_stream").toPandas() \
        .set_index("doc_id").sort_index()

    train = Table(docs.df.filter(F.col("doc_id") % 10 != 0), "train")
    batch = contamination_report(train, test, n=3).toPandas() \
        .set_index("doc_id").sort_index()
    assert (got.n_ngrams == batch.n_ngrams).all()
    assert (got.n_contaminated == batch.n_contaminated).all()


def test_sig_format_guard_remote_store_stamps_via_spark_api(
        spark, tmp_path, monkeypatch):
    """A gateway-less session with a REMOTE-scheme store must STAMP a
    fresh store through the Spark API (directory marker) instead of
    leaving it permanently unstampable — otherwise batch 1 warns and
    every later batch dies on _unmarked_err with no way to recover."""
    import blaze_spark.fsutil as fsutil
    from blaze_spark.streaming import incremental_dedup as inc
    from blaze_spark.streaming.store import SIGNATURES, check_format

    def _no_gateway(spark, path):
        raise RuntimeError("no JVM gateway (Connect)")

    monkeypatch.setattr(fsutil, "hadoop_fs", _no_gateway)
    # treat the tmp store as remote so the local-file tier is skipped
    monkeypatch.setattr(fsutil, "is_local_path", lambda p: False)
    store = str(tmp_path / "rstore")
    check_format(spark, SIGNATURES, store, inc._SIG_FORMAT, False)
    # stamped as a directory marker readable by spark.read.text
    rows = spark.read.text(store + "/_SIG_FORMAT").collect()
    assert any(r[0].strip() == inc._SIG_FORMAT for r in rows)
    # and the next batch verifies it instead of raising
    check_format(spark, SIGNATURES, store, inc._SIG_FORMAT, True)


def test_incremental_simhash_dedup_batches(spark, tmp_path):
    """Simhash store variant: an exact duplicate arriving in a LATER
    batch is matched against the store (est 1.0); stores are
    method-stamped so a minhash probe of a simhash store fails loudly."""
    import pytest as _pytest

    from blaze_spark import data
    from blaze_spark.streaming.incremental_dedup import process_batch

    store = str(tmp_path / "sh_store")
    text = "spark dedup pipeline with enough tokens to vote " * 3
    b1 = data([(1, text), (2, "entirely different words here okay")],
              spark=spark, schema="doc_id bigint, text string", name="b1")
    out1 = process_batch(b1, store, method="simhash")
    assert out1.count() == 0  # no dups within batch 1
    b2 = data([(10, text)], spark=spark,
              schema="doc_id bigint, text string", name="b2")
    out2 = process_batch(b2, store, method="simhash")
    rows = {(r.new_doc, r.matched_doc): r.est_jaccard
            for r in out2.collect()}
    assert (10, 1) in rows and rows[(10, 1)] == 1.0
    # cross-method probe refuses
    with _pytest.raises(ValueError, match="signature format"):
        process_batch(b2, store, method="minhash")


def test_hot_bucket_cap_still_indexes_store(spark, tmp_path):
    """ADVICE r6: the hot-bucket cap bounds PAIRING, but the store must
    still index a bounded sample of a hot bucket — otherwise templated
    docs are permanently unfindable for that band.  A later probe with
    the same text must match stored hot-bucket docs."""
    import warnings

    from blaze_spark import data
    from blaze_spark.streaming.incremental_dedup import process_batch

    text = "identical templated boilerplate shared by every document " * 5
    docs = [(i, text) for i in range(12)]
    b = data(docs, spark=spark, schema="doc_id long, text string", name="hb")
    store = str(tmp_path / "store_hot")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = process_batch(b, store, max_bucket=5)
        assert any("hot bucket" in str(x.message) for x in w)
    # pairing capped: the quadratic in-batch explosion did not happen
    assert out.count() == 0

    # the store kept the first max_bucket doc_ids per hot bucket
    stored = spark.read.option("basePath", store).parquet(
        f"{store}/ingest=0")
    per_bucket = (stored.groupBy("band", "bhash").count().collect())
    assert per_bucket and all(r["count"] <= 5 for r in per_bucket)
    assert stored.filter("doc_id < 5").count() > 0

    # a later identical doc finds the stored sample via the store probe
    b2 = data([(100, text)], spark=spark,
              schema="doc_id long, text string", name="hb2")
    p2 = process_batch(b2, store, max_bucket=5)
    matched = {r.matched_doc for r in p2.collect()}
    assert matched and matched <= set(range(5))


def test_streaming_chunk_and_split_match_batch(spark, sf_dir):
    """chunk_documents and train_val_test_split are stateless per-row
    transforms (explode + projections), so they compose with readStream
    unchanged: the streamed chunk/split output must equal the batch
    run's exactly (differential scheme)."""
    from blaze_spark import data
    from blaze_spark.pipeline import chunk_documents, train_val_test_split
    from blaze_spark.streaming import StreamTable

    def assemble(t):
        ch = chunk_documents(t, max_tokens=32, overlap=4)
        return train_val_test_split(ch, fractions=(0.8, 0.1, 0.1))[
            ["doc_id", "chunk_id", "chunk_tokens", "split"]]

    st = stream_data(spark, f"{sf_dir}/documents.parquet")
    StreamTable(assemble(st).df).to_memory("chunk_stream",
                                           output_mode="append")
    got = spark.table("chunk_stream").toPandas()

    batch = assemble(
        data(f"{sf_dir}/documents.parquet", spark=spark, name="documents")
    ).df.toPandas()
    key = ["doc_id", "chunk_id"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) > 0
    assert g.equals(b)


def test_incremental_pq_index_matches_batch_encode(spark, tmp_path):
    """Exact consistency contract: a 3-batch ingest through the code
    store holds the BIT-IDENTICAL code set of one batch encode of the
    concatenation, and pq_topk/ivf_pq_topk answer identically over the
    store; a half-written ingest (no _SUCCESS) is never searched and a
    retried batch id replaces instead of duplicating."""
    from blaze_spark import Table, data
    from blaze_spark.pipeline import (ivf_pq_topk, pq_encode, pq_fit,
                                      pq_topk)
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit
    from blaze_spark.streaming.incremental_ann import (ingest_pq_batch,
                                                       read_pq_index)

    emb = data("/root/testdata/sf0.001/embeddings.parquet", spark=spark)
    cents = kmeans_fit(emb, k=4, iters=2)
    cb = pq_fit(emb, m=8, ks=16, iters=3, train_rows=300)
    store = str(tmp_path / "pqstore")

    parts = [Table(emb.df.filter(f"vec_id % 3 = {i}")) for i in range(3)]
    for i, p in enumerate(parts):
        ingest_pq_batch(p, store, cb, cents, batch_id=i)

    idx = read_pq_index(spark, store, cb, cents)
    batch = pq_encode(ivf_assign(emb, cents), cb)
    want = {(r.vec_id, bytes(r.pq_code), r.cell)
            for r in batch.df.select("vec_id", "pq_code", "cell").collect()}
    got = {(r.vec_id, bytes(r.pq_code), r.cell)
           for r in idx.df.select("vec_id", "pq_code", "cell").collect()}
    assert got == want and len(got) == emb.df.count()

    q = Table(emb.df.filter("vec_id < 3"))
    flat_store = {(r.query_id, r.neighbor_id, r.cosine)
                  for r in pq_topk(idx, q, cb, k=3).df.collect()}
    flat_batch = {(r.query_id, r.neighbor_id, r.cosine)
                  for r in pq_topk(batch, q, cb, k=3).df.collect()}
    assert flat_store == flat_batch
    ivf_store = {(r.query_id, r.neighbor_id, r.cosine)
                 for r in ivf_pq_topk(idx, q, cents, cb, k=3,
                                      nprobe=2).df.collect()}
    ivf_batch = {(r.query_id, r.neighbor_id, r.cosine)
                 for r in ivf_pq_topk(batch, q, cents, cb, k=3,
                                      nprobe=2).df.collect()}
    assert ivf_store == ivf_batch

    # retry of batch 1 replaces its subdirectory (no duplicate rows)
    ingest_pq_batch(parts[1], store, cb, cents, batch_id=1)
    assert read_pq_index(spark, store, cb, cents).df.count() == len(want)

    # a half-written ingest (missing _SUCCESS) is invisible to reads
    import os
    import shutil
    shutil.copytree(store + "/ingest=1", store + "/ingest=9")
    os.remove(store + "/ingest=9/_SUCCESS")
    assert read_pq_index(spark, store, cb, cents).df.count() == len(want)

    # ...even when the crashed ingest died MID-WRITE leaving a corrupt
    # parquet footer: reads list the complete directories explicitly
    # (VERDICT r10 #2), so schema inference can never touch it
    for dirpath, _, files in os.walk(store + "/ingest=9"):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(dirpath, f), "wb") as fh:
                    fh.write(b"PAR1 truncated mid-write, not a footer")
    assert read_pq_index(spark, store, cb, cents).df.count() == len(want)


def test_incremental_pq_index_rejects_foreign_artifacts(spark, tmp_path):
    """Index identity: codes from different codebooks/centroids never
    match, so probing or appending with other artifacts fails loudly —
    same wrong-answer class the signature store's _SIG_FORMAT guards."""
    import pytest as _pytest

    from blaze_spark import Table, data
    from blaze_spark.pipeline import pq_fit
    from blaze_spark.pipeline.ivf import kmeans_fit
    from blaze_spark.streaming.incremental_ann import (ingest_pq_batch,
                                                       pq_index_format,
                                                       read_pq_index)

    emb = data("/root/testdata/sf0.001/embeddings.parquet", spark=spark)
    cents = kmeans_fit(emb, k=4, iters=2)
    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)
    cb_other = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200, seed=7)
    assert pq_index_format(cb) != pq_index_format(cb_other)
    assert pq_index_format(cb) != pq_index_format(cb, cents)

    store = str(tmp_path / "pqstore2")
    b = Table(emb.df.filter("vec_id < 100"))
    ingest_pq_batch(b, store, cb, cents, batch_id=0)
    with _pytest.raises(ValueError, match="index format"):
        ingest_pq_batch(b, store, cb_other, cents, batch_id=1)
    with _pytest.raises(ValueError, match="index format"):
        read_pq_index(spark, store, cb_other, cents)
    with _pytest.raises(ValueError, match="index format"):
        read_pq_index(spark, store, cb)   # flat probe of an IVF store


def test_incremental_pq_index_streaming_wrapper(spark, tmp_path):
    """foreachBatch wiring over a file source; the streamed store
    answers a query."""
    import time

    from blaze_spark import Table, data
    from blaze_spark.pipeline import pq_fit, pq_topk
    from blaze_spark.streaming import stream_data
    from blaze_spark.streaming.incremental_ann import (
        incremental_pq_index, read_pq_index)

    emb = data("/root/testdata/sf0.001/embeddings.parquet", spark=spark)
    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)

    src_dir = tmp_path / "annsrc"
    src_dir.mkdir()
    emb.df.filter("vec_id < 50").coalesce(1).write.parquet(
        str(src_dir / "b0"))
    for f in (src_dir / "b0").glob("*.parquet"):
        f.rename(src_dir / "part0.parquet")

    st = stream_data(spark, str(src_dir), fmt="parquet",
                     schema=emb.df.schema.simpleString()
                     .replace("struct<", "").rstrip(">")
                     .replace(":", " ").replace(",", ", "))
    store = str(tmp_path / "annstore")
    q = incremental_pq_index(st, store, str(tmp_path / "annckpt"), cb)
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            import os
            if any(f == "_SUCCESS"
                   for _, _, fs in os.walk(store) for f in fs):
                break
            time.sleep(0.5)
    finally:
        q.stop()

    idx = read_pq_index(spark, store, cb)
    assert idx.df.count() == 50
    queries = Table(emb.df.filter("vec_id < 2"))
    assert pq_topk(idx, queries, cb, k=3).df.count() == 6


def test_incremental_pq_index_read_errors_and_connect_complete_only(
        spark, tmp_path, monkeypatch):
    """Review r9 #3/#6: read_pq_index gives a clear 'no complete
    ingests' error for missing/empty stores (and never stamps a marker
    as a read side effect); the gateway-less ingest_ids tiers honor
    complete_only via explicit _SUCCESS probes."""
    import os
    import shutil

    import pytest as _pytest

    from blaze_spark import Table, data
    from blaze_spark.pipeline import pq_fit
    import blaze_spark.fsutil as fsutil
    from blaze_spark.streaming.incremental_ann import (ingest_pq_batch,
                                                       read_pq_index)
    from blaze_spark.streaming.store import ingest_ids

    emb = data("/root/testdata/sf0.001/embeddings.parquet", spark=spark)
    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)

    missing = str(tmp_path / "nowhere")
    with _pytest.raises(ValueError, match="no complete ingests"):
        read_pq_index(spark, missing, cb)
    assert not os.path.exists(missing)   # read never creates the store

    store = str(tmp_path / "cstore")
    ingest_pq_batch(Table(emb.df.filter("vec_id < 100")), store, cb,
                    batch_id=0)
    shutil.copytree(store + "/ingest=0", store + "/ingest=7")
    os.remove(store + "/ingest=7/_SUCCESS")

    # JVM tier: half-written ingest invisible
    assert ingest_ids(spark, store, complete_only=True) == [0]
    # gateway-less tiers: force the fallback and require the same answer
    def boom(*a, **k):
        raise RuntimeError("no gateway")
    monkeypatch.setattr(fsutil, "hadoop_fs", boom)
    assert ingest_ids(spark, store, complete_only=True) == [0]
    assert ingest_ids(spark, store) == [0, 7]
    # ... and with the local-file tier skipped: the Spark API lists ids
    # from the partition column and probes each _SUCCESS explicitly
    monkeypatch.setattr(fsutil, "is_local_path", lambda p: False)
    assert ingest_ids(spark, store, complete_only=True) == [0]
    assert ingest_ids(spark, store) == [0, 7]
    monkeypatch.undo()

    assert read_pq_index(spark, store, cb).df.count() == 100


def test_incremental_lm_counts_store_matches_batch_fit(spark, tmp_path):
    """r11: the streaming-native LM fit side — three batch ingests sum
    to EXACTLY the one-shot ngram_lm_fit, scoring against the store
    equals one-shot scoring, a crashed ingest is excluded, and the LM
    store and the flat DSIR store refuse each other's readers."""
    import os

    import pytest

    from blaze_spark import data
    from blaze_spark.pipeline import ngram_lm_fit, ngram_lm_logprob
    from blaze_spark.streaming.incremental_counts import (
        compact_counts_store, ingest_lm_counts_batch, read_bucket_counts,
        read_lm_counts)

    store = str(tmp_path / "lm_store")
    rows = [(i, f"tok{i % 7} tok{i % 3} shared words here plus tok{i % 5}")
            for i in range(30)]
    batches = [rows[:10], rows[10:20], rows[20:]]
    for bid, part in enumerate(batches):
        b = data(part, spark=spark, schema="doc_id long, text string",
                 name=f"lmb{bid}")
        ingest_lm_counts_batch(b, store, n_buckets=256, n=2,
                               batch_id=bid)

    full = data(rows, spark=spark, schema="doc_id long, text string",
                name="lmfull")
    expect = sorted(map(tuple,
                        ngram_lm_fit(full, n_buckets=256, n=2).collect()))
    got = sorted(map(tuple,
                     read_lm_counts(spark, store, n_buckets=256, n=2)
                     .collect()))
    assert got == expect

    # store-fed scoring == one-shot scoring, row for row
    scored_store = sorted(map(tuple, ngram_lm_logprob(
        full, counts=read_lm_counts(spark, store, n_buckets=256, n=2),
        n_buckets=256, n=2).collect()))
    scored_once = sorted(map(tuple, ngram_lm_logprob(
        full, n_buckets=256, n=2).collect()))
    assert scored_store == scored_once

    # feature-space / store-kind confusion fails loudly both ways
    with pytest.raises(ValueError, match="feature space"):
        read_lm_counts(spark, store, n_buckets=512, n=2)
    with pytest.raises(ValueError, match="feature space"):
        read_bucket_counts(spark, store, n_buckets=256)

    # a crashed (incomplete) ingest is never counted
    os.remove(os.path.join(store, "ingest=2", "_SUCCESS"))
    partial = data(rows[:20], spark=spark,
                   schema="doc_id long, text string", name="lmp")
    expect2 = sorted(map(tuple, ngram_lm_fit(partial, n_buckets=256,
                                             n=2).collect()))
    got2 = sorted(map(tuple,
                      read_lm_counts(spark, store, n_buckets=256, n=2)
                      .collect()))
    assert got2 == expect2

    # compaction (shared engine) preserves the readable counts
    compact_counts_store(spark, store)
    got3 = sorted(map(tuple,
                      read_lm_counts(spark, store, n_buckets=256, n=2)
                      .collect()))
    assert got3 == expect2


def test_incremental_lm_counts_streaming_wrapper(spark, tmp_path):
    """foreachBatch wiring: the LM store maintained from a real
    Structured Streaming file source (availableNow), then read back
    into a perplexity filter."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from blaze_spark import data
    from blaze_spark.pipeline import ngram_lm_fit, perplexity_filter
    from blaze_spark.streaming import stream_data
    from blaze_spark.streaming.incremental_counts import (
        incremental_lm_counts, read_lm_counts)

    src_dir = tmp_path / "lmsrc"
    src_dir.mkdir()
    rows = [(i, f"w{i % 5} w{i % 3} common phrase here w{i % 2}")
            for i in range(24)]
    pdf = pd.DataFrame({"doc_id": [r[0] for r in rows],
                        "text": [r[1] for r in rows]})
    pq.write_table(pa.Table.from_pandas(pdf), src_dir / "p0.parquet")

    st = stream_data(spark, str(src_dir), fmt="parquet",
                     schema="doc_id long, text string")
    q = incremental_lm_counts(st, str(tmp_path / "lmstore2"),
                              str(tmp_path / "lmckpt"),
                              n_buckets=128, n=2)
    q.awaitTermination(60)

    full = data(rows, spark=spark, schema="doc_id long, text string",
                name="lmsfull")
    expect = sorted(map(tuple,
                        ngram_lm_fit(full, n_buckets=128, n=2).collect()))
    got = sorted(map(tuple,
                     read_lm_counts(spark, str(tmp_path / "lmstore2"),
                                    n_buckets=128, n=2).collect()))
    assert got == expect
    kept = perplexity_filter(
        full, counts=read_lm_counts(spark, str(tmp_path / "lmstore2"),
                                    n_buckets=128, n=2),
        n_buckets=128, n=2, max_ppl=1e9)
    assert kept.count() == len(rows)


def test_lm_store_unigrams_feeds_backoff_and_interp(spark, tmp_path):
    """r13 second half: a unigrams=True LM counts store carries the
    lower-order kinds, so store-fed backoff/interp scoring equals the
    one-shot reference fit; the :u1 stamp keeps plain and
    lower-order-carrying stores from silently mixing, and a tokenizer
    hash in the stamp keeps tokenizations from mixing."""
    import pytest

    from blaze_spark import data
    from blaze_spark.pipeline import (VocabTokenizer, ngram_lm_fit,
                                      ngram_lm_logprob)
    from blaze_spark.streaming.incremental_counts import (
        ingest_lm_counts_batch, lm_counts_format, read_lm_counts)

    rows = [(i, f"tok{i % 5} tok{(i + 1) % 5} tok{(i + 2) % 7}")
            for i in range(40)]
    full = data(rows, spark=spark,
                schema="doc_id bigint, text string", name="lmu_full")
    store = str(tmp_path / "lmustore")
    for lo, hi in ((0, 20), (20, 40)):
        b = data(rows[lo:hi], spark=spark,
                 schema="doc_id bigint, text string", name="lmu_b")
        ingest_lm_counts_batch(b, store, n_buckets=128, n=2,
                               unigrams=True)
    counts = read_lm_counts(spark, store, n_buckets=128, n=2,
                            unigrams=True)
    # store-fed == one-shot for BOTH laddered schemes
    ref = ngram_lm_fit(full, n_buckets=128, n=2, unigrams=True)
    for kw in ({"backoff": 0.4}, {"interpolate": 0.5}):
        a = ngram_lm_logprob(full, counts=counts, n_buckets=128, n=2,
                             **kw)
        b2 = ngram_lm_logprob(full, counts=ref, n_buckets=128, n=2,
                              **kw)
        assert sorted(map(tuple, a.collect())) == \
            sorted(map(tuple, b2.collect()))
    # a plain reader refuses the :u1 store (and vice versa)
    with pytest.raises(ValueError, match="feature space"):
        read_lm_counts(spark, store, n_buckets=128, n=2)
    with pytest.raises(ValueError, match="feature space"):
        ingest_lm_counts_batch(full, store, n_buckets=128, n=2)
    # tokenizer hash: a different tokenization is a different store
    vt = VocabTokenizer(["tok0", "tok1"], fallback_chars=4)
    assert lm_counts_format(128, 2, True, vt) != \
        lm_counts_format(128, 2, True)
    with pytest.raises(ValueError, match="feature space"):
        read_lm_counts(spark, store, n_buckets=128, n=2,
                       unigrams=True, tokenizer=vt)
    # defaults keep the r11 stamp byte-identical
    assert lm_counts_format(128, 2) == "lm1:b128:n2"
