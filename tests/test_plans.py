"""Physical-plan hygiene tests — the 100 TB design checks (SURVEY.md §4):
filters reach the parquet scan, projections prune the read schema, small
joins broadcast, aggregations are partial+final, codegen spans exist.

The reference implemented pruning/pushdown itself (blaze/expr/optimize.py,
blaze/compute/csv.py:51-58); here Catalyst does it and these tests pin
that it actually happens through our API surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from blaze_spark import by, join
from blaze_spark.plans import (
    codegen_stage_count,
    exchange_count,
    physical_plan,
    pushed_filters,
    scan_columns,
    uses_broadcast_join,
)


def test_filter_pushdown_reaches_scan(star):
    li = star["lineitem"]
    q = li[li.l_quantity > 40.0][["l_orderkey", "l_quantity"]]
    pf = pushed_filters(q)
    assert "l_quantity" in pf, pf


def test_column_pruning(star):
    li = star["lineitem"]
    q = by(li.l_returnflag, total=li.l_quantity.sum())
    cols = scan_columns(q)
    assert set(cols) == {"l_returnflag", "l_quantity"}, cols


def test_projection_pushdown_through_ops(star):
    o = star["orders"]
    q = o[o.o_totalprice > 100.0][["o_orderkey"]].sort("o_orderkey").head(5)
    cols = scan_columns(q)
    assert set(cols) <= {"o_orderkey", "o_totalprice"}, cols


def test_broadcast_hint_applied(star):
    j = join(star["orders"], star["customer"], "o_custkey", "c_custkey",
             broadcast=True)
    assert uses_broadcast_join(j)


def test_small_dim_autobroadcast(star):
    # Catalyst should pick broadcast for the tiny nation table on its own
    j = join(star["customer"], star["nation"], "c_nationkey", "n_nationkey")
    assert uses_broadcast_join(j)


def test_partial_aggregation_planned(star):
    li = star["lineitem"]
    q = by(li.l_returnflag, total=li.l_quantity.sum())
    plan = physical_plan(q)
    # two HashAggregate nodes: partial (map-side) + final after shuffle —
    # the reference's split() algebra (blaze/expr/split.py) done by Catalyst
    assert plan.count("HashAggregate") >= 2, plan


def test_whole_stage_codegen_present(star):
    li = star["lineitem"]
    q = li.transform(x=(li.l_extendedprice * (1 - li.l_discount)))
    assert codegen_stage_count(q) >= 1


def test_topk_is_take_ordered(star):
    o = star["orders"]
    q = o.sort(F.col("o_totalprice").desc()).head(10)
    plan = physical_plan(q)
    # top-k must not materialize a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_minhash_has_no_self_join_and_bounded_shuffles(star):
    """Round-1 restructure pin: candidate generation is bucket-local —
    no SortMergeJoin, one broadcast anti join, few exchanges."""
    from blaze_spark.pipeline.dedup import minhash_candidates

    q = minhash_candidates(star["documents"])
    plan = physical_plan(q)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin LeftAnti" in plan or "LeftAnti" in plan, plan
    # shuffles: hot-bucket count, bucket gather, pair dedup (+AQE reads)
    assert exchange_count(q) <= 4, plan


def test_sessionize_single_exchange(star):
    """lag + running-sum share one partitioning: exactly one Exchange."""
    from blaze_spark.operators.sessionize import sessionize

    q = sessionize(star["events"], "user_id", "event_id", gap=500)
    assert exchange_count(q) == 1, physical_plan(q)


def test_pivot_single_scan_two_level_agg(star):
    """Explicit pivot values -> ONE scan; Spark plans pivot as a two-level
    aggregation (by (index, pivot) first, then PivotFirst by index over the
    already-aggregated rows — the second shuffle carries group counts, not
    input rows)."""
    o = star["orders"]
    q = o.pivot("o_orderpriority", "o_orderstatus", ["O", "F", "P"],
                n=o.o_orderkey.count())
    plan = physical_plan(q)
    import re
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert exchange_count(q) <= 2, plan


def test_tpch_shape_exchange_budgets(star, spark):
    """Pin shuffle budgets for representative TPC-H shapes — a regression
    here means a dimension stopped broadcasting or an agg lost its
    partial phase."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    budgets = {
        "q01_pricing_summary": 1,   # single groupBy
        "q06_revenue_forecast": 1,  # scan + global agg
        "q05_local_supplier": 3,    # fact shuffle + agg (dims broadcast)
        "q08_style_market_share": 4,
    }
    from blaze_spark.plans import exchange_count
    for name, budget in budgets.items():
        n = exchange_count(qs[name](spark, sf))
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"


def test_lsh_cosine_topk_candidate_shuffle_is_id_only(star):
    """VERDICT r1 perf fix pin: the candidate-dedup shuffle must not carry
    embedding vectors — below the candidate Exchange only ids/signatures
    flow; vectors are re-joined afterwards keyed by id."""
    import re

    from blaze_spark.pipeline.similarity import lsh_cosine_topk

    e = star["embeddings"]
    q = lsh_cosine_topk(e, e.head(3), k=2)
    plan = physical_plan(q)
    # the candidate-dedup Exchange partitions by (query_id, neighbor_id);
    # its Input column list must contain no vector column
    blocks = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: hashpartitioning\(query_id[^\n]*neighbor_id[^\n]*",
        plan)
    assert blocks, plan
    for cols in blocks:
        assert "qv" not in cols and "cv" not in cols \
            and "embedding" not in cols, cols


def test_cosine_topk_guards_large_query_side(star):
    import pytest

    from blaze_spark.pipeline.similarity import cosine_topk

    e = star["embeddings"]
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk(e, e, k=2, max_queries=10)


def test_keep_first_dedup_is_aggregation_not_window(spark, star):
    """keep-first dedup must lower to a min_by aggregation (map-side
    partial merge — skew-safe for hot dedup keys), never a row_number
    window (routes every copy of a hot key to one task)."""
    o = star["orders"]
    kept = o.distinct(on="o_custkey",
                      keep_first_by=["o_orderdate", "o_orderkey"])
    plan = kept.df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "min_by" in plan or "HashAggregate" in plan


def test_corpus_curation_pipeline_single_scan_pruned(spark):
    """The r6 flagship composite: one documents scan pruned to
    (doc_id, text, source), all per-row signals in the scan projection,
    and only the dedup + per-source + final-sort exchanges."""
    import __spark_entry__ as entry
    from blaze_spark.plans import exchange_count, physical_plan

    import re

    q = entry.corpus_curation_pipeline(spark, "/root/testdata/sf0.001")
    plan = physical_plan(q)
    # one scan: the formatted plan repeats "Scan parquet" in the tree and
    # the per-node detail, so count scan *detail* blocks via Location:
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if m:  # formatted plan includes ReadSchema
        cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert cols == {"doc_id", "text", "source"}, cols
    assert exchange_count(q) <= 3, plan
    # no window (row_number) dedup: the keep-first lowering is min_by
    assert "row_number" not in plan.lower(), plan


def test_word_frequencies_plan_bounded_topn(star):
    """Tokenizer training's distributed phase (r13 second half): one
    partial-aggregated shuffle on the word key, then a BOUNDED
    TakeOrderedAndProject — never a global sort — with the scan
    pruned to the text column."""
    from blaze_spark.pipeline import word_frequencies

    q = word_frequencies(star["documents"], max_words=100)
    plan = physical_plan(q)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.replace("TakeOrdered", ""), plan
    # one word-key exchange, plus (r15) the optional scale-adaptive
    # respread of an under-parallelized single-file scan (_spread —
    # absent at real scale, where the metadata gate no-ops)
    assert exchange_count(q) <= 2, plan
    assert scan_columns(q) == ["text"], plan


def test_dup_spans_window_is_per_document(star):
    """r14: cross_doc_dup_spans' islands merge must run as a
    PER-DOCUMENT window (partition spec carries doc_id) — an empty
    partition spec would be the single-task global sort that cannot
    survive 100 TB — and both running-max/running-sum windows share
    ONE doc_id partitioning (no extra exchange between them).  r15:
    the exact-n_docs count adds ONE window over the BOUNDED span
    relation, partitioned by the span fingerprint — every window spec
    must carry doc_id or __fp, never an empty (global) spec."""
    from blaze_spark.pipeline import cross_doc_dup_spans

    q = cross_doc_dup_spans(star["documents"], n=5)
    plan = physical_plan(q)
    assert "windowspecdefinition(doc_id" in plan, plan
    assert "windowspecdefinition(__fp" in plan, plan
    # every window in the plan is doc- or fingerprint-partitioned
    import re

    for m in re.finditer(r"windowspecdefinition\(([^,)]*)", plan):
        assert m.group(1).startswith(("doc_id", "__fp")), plan
    # exchange budget: gram hash (join build) + distinct(doc,key) +
    # per-key count + doc_id window partitioning + span-fingerprint
    # partitioning = 5; the per-island aggregate rides the doc
    # window's partitioning
    assert exchange_count(q) <= 5, plan


def test_classifier_training_epoch_plan(spark, star):
    """r14: one training epoch is ONE job whose gradient aggregation
    partial-combines map-side on the bounded bucket key space — pin
    by plan shape on the epoch's gradient frame: scoring is a
    shuffle-free projection (the literal-map path: zero exchanges
    below the gradient groupBy's single exchange)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from blaze_spark.pipeline.selection import ngram_buckets

    d = star["documents"]
    # the epoch-2 gradient frame shape (nonzero literal-map model)
    m = F.map_from_arrays(F.lit([3, 7]), F.lit([10, -5]))
    feats = d.df.select(
        F.coalesce(ngram_buckets(F.col("text"), 1024),
                   F.array().cast(T.ArrayType(T.LongType())))
        .alias("bks"))
    score = F.aggregate(
        F.col("bks"), F.lit(0).cast(T.LongType()),
        lambda acc, b: acc + F.coalesce(
            F.try_element_at(m, b), F.lit(0).cast(T.LongType())))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-score.cast("double")
                                         / F.lit(1000.0)))
    r = F.round(p * 1e6).cast(T.LongType())
    grad = (feats.select(r.alias("r"),
                         F.explode(F.concat(
                             F.array(F.lit(-1).cast(T.LongType())),
                             F.col("bks"))).alias("bucket"))
            .groupBy("bucket").agg(F.sum("r").alias("g")))
    plan = grad._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "partial_sum" in plan, plan


def test_dup_popularity_consumers_read_the_scoped_caches(star):
    """r14 second half: the three histograms must consume the scoped
    caches, not re-derive the tokenize+explode subtree — the naive
    plan re-scanned the parquet five times.  Pin: the executed plan
    carries InMemoryTableScans for the cached relations, and the
    only windowspecdefinition is the bounded-level reverse cumsum
    (deliberately single-partition: one row per distinct duplication
    level)."""
    from blaze_spark.pipeline import dup_span_popularity

    q = dup_span_popularity(star["documents"], n=5)
    plan = physical_plan(q)
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "windowspecdefinition(__ndocs" in plan, plan


def test_lm_self_fit_shares_one_tokenize_scan(star):
    """r15: when the LM fits on the corpus it scores (reference and
    counts both defaulted), the fit counts derive FROM the persisted
    scoring-position frame instead of a second tokenize+md5 corpus
    scan — the scoring side of the plan reads the cache, and the
    whole query holds exactly one tokenizing parquet scan of the
    corpus (guide §2.4: remove a whole pass)."""
    from blaze_spark.pipeline import ngram_lm_logprob

    out = ngram_lm_logprob(star["documents"], n_buckets=256, n=2)
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 1, plan
    finally:
        for c in getattr(out, "_blaze_caches", ()):
            c.unpersist()


def test_identical_plan_cache_survives_first_holder_release(spark):
    """r15 late finding: Spark's CacheManager keys cached data by
    CANONICALIZED PLAN, so two logically-identical scoped persists
    (two constructions of the same entry held at once) share ONE JVM
    cache entry — persist() on the second is a no-op.  A per-object
    unpersist finalizer then killed the shared entry when the FIRST
    frame died, silently degrading the survivor's plan to the naive
    re-derivation.  Pin the refcounted release: the survivor still
    reads its cache, and the LAST release still unpersists (no leak)."""
    import gc

    from blaze_spark.cache import owned_cache

    def build():
        cached = (spark.range(1000)
                  .selectExpr("id", "id * 37 as cache_race_probe"))
        with owned_cache(cached) as c:
            return c.transfer(cached.groupBy().sum("cache_race_probe"))

    a = build()
    b = build()  # a refcount bump: same canonical plan as a's
    del a
    gc.collect()  # a's finalizer fires — must NOT un-cache b
    try:
        plan = b._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
    finally:
        del b
        gc.collect()  # last holder gone — entry must actually release
    fresh = (spark.range(1000)
             .selectExpr("id", "id * 37 as cache_race_probe")
             .groupBy().sum("cache_race_probe"))
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan  # leaked cache entry


def test_acquire_cache_scope_shares_the_refcounted_entry(spark):
    """ADVICE r15: pq_neardup_pairs' construction-scoped codes persist
    used a raw persist()/unpersist() pair, bypassing the refcounted
    release — if the caller had persisted an identical codes frame
    (shared JVM cache entry), the scope's release silently un-cached
    the caller's survivor.  Pin the construction scope of owned_cache:
    a release inside the scope leaves the identically-planned holder's
    cache readable, and the holder's own release still frees the entry
    (no leak)."""
    import gc

    from blaze_spark.cache import owned_cache

    def frame():
        return spark.range(1000).selectExpr(
            "id", "id * 41 as acquire_scope_probe")

    def hold():
        cached = frame()
        with owned_cache(cached) as c:
            return c.transfer(cached.groupBy().sum("acquire_scope_probe"))

    holder = hold()

    scope = owned_cache(frame())  # identical plan: shares the entry
    scope.release()
    scope.release()  # idempotent
    plan = holder._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan  # survivor kept its cache

    del holder
    gc.collect()  # last registration gone — entry must actually release
    fresh = frame().groupBy().sum("acquire_scope_probe")
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan  # leaked cache entry


def test_entry_return_frames_carry_the_scoped_caches(spark, sf_dir):
    """r15: deriving the oracle order with .df.orderBy(...) returns a
    frame WITHOUT the Python-side cache holder, so the scoped persists
    were silently released before the driver's timed action ran (the
    benched popularity plan re-scanned parquet 5x).  Pin the fix at
    the driver surface: the ENTRY's returned frame must still carry
    the caches and its executed plan must read them."""
    import gc

    import __spark_entry__ as entry

    df = entry.queries()["dup_span_popularity_docs"](spark, sf_dir)
    try:
        gc.collect()
        assert getattr(df, "_blaze_caches", None), \
            "entry dropped its scoped caches"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 3, plan
    finally:
        for c in getattr(df, "_blaze_caches", ()):
            c.unpersist()
