"""Driver-side literal tables: ``local_frame`` builds them as Arrow
``LocalRelation``s, never as Python-RDD scans (``LogicalRDD``), and no
library code builds a row-list frame any other way."""

from __future__ import annotations

import ast
import math
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blaze_spark import Table
from blaze_spark.sources import local_frame

REPO = Path(__file__).resolve().parents[1]

_SCHEMA = T.StructType([
    T.StructField("i", T.IntegerType()),
    T.StructField("l", T.LongType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("v", T.ArrayType(T.DoubleType())),
    T.StructField("s", T.StringType()),
])
_ROWS = [
    (1, 2 ** 40, float("nan"), [1.0, None, -0.0], "a"),
    (None, None, -0.0, None, None),
    (-3, -1, None, [], "é"),
    (0, 0, 0.0, [float("nan"), math.inf], ""),
]


def _row_hashes(df):
    return sorted(r.h for r in df.select(
        F.xxhash64(*df.columns).alias("h")).collect())


def _plans(df):
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString(), qe.executedPlan().toString()


def _assert_no_rdd_scan(df):
    optimized, physical = _plans(df)
    assert "LogicalRDD" not in optimized, optimized
    assert "ExistingRDD" not in physical, physical


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, rows):
    got = local_frame(spark, rows, _SCHEMA)
    ref = spark.createDataFrame(rows, _SCHEMA)
    assert got.schema == ref.schema
    assert _row_hashes(got) == _row_hashes(ref)
    assert got.count() == len(rows)
    _assert_no_rdd_scan(got)


def test_local_frame_ddl_schema_and_arrow_off(spark):
    rows = [(1, 0.5), (2, None)]
    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    try:
        got = local_frame(spark, rows, "bucket long, lr double")
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)
    ref = spark.createDataFrame(rows, "bucket long, lr double")
    assert got.schema == ref.schema
    assert _row_hashes(got) == _row_hashes(ref)
    _assert_no_rdd_scan(got)
    with pytest.raises(ValueError, match="2 values"):
        local_frame(spark, [(1,)], "bucket long, lr double")


def test_large_isin_keeps_the_inferred_value_type(spark, monkeypatch):
    """The semi-join value frame declares the type row-list inference
    gave (ints -> long), so the join key compares as before."""
    import blaze_spark.core as core
    import blaze_spark.sources as sources

    schemas = []

    def spy(spark, rows, schema):
        schemas.append(schema)
        return local_frame(spark, rows, schema)

    monkeypatch.setattr(core, "_ISIN_SEMI_THRESHOLD", 4)
    monkeypatch.setattr(sources, "local_frame", spy)
    t = Table(local_frame(spark, [(i,) for i in range(20)], "id int"))
    sel = t[t.id.isin(list(range(0, 20, 3)))]
    assert schemas == [T.StructType([T.StructField("__isin_val",
                                                   T.LongType())])]
    assert sorted(r.id for r in sel.df.collect()) == list(range(0, 20, 3))
    _assert_no_rdd_scan(sel.df)


def test_literal_table_operators_plan_no_rdd_scan(spark, star):
    """The lm, packing and IVF-PQ literal tables (count maps, shard
    offsets, probe cells) plan as local relations: no Python worker
    pool runs to scan them."""
    from blaze_spark.pipeline import (ivf_pq_topk, ngram_lm_logprob,
                                      pack_sequences, pq_encode, pq_fit)
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit

    docs = Table(star["documents"].df.limit(60), "docs")
    _assert_no_rdd_scan(ngram_lm_logprob(docs, n_buckets=256, n=2))
    _assert_no_rdd_scan(pack_sequences(docs, budget=64).df)

    emb = star["embeddings"]
    cents = kmeans_fit(emb, k=4, iters=2)
    cb = pq_fit(emb, m=8, ks=16, iters=2, train_rows=200)
    codes = pq_encode(ivf_assign(emb, cents), cb)
    q = Table(emb.df.filter("vec_id < 2"))
    _assert_no_rdd_scan(ivf_pq_topk(codes, q, cents, cb, k=3,
                                    nprobe=2).df)


# -- tooling guard ----------------------------------------------------------

# Call sites allowed to use createDataFrame directly: the helper itself,
# data()'s schema-inference path (rows or pandas of unknown schema, and
# the pymongo ingest of schemaless documents), and the pandas-input
# sites (a computed remote result re-bound under a known schema).
_ALLOWED = {
    ("blaze_spark/sources/__init__.py", "local_frame"),
    ("blaze_spark/sources/__init__.py", "data"),
    ("blaze_spark/sources/__init__.py", "_mongo_table"),
    ("blaze_spark/client.py", "_materialized"),
    ("__spark_entry__.py", "blaze_client_roundtrip"),
    ("__spark_entry__.py", "blaze_client_curation"),
    ("__spark_entry__.py", "blaze_client_scalar_chain"),
    ("__spark_entry__.py", "blaze_client_fk_hop"),
    ("__spark_entry__.py", "blaze_client_selection"),
    ("__spark_entry__.py", "blaze_client_pq"),
    ("__spark_entry__.py", "blaze_client_dedup"),
    ("__spark_entry__.py", "blaze_client_packing"),
    ("__spark_entry__.py", "blaze_client_contamination"),
    ("__spark_entry__.py", "blaze_client_mix"),
    ("__spark_entry__.py", "blaze_client_lm"),
    ("__spark_entry__.py", "blaze_client_store_lm"),
    ("__spark_entry__.py", "blaze_client_store_bloom"),
}


def _create_dataframe_sites():
    files = sorted((REPO / "blaze_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    sites = []
    for path in files:
        rel = path.relative_to(REPO).as_posix()

        def walk(node, fn):
            for ch in ast.iter_child_nodes(node):
                if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    walk(ch, ch.name)
                    continue
                if (isinstance(ch, ast.Call)
                        and isinstance(ch.func, ast.Attribute)
                        and ch.func.attr == "createDataFrame"):
                    sites.append((rel, fn, ch.lineno))
                walk(ch, fn)

        walk(ast.parse(path.read_text()), None)
    return sites


def test_no_create_dataframe_outside_the_helper():
    sites = _create_dataframe_sites()
    bad = [s for s in sites if s[:2] not in _ALLOWED]
    assert not bad, (
        "build literal tables with blaze_spark.sources.local_frame "
        f"(createDataFrame on a row list is a Python-RDD scan): {bad}")
    # the allow-list stays tight: every entry still has a call site
    assert {s[:2] for s in sites} == _ALLOWED


# -- owned_cache release race -----------------------------------------------

class _FakeFrame:
    def __init__(self):
        self.unpersists = 0

    def persist(self):
        return self

    def unpersist(self, blocking=False):
        self.unpersists += 1


class _RendezvousFlag(list):
    """The release guard's flag.  A thread that reads it then waits
    (briefly) for the other thread to read it too: a guard tested
    outside the lock is read as unset by both threads, while under the
    lock the second reader cannot arrive until the first has set it."""

    def __init__(self):
        super().__init__()
        self._barrier = threading.Barrier(2, timeout=1)

    def __len__(self):
        n = super().__len__()
        try:
            self._barrier.wait()
        except threading.BrokenBarrierError:
            pass
        return n


def test_acquire_cache_concurrent_release_decrements_once(monkeypatch):
    """Two threads releasing one ``owned_cache`` reference at once drop
    it once: the release guard is a test-and-set under the lock."""
    from blaze_spark import cache

    key = ("test-session", 12345, (("x", "int"),))
    monkeypatch.setattr(cache, "_cache_key", lambda df: key)
    monkeypatch.setitem(cache._CACHE_REFS, key, 1)  # another holder
    frame = _FakeFrame()
    owner = cache.owned_cache(frame)
    assert cache._CACHE_REFS[key] == 2

    owner._done = _RendezvousFlag()
    threads = [threading.Thread(target=owner.release) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(10)
    assert cache._CACHE_REFS[key] == 1
    assert frame.unpersists == 0
    owner.release()
    assert cache._CACHE_REFS[key] == 1
