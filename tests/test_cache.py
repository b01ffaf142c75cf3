"""Cache ownership: ``blaze_spark.cache`` is the one place that persists
and releases a frame, and no other library code calls ``persist``,
``unpersist`` or ``cache`` on a DataFrame."""

from __future__ import annotations

import ast
import gc
from pathlib import Path

import pytest

from blaze_spark.cache import owned_cache

REPO = Path(__file__).resolve().parents[1]

# the user-facing CachedDataset API: the user owns what they persist
_ALLOWED = {
    ("blaze_spark/core.py", "Table.cache"),
    ("blaze_spark/core.py", "Table.persist"),
}


def _cache_call_sites():
    files = sorted((REPO / "blaze_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    sites = []
    for path in files:
        rel = path.relative_to(REPO).as_posix()
        if rel == "blaze_spark/cache.py":
            continue

        def walk(node, scope):
            for ch in ast.iter_child_nodes(node):
                if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef,
                                   ast.ClassDef)):
                    walk(ch, f"{scope}.{ch.name}" if scope else ch.name)
                    continue
                if (isinstance(ch, ast.Call)
                        and isinstance(ch.func, ast.Attribute)
                        and (ch.func.attr in ("persist", "unpersist")
                             or (ch.func.attr == "cache"
                                 and not ch.args and not ch.keywords))):
                    sites.append((rel, scope, ch.lineno))
                walk(ch, scope)

        walk(ast.parse(path.read_text()), None)
    return sites


def test_no_persist_outside_the_cache_owner():
    sites = _cache_call_sites()
    bad = [s for s in sites if s[:2] not in _ALLOWED]
    assert not bad, (
        "persist through blaze_spark.cache.owned_cache (it owns the "
        f"refcount and the release): {bad}")
    # the allow-list stays tight: every entry still has a call site
    assert {s[:2] for s in sites} == _ALLOWED


def _probe(spark, tag):
    return spark.range(500).selectExpr("id", f"id * 7 as {tag}")


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_owned_cache_releases_on_exit_and_on_error(spark):
    df = _probe(spark, "owned_exit_probe")
    with owned_cache(df):
        assert _cached(df)
    assert not _cached(df), "the construction scope releases on exit"

    with pytest.raises(RuntimeError, match="boom"):
        with owned_cache(df):
            assert _cached(df)
            raise RuntimeError("boom")
    assert not _cached(df), "an exception leaving the block releases"


def test_transfer_ties_the_cache_to_the_result(spark):
    def build():
        df = _probe(spark, "owned_transfer_probe")
        with owned_cache(df) as c:
            return c.transfer(df.groupBy().sum("owned_transfer_probe"))

    out = build()
    gc.collect()
    (cached,) = out._blaze_caches
    assert _cached(cached), "the result holds the cache past the block"
    del out, cached
    gc.collect()
    assert not _cached(_probe(spark, "owned_transfer_probe"))


def test_raw_caller_persist_is_borrowed_not_released(spark):
    """A raw caller persist of an identical plan, built as a different
    Python object, survives an owned_cache scope over it — released or
    transferred and collected: the caller owns that entry."""
    raw = _probe(spark, "borrow_probe").persist()
    try:
        with owned_cache(_probe(spark, "borrow_probe")):
            pass
        assert _cached(raw)

        def build():
            df = _probe(spark, "borrow_probe")
            with owned_cache(df) as c:
                return c.transfer(df.groupBy().sum("borrow_probe"))

        out = build()
        assert not getattr(out, "_blaze_caches", None)
        del out
        gc.collect()
        assert _cached(raw)
    finally:
        raw.unpersist()


def test_by_over_packed_result_keeps_the_pack_cache(spark):
    """Table derivations carry their parents' caches: a ``by()`` over a
    ``pack_sequences`` result still reads the packed cache after the
    packed Table is dropped."""
    from blaze_spark import by, data
    from blaze_spark.pipeline import pack_sequences
    from blaze_spark.plans import physical_plan

    rows = [(i, "w " * (i % 7 + 1)) for i in range(300)]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="pk_by")
    packed = pack_sequences(t, budget=32, partitions=3)
    g = by([packed.shard], n_docs=packed.doc_id.nelements(),
           total_tokens=packed.n_tokens.sum())
    del packed
    gc.collect()
    df = g.df
    del g
    gc.collect()
    try:
        assert "InMemoryTableScan" in physical_plan(df)
    finally:
        for c in getattr(df, "_blaze_caches", ()):
            c.unpersist()


class _FakeFrame:
    def __init__(self):
        self.persists = 0
        self.unpersists = 0

    def persist(self):
        self.persists += 1
        return self

    def unpersist(self, blocking=False):
        self.unpersists += 1


def test_refcount_survives_concurrent_acquire_and_release(monkeypatch):
    """More threads than cores acquire and release one plan key while a
    long-lived owner holds it: a lost refcount update would drop the
    count to zero and unpersist under the holder."""
    import sys
    import threading

    from blaze_spark import cache

    key = ("stress-session", 4242, (("x", "int"),))
    monkeypatch.setattr(cache, "_cache_key", lambda df: key)
    monkeypatch.setattr(cache, "_plan_is_cached", lambda df: False)
    frame = _FakeFrame()
    holder = owned_cache(frame)

    def churn():
        for _ in range(300):
            owned_cache(frame).release()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert cache._CACHE_REFS[key] == 1
    assert (frame.persists, frame.unpersists) == (1, 0)
    holder.release()
    assert key not in cache._CACHE_REFS
    assert frame.unpersists == 1
