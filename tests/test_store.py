"""The ingest-partitioned store engine (``blaze_spark.streaming.store``):
one contract across the five store families, an atomic format stamp,
and a guard that no other library module hand-writes the layout."""

from __future__ import annotations

import ast
import os
import re
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from blaze_spark import Table, data
from blaze_spark.streaming import store as st

REPO = Path(__file__).resolve().parents[1]


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _doc_batches(spark, sf_dir):
    docs = data(f"{sf_dir}/documents.parquet", spark=spark).df \
        .select("doc_id", "text")
    return [Table(docs.filter(F.col("doc_id") % 3 == i)) for i in range(3)]


def _counts(spark, sf_dir):
    from blaze_spark.streaming import incremental_counts as ic

    return SimpleNamespace(
        kind=st.COUNTS, fmt=ic.counts_format(64, 1),
        batches=_doc_batches(spark, sf_dir),
        ingest=lambda b, p, bid: ic.ingest_counts_batch(
            b, p, n_buckets=64, batch_id=bid),
        read=lambda p: _rows(ic.read_bucket_counts(spark, p, n_buckets=64)),
        compact=lambda p: ic.compact_counts_store(spark, p),
        foreign=lambda b, p: ic.ingest_counts_batch(b, p, n_buckets=32))


def _lm_counts(spark, sf_dir):
    from blaze_spark.streaming import incremental_counts as ic

    return SimpleNamespace(
        kind=st.LM_COUNTS, fmt=ic.lm_counts_format(64, 2),
        batches=_doc_batches(spark, sf_dir),
        ingest=lambda b, p, bid: ic.ingest_lm_counts_batch(
            b, p, n_buckets=64, n=2, batch_id=bid),
        read=lambda p: _rows(ic.read_lm_counts(spark, p, n_buckets=64,
                                               n=2)),
        compact=lambda p: ic.compact_counts_store(spark, p),
        foreign=lambda b, p: ic.ingest_lm_counts_batch(b, p, n_buckets=64,
                                                       n=3))


def _bloom(spark, sf_dir):
    from blaze_spark.streaming import incremental_bloom as ib

    geo = {"m_bits": 1 << 12, "k": 3}
    return SimpleNamespace(
        kind=st.BLOOM, fmt=ib.bloom_format(n=2, **geo),
        batches=_doc_batches(spark, sf_dir),
        ingest=lambda b, p, bid: ib.ingest_bloom_batch(
            b, p, n=2, batch_id=bid, **geo),
        read=lambda p: _rows(ib.read_bloom(spark, p, n=2, **geo).df),
        compact=lambda p: ib.compact_bloom_store(spark, p),
        foreign=lambda b, p: ib.ingest_bloom_batch(b, p, n=2,
                                                   m_bits=1 << 12, k=4))


def _pq_index(spark, sf_dir):
    from blaze_spark.pipeline import pq_fit
    from blaze_spark.streaming import incremental_ann as ia

    emb = data(f"{sf_dir}/embeddings.parquet", spark=spark).df \
        .select("vec_id", "embedding")
    cb = pq_fit(Table(emb), m=8, ks=16, iters=2, train_rows=200)
    return SimpleNamespace(
        kind=st.PQ_INDEX, fmt=ia.pq_index_format(cb),
        batches=[Table(emb.filter(F.col("vec_id") % 3 == i))
                 for i in range(3)],
        ingest=lambda b, p, bid: ia.ingest_pq_batch(b, p, cb,
                                                    batch_id=bid),
        read=lambda p: _rows(ia.read_pq_index(spark, p, cb).df),
        compact=lambda p: ia.compact_pq_store(spark, p),
        foreign=lambda b, p: ia.ingest_pq_batch(b, p, cb + 1.0))


def _signatures(spark, sf_dir):
    from blaze_spark.streaming import incremental_dedup as inc

    return SimpleNamespace(
        kind=st.SIGNATURES, fmt=inc._SIG_FORMAT,
        batches=_doc_batches(spark, sf_dir),
        ingest=lambda b, p, bid: inc.process_batch(b, p, batch_id=bid),
        # the signature store is probed, not read: the engine's read
        read=lambda p: _rows(st.read_store(spark, st.SIGNATURES, p,
                                           inc._SIG_FORMAT)),
        compact=lambda p: inc.compact_store(spark, p),
        foreign=lambda b, p: inc.process_batch(b, p, method="simhash"))


@pytest.mark.parametrize("family", [_counts, _lm_counts, _bloom, _pq_index,
                                    _signatures],
                         ids=lambda f: f.__name__.lstrip("_"))
def test_store_contract(spark, sf_dir, tmp_path, family):
    f = family(spark, sf_dir)
    b0, b1, c = f.batches

    # reading a missing path raises and creates nothing
    missing = str(tmp_path / "missing")
    with pytest.raises(ValueError, match="no complete ingests"):
        f.read(missing)
    assert not os.path.exists(missing)

    # a fresh ingest stamps the store
    store = str(tmp_path / "store")
    f.ingest(b0, store, 0)
    assert (Path(store) / f.kind.marker).read_text().strip() == f.fmt
    f.ingest(b1, store, 1)
    want = f.read(store)

    # a foreign format is refused
    with pytest.raises(ValueError, match=f.kind.fmt_label):
        f.foreign(b0, store)

    # replaying a batch id overwrites that batch
    replay = str(tmp_path / "replay")
    f.ingest(b0, replay, 0)
    f.ingest(c, replay, 1)
    assert f.read(replay) != want
    f.ingest(b1, replay, 1)
    assert f.read(replay) == want

    # an ingest without _SUCCESS is invisible to reads and to compaction
    f.ingest(c, store, 9)
    os.remove(f"{store}/ingest=9/_SUCCESS")
    assert st.ingest_ids(spark, store) == [0, 1, 9]
    assert st.ingest_ids(spark, store, complete_only=True) == [0, 1]
    assert f.read(store) == want

    # compaction keeps the highest complete id and leaves the read as is
    f.compact(store)
    assert st.ingest_ids(spark, store) == [1]
    assert f.read(store) == want


def test_format_stamp_is_atomic_across_threads(spark, tmp_path):
    """Concurrent first ingests of one fresh store: exactly one format
    is accepted, and threads stamping the same format never read a
    half-written stamp as a mismatch."""
    def race(formats):
        path = str(tmp_path / uuid.uuid4().hex)
        gate = threading.Barrier(len(formats))

        def one(fmt):
            gate.wait()
            try:
                st.check_format(spark, st.SIGNATURES, path, fmt, False)
                return fmt
            except ValueError:
                return None

        with ThreadPoolExecutor(len(formats)) as pool:
            got = list(pool.map(one, formats))
        return got, (Path(path) / "_SIG_FORMAT").read_text()

    for _ in range(10):
        got, stamp = race([f"fmt{i}" for i in range(8)])
        assert [g for g in got if g] == [stamp]
        got, stamp = race(["same"] * 8)
        assert got == ["same"] * 8 and stamp == "same"


_MARKER_NAME = re.compile(r"_[A-Z]+_FORMAT")
_INGEST_PATH = re.compile(r"\bingest=")


def _layout_sites():
    """(file, line, what) for every library or entry-file string that
    builds an ``ingest=`` path or names a format marker, and every
    private import from ``incremental_dedup``, outside ``store.py``."""
    files = sorted((REPO / "blaze_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    sites = []
    for path in files:
        rel = path.relative_to(REPO).as_posix()
        if rel == "blaze_spark/streaming/store.py":
            continue
        tree = ast.parse(path.read_text())
        docstrings = {
            id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in docstrings
                    and (_INGEST_PATH.search(node.value)
                         or _MARKER_NAME.fullmatch(node.value))):
                sites.append((rel, node.lineno, node.value))
            if (isinstance(node, ast.ImportFrom)
                    and (node.module or "").endswith("incremental_dedup")):
                sites += [(rel, node.lineno, a.name) for a in node.names
                          if a.name.startswith("_")]
    return sites


def test_only_the_store_engine_writes_the_layout():
    sites = _layout_sites()
    assert not sites, (
        "declare a store with one streaming.store.StoreKind and go "
        "through the engine (begin_ingest / read_store / compact / "
        f"stream_ingest): {sites}")
