"""Incremental Bloom-filter store — the streaming-native side of the
membership prefilters (``pipeline/bloom.py``).

Bloom bitmaps are ADDITIVE under bitwise OR: the union-filter of two
key sets is exactly the OR of their filters (no false negatives are
introduced, FPR follows the combined item count).  This is the exact
counterpoint to the Kneser–Ney type counts (distinct counts, NOT
additive — that store knob deliberately doesn't exist): a deny set
that GROWS per snapshot — yesterday's training data plus today's —
maintains correctly as an ingest-per-batch store OR-merged on read.

The store is ingest-partitioned (``streaming.store``: one bounded
(≤ m/64 rows) packed partial per batch keyed by the batch id,
complete-only reads, a format stamp, compaction); a read OR-merges the
partials.  The stamp carries (m_bits, k, key mode): probe positions are
meaningless across geometries, and a raw-key store must never silently
extend an n-gram store.  The writer's schema is fixed, so a read runs
no schema-inference job.

Scale: each ingest is ≤ m/64 rows regardless of batch size (the
bit_or packing happens IN the batch's job), so the store grows with
batch COUNT; :func:`compact_bloom_store` collapses the layout back to
one directory.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core import Table
from ..pipeline.bloom import (BloomFilter, _validate_mk, build_bloom,
                              build_ngram_bloom)
from ..wire import local_only
from .store import BLOOM, begin_ingest, compact, read_store, stream_ingest

__all__ = ["bloom_format", "ingest_bloom_batch", "read_bloom",
           "incremental_bloom", "compact_bloom_store"]


def bloom_format(m_bits: int, k: int, n: int | None = None) -> str:
    """Store identity: a bloom is only OR-additive within ONE
    geometry (m_bits, k) and ONE key mode — raw column keys
    (``n=None``) or token n-grams of a text column."""
    mode = "key" if n is None else f"ngram{n}"
    return f"bloom1:m{m_bits}:k{k}:{mode}"


@local_only
def ingest_bloom_batch(batch: Table, store_path: str,
                       key_col: str | None = None,
                       n: int | None = None, text_col: str = "text",
                       m_bits: int = 1 << 23, k: int = 7,
                       batch_id: int | None = None) -> None:
    """Pack ONE batch's keys (``key_col=``) or token n-grams (``n=``,
    ``text_col=``) into a bloom partial and add it to the store —
    ≤ m/64 rows per ingest regardless of batch size.  Exactly one of
    ``key_col``/``n``; the stamp pins geometry AND mode so a replayed
    or mis-pointed ingest fails loudly."""
    if (key_col is None) == (n is None):
        raise ValueError(
            "ingest_bloom_batch: pass exactly one of key_col= (raw "
            "keys) or n= (token n-grams of text_col)")
    _validate_mk(m_bits, k)
    ing = begin_ingest(batch.df.sparkSession, BLOOM, store_path,
                       bloom_format(m_bits, k, n), batch_id)
    if key_col is not None:
        bl = build_bloom(batch, key_col, m_bits, k)
    else:
        bl = build_ngram_bloom(batch, n, text_col, m_bits, k)
    ing.write(bl.df.repartition(1))


def read_bloom(spark, store_path: str, m_bits: int = 1 << 23,
               k: int = 7, n: int | None = None) -> BloomFilter:
    """The store's total filter: complete ingests OR-merged (bit_or
    per word — the union filter, exactly), geometry validated.
    Probe with ``bloom_contains`` / ``bloom_contamination``."""
    _validate_mk(m_bits, k)
    df = read_store(spark, BLOOM, store_path, bloom_format(m_bits, k, n))
    merged = (df.groupBy("word_idx")
              .agg(F.bit_or("bits").alias("bits")))
    return BloomFilter(merged, m_bits, k)


def incremental_bloom(stream, store_path: str, checkpoint: str,
                      key_col: str | None = None,
                      n: int | None = None, text_col: str = "text",
                      m_bits: int = 1 << 23, k: int = 7):
    """Maintain the bloom store from a Structured Streaming source:
    ``foreachBatch`` → :func:`ingest_bloom_batch` keyed by the batch
    id.  Returns the started StreamingQuery."""
    return stream_ingest(stream, BLOOM, checkpoint, lambda bdf, bid:
                         ingest_bloom_batch(
                             Table(bdf, "bloom_batch"), store_path,
                             key_col=key_col, n=n, text_col=text_col,
                             m_bits=m_bits, k=k, batch_id=bid))


def compact_bloom_store(spark, store_path: str,
                        strategy: str | None = None) -> None:
    """Collapse the complete ingest directories into one
    (``store.compact``; partial rows kept — reads OR-merge either
    way)."""
    compact(spark, BLOOM, store_path, "compact_bloom_store",
            strategy=strategy)
