"""Incremental hashed-feature counts store — the streaming-native fit
side of DSIR (`pipeline/selection.py`).

`dsir_log_weights`' scale form takes PRECOMPUTED (bucket, cnt)
relations ("fit once per corpus snapshot").  On a live ingest there is
no snapshot: this module maintains the counts as an ingest-partitioned
parquet store (``streaming.store``: one bounded partial per batch keyed
by the batch id, complete-only reads, a format stamp, compaction).  The
stamp carries (n_buckets, n): bucket ids are meaningless across feature
spaces.  Each ingest is ≤ ``n_buckets`` rows regardless of batch size
(the partial aggregation happens IN the batch's Spark job); a read sums
the partials.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import Table
from ..pipeline.selection import hashed_bucket_counts
from ..sources import local_frame
from ..wire import local_only
from .store import (COUNTS, LM_COUNTS, begin_ingest, compact, read_store,
                    stream_ingest)

__all__ = ["counts_format", "ingest_counts_batch", "read_bucket_counts",
           "incremental_bucket_counts", "compact_counts_store",
           "lm_counts_format", "ingest_lm_counts_batch",
           "read_lm_counts", "incremental_lm_counts"]


def _remote_counts_leaf(spark, store_uri: str, op: str, kw: dict,
                        schema: str) -> Table:
    """A ``blaze://host:port::store_name`` counts read (r14, ROADMAP
    #11): returns a RemoteTable whose tree is the store leaf — feed it
    straight to ``ngram_lm_logprob(counts=...)`` /
    ``dsir_log_weights(raw_counts=...)`` on a same-server corpus and
    the scoring runs entirely server-side against the persisted store,
    no literal-rows transfer.  The name resolves from the SERVER's
    registered-store namespace (``BlazeSparkServer(stores={...})``);
    geometry/tokenizer kwargs re-validate server-side against the
    store's format stamp, so a mismatch fails as loudly as a local
    read.  ``.compute()`` fetches the bounded total relation when the
    client wants it locally."""
    from ..client import Client, RemoteTable

    head, _, name = store_uri.rpartition("::")
    if not name or any(c in name for c in ":]/"):
        raise ValueError(
            f"remote counts store URI must be "
            f"'blaze://host:port::store_name', got {store_uri!r}")
    client = Client(head, spark=spark)
    empty = local_frame(spark, [], schema)
    rt = RemoteTable(empty, name, client=client)
    rt._tree = {"op": op, "args": [name, kw]}
    return rt


def counts_format(n_buckets: int, n: int) -> str:
    """Store identity: counts are only additive within ONE feature
    space (same bucket count, same n-gram order)."""
    return f"1:b{n_buckets}:n{n}"


@local_only
def ingest_counts_batch(batch: Table, store_path: str,
                        n_buckets: int = 4096, n: int = 1,
                        text_col: str = "text",
                        batch_id: int | None = None) -> None:
    """Count ONE batch's hashed features and add the partial counts to
    the store.  ``batch_id`` defaults to (max existing ingest id) + 1;
    pass the ``foreachBatch`` batch id from streaming so a checkpoint
    replay overwrites its own subdirectory (exactly-once)."""
    ing = begin_ingest(batch.df.sparkSession, COUNTS, store_path,
                       counts_format(n_buckets, n), batch_id)
    # ≤ n_buckets rows: one output file keeps the per-batch footprint
    # (and the read-side listing cost) minimal
    ing.write(hashed_bucket_counts(batch, text_col, n_buckets, n)
              .repartition(1))


def read_bucket_counts(spark, store_path: str, n_buckets: int = 4096,
                       n: int = 1):
    """The store's total (bucket, cnt) relation — complete ingests
    only, summed; validates the feature space matches.  Feed directly
    to ``dsir_log_weights(raw_counts=..., target_counts=...)``.

    A ``blaze://host:port::store_name`` path returns the REMOTE leaf
    instead (r14): the relation materializes where the store lives —
    chain it into same-server DSIR scoring, or ``.compute()`` it."""
    if store_path.startswith("blaze://"):
        return _remote_counts_leaf(
            spark, store_path, "read_bucket_counts",
            {"n_buckets": int(n_buckets), "n": int(n)},
            COUNTS.schema)
    df = read_store(spark, COUNTS, store_path, counts_format(n_buckets, n))
    return (df.groupBy("bucket")
            .agg(F.sum("cnt").cast(T.LongType()).alias("cnt")))


def incremental_bucket_counts(stream, store_path: str, checkpoint: str,
                              n_buckets: int = 4096, n: int = 1,
                              text_col: str = "text"):
    """Maintain the counts store from a Structured Streaming source:
    ``foreachBatch`` → :func:`ingest_counts_batch` keyed by the batch
    id.  Returns the started StreamingQuery."""
    return stream_ingest(stream, COUNTS, checkpoint, lambda bdf, bid:
                         ingest_counts_batch(
                             Table(bdf, "counts_batch"), store_path,
                             n_buckets=n_buckets, n=n,
                             text_col=text_col, batch_id=bid))


def lm_counts_format(n_buckets: int, n: int,
                     unigrams: bool = False,
                     tokenizer=None) -> str:
    """Store identity for an n-gram LM fit store: counts carry a
    ``kind`` ('gram'/'ctx') dimension, so the format string is distinct
    from the flat DSIR store's — pointing either reader at the other's
    store fails loudly with a feature-space mismatch.

    ``unigrams=True`` (r13 second half) appends ``:u1`` — a
    lower-order-carrying store (backoff/interp scoring needs 'uni' +
    intermediate kinds) is a DIFFERENT feature space from a plain one:
    mixing them would sum relations only half the ingests emitted.  A
    non-default ``tokenizer`` appends ``:tok<md5-8>`` of its canonical
    wire form, so a store fitted under one tokenization can never be
    silently extended or read under another.  Defaults keep the r11
    stamp byte-identical (existing stores stay valid)."""
    fmt = f"lm1:b{n_buckets}:n{n}"
    if unigrams:
        fmt += ":u1"
    if tokenizer is not None:
        import hashlib
        import json

        from ..pipeline.tokenizer import _tokenizer_wire
        enc = json.dumps(_tokenizer_wire(tokenizer), sort_keys=True,
                         separators=(",", ":"))
        fmt += ":tok" + hashlib.md5(enc.encode()).hexdigest()[:8]
    return fmt


@local_only
def ingest_lm_counts_batch(batch: Table, store_path: str,
                           n_buckets: int = 4096, n: int = 2,
                           text_col: str = "text",
                           batch_id: int | None = None,
                           unigrams: bool = False,
                           tokenizer=None) -> None:
    """Fit ONE batch's n-gram LM counts (``pipeline/lm.ngram_lm_fit``:
    gram + context-as-context, one tokenization pass) and add the
    partial (kind, bucket, cnt) rows to the store — ≤ 2·n_buckets rows
    per ingest regardless of batch size (≤ (2n−1)·n_buckets with
    ``unigrams=True``, which also emits the lower-order kinds so the
    store can feed ``backoff=``/``interpolate=`` scoring).  Same
    exactly-once / complete-only / format-stamp discipline as
    :func:`ingest_counts_batch`; LM counts are additive across batches
    for the same reason DSIR's are (both are occurrence counts), and
    the multi-order kinds are additive for the same reason.  A
    ``tokenizer=`` changes the feature space — the stamp carries its
    hash, so a store can never silently mix tokenizations."""
    from ..pipeline.lm import ngram_lm_fit

    ing = begin_ingest(batch.df.sparkSession, LM_COUNTS, store_path,
                       lm_counts_format(n_buckets, n, unigrams, tokenizer),
                       batch_id)
    ing.write(ngram_lm_fit(batch, text_col, n_buckets, n,
                           unigrams=unigrams, tokenizer=tokenizer)
              .repartition(1))


def read_lm_counts(spark, store_path: str, n_buckets: int = 4096,
                   n: int = 2, unigrams: bool = False,
                   tokenizer=None):
    """The store's total (kind, bucket, cnt) relation — complete
    ingests only, summed; validates the feature space.  Feed directly
    to ``ngram_lm_logprob(counts=...)`` / ``perplexity_filter``.

    A ``blaze://host:port::store_name`` path returns the REMOTE leaf
    instead (r14, ROADMAP #11): pass it as ``counts=`` on a
    same-server corpus and scoring runs against the persisted store
    server-side — the counts never cross the wire as literal rows."""
    if store_path.startswith("blaze://"):
        kw = {"n_buckets": int(n_buckets), "n": int(n)}
        if unigrams:
            kw["unigrams"] = True
        if tokenizer is not None:
            from ..pipeline.tokenizer import _tokenizer_wire
            kw["tokenizer"] = _tokenizer_wire(tokenizer)
        return _remote_counts_leaf(spark, store_path, "read_lm_counts",
                                   kw, LM_COUNTS.schema)
    df = read_store(spark, LM_COUNTS, store_path,
                    lm_counts_format(n_buckets, n, unigrams, tokenizer))
    return (df.groupBy("kind", "bucket")
            .agg(F.sum("cnt").cast(T.LongType()).alias("cnt")))


def incremental_lm_counts(stream, store_path: str, checkpoint: str,
                          n_buckets: int = 4096, n: int = 2,
                          text_col: str = "text",
                          unigrams: bool = False, tokenizer=None):
    """Maintain the LM counts store from a Structured Streaming source:
    ``foreachBatch`` → :func:`ingest_lm_counts_batch` keyed by the
    batch id.  Returns the started StreamingQuery."""
    return stream_ingest(stream, LM_COUNTS, checkpoint, lambda bdf, bid:
                         ingest_lm_counts_batch(
                             Table(bdf, "lm_counts_batch"), store_path,
                             n_buckets=n_buckets, n=n, text_col=text_col,
                             batch_id=bid, unigrams=unigrams,
                             tokenizer=tokenizer))


def compact_counts_store(spark, store_path: str,
                         strategy: str | None = None) -> None:
    """Collapse the complete ingest directories of a hashed-counts or
    LM counts store into one (``store.compact``).  The rewrite keeps
    the PARTIAL rows rather than pre-summing — the readers sum either
    way, and the rewrite stays a pure file-layout operation like the
    other stores'.  One file: the whole relation is ≤ batches ×
    n_buckets tiny rows."""
    # both counts kinds share the marker and have no inner partition
    # column, so COUNTS compacts either
    compact(spark, COUNTS, store_path, "compact_counts_store",
            strategy=strategy)
