"""Incremental hashed-feature counts store — the streaming-native fit
side of DSIR (`pipeline/selection.py`).

`dsir_log_weights`' scale form takes PRECOMPUTED (bucket, cnt)
relations ("fit once per corpus snapshot").  On a live ingest there is
no snapshot: this module maintains the counts as an ingest-partitioned
parquet store with the exact discipline of the signature and PQ stores
(`incremental_dedup` / `incremental_ann`):

- one bounded (≤ ``n_buckets`` rows) partial-counts directory per
  batch, keyed by the ``foreachBatch`` batch id → a checkpoint REPLAY
  overwrites its own subdirectory (exactly-once);
- reads sum over ``_SUCCESS``-complete ingests only — a crashed
  half-written batch is never counted;
- a ``_COUNTS_FORMAT`` stamp carrying (n_buckets, n) so a store built
  with one feature space fails loudly under another (bucket ids are
  meaningless across spaces);
- generation-manifest aware (``resolve_store_root``) and compactable
  through the shared engine — rename swap locally, copy-then-repoint
  ``_CURRENT`` flip on object stores.

Scale: each ingest directory is ≤ ``n_buckets`` rows regardless of
batch size (the partial aggregation happens IN the batch's Spark job),
so the store grows with batch COUNT, not corpus size; reading is a sum
over ≤ batches × n_buckets tiny rows, and periodic
:func:`compact_counts_store` collapses that back to one directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import Table
from ..pipeline.selection import hashed_bucket_counts
from ..sources import local_frame
from ..wire import local_only
from .incremental_dedup import (_check_sig_format, _compact_store_impl,
                                _ingest_ids, resolve_store_root)

__all__ = ["counts_format", "ingest_counts_batch", "read_bucket_counts",
           "incremental_bucket_counts", "compact_counts_store",
           "lm_counts_format", "ingest_lm_counts_batch",
           "read_lm_counts", "incremental_lm_counts"]


# the ingests' write schemas (``hashed_bucket_counts`` and
# ``ngram_lm_fit`` output): declared on read, so a store read runs no
# schema-inference job; ``ingest`` still comes from the directory names
_COUNTS_SCHEMA = "bucket long, cnt long"
_LM_COUNTS_SCHEMA = "kind string, bucket long, cnt long"


def _read_complete(spark, root: str, complete: list[int],
                   schema: str) -> DataFrame:
    """The COMPLETE ingest directories, read explicitly (VERDICT r10 #2:
    a root-wide read's schema inference may touch a crashed ingest's
    half-written footer and fail the whole read even though partition
    pruning would exclude its rows) — the compaction engine's form."""
    return (spark.read.schema(schema).option("basePath", root)
            .parquet(*[f"{root}/ingest={i}" for i in complete])
            .drop("ingest"))


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


def _check_counts_format(spark, store_path: str, has_existing: bool,
                         expected: str) -> None:
    _check_sig_format(spark, store_path, has_existing, expected,
                      marker_name="_COUNTS_FORMAT",
                      what="hashed-counts store",
                      fmt_label="feature space")


@local_only
def ingest_counts_batch(batch: Table, store_path: str,
                        n_buckets: int = 4096, n: int = 1,
                        text_col: str = "text",
                        batch_id: int | None = None) -> None:
    """Count ONE batch's hashed features and add the partial counts to
    the store.  ``batch_id`` defaults to (max existing ingest id) + 1;
    pass the ``foreachBatch`` batch id from streaming so a checkpoint
    replay overwrites its own subdirectory (exactly-once)."""
    spark = batch.df.sparkSession
    root = resolve_store_root(spark, store_path)
    existing = _ingest_ids(spark, root)
    _check_counts_format(spark, root, bool(existing),
                         counts_format(n_buckets, n))
    if batch_id is None:
        batch_id = (max(existing) + 1) if existing else 0
    counts = hashed_bucket_counts(batch, text_col, n_buckets, n)
    # ≤ n_buckets rows: one output file keeps the per-batch footprint
    # (and the read-side listing cost) minimal
    (counts.repartition(1).write.mode("overwrite")
     .parquet(f"{root}/ingest={batch_id}"))


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
            _COUNTS_SCHEMA)
    root = resolve_store_root(spark, store_path)
    complete = _ingest_ids(spark, root, complete_only=True)
    if not complete:
        raise ValueError(
            f"hashed-counts store at {store_path!r} has no complete "
            "ingests — nothing to read yet (the path may not exist, "
            "the stream may not have committed its first batch, or "
            "every ingest directory is missing its _SUCCESS marker)")
    _check_counts_format(spark, root, True, counts_format(n_buckets, n))
    df = _read_complete(spark, root, complete, _COUNTS_SCHEMA)
    return (df.groupBy("bucket")
            .agg(F.sum("cnt").cast(T.LongType()).alias("cnt")))


def incremental_bucket_counts(stream, store_path: str, checkpoint: str,
                              n_buckets: int = 4096, n: int = 1,
                              text_col: str = "text"):
    """Maintain the counts store from a Structured Streaming source:
    ``foreachBatch`` → :func:`ingest_counts_batch` keyed by the batch
    id.  Returns the started StreamingQuery."""
    def _on_batch(bdf: DataFrame, batch_id: int):
        ingest_counts_batch(Table(bdf, "counts_batch"), store_path,
                            n_buckets=n_buckets, n=n, text_col=text_col,
                            batch_id=batch_id)

    return (stream.df.writeStream.foreachBatch(_on_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


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

    spark = batch.df.sparkSession
    root = resolve_store_root(spark, store_path)
    existing = _ingest_ids(spark, root)
    _check_counts_format(spark, root, bool(existing),
                         lm_counts_format(n_buckets, n, unigrams,
                                          tokenizer))
    if batch_id is None:
        batch_id = (max(existing) + 1) if existing else 0
    counts = ngram_lm_fit(batch, text_col, n_buckets, n,
                          unigrams=unigrams, tokenizer=tokenizer)
    (counts.repartition(1).write.mode("overwrite")
     .parquet(f"{root}/ingest={batch_id}"))


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
                                   kw, _LM_COUNTS_SCHEMA)
    root = resolve_store_root(spark, store_path)
    complete = _ingest_ids(spark, root, complete_only=True)
    if not complete:
        raise ValueError(
            f"LM counts store at {store_path!r} has no complete "
            "ingests — nothing to read yet (the path may not exist, "
            "the stream may not have committed its first batch, or "
            "every ingest directory is missing its _SUCCESS marker)")
    _check_counts_format(spark, root, True,
                         lm_counts_format(n_buckets, n, unigrams,
                                          tokenizer))
    df = _read_complete(spark, root, complete, _LM_COUNTS_SCHEMA)
    return (df.groupBy("kind", "bucket")
            .agg(F.sum("cnt").cast(T.LongType()).alias("cnt")))


def incremental_lm_counts(stream, store_path: str, checkpoint: str,
                          n_buckets: int = 4096, n: int = 2,
                          text_col: str = "text",
                          unigrams: bool = False, tokenizer=None):
    """Maintain the LM counts store from a Structured Streaming source:
    ``foreachBatch`` → :func:`ingest_lm_counts_batch` keyed by the
    batch id.  Returns the started StreamingQuery."""
    def _on_batch(bdf: DataFrame, batch_id: int):
        ingest_lm_counts_batch(Table(bdf, "lm_counts_batch"),
                               store_path, n_buckets=n_buckets, n=n,
                               text_col=text_col, batch_id=batch_id,
                               unigrams=unigrams, tokenizer=tokenizer)

    return (stream.df.writeStream.foreachBatch(_on_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def compact_counts_store(spark, store_path: str,
                         strategy: str | None = None) -> None:
    """Collapse the complete ingest directories into one (the shared
    compaction engine: complete-only input, format marker carried,
    atomic rename swap or manifest repoint).  The rewrite keeps the
    PARTIAL rows (one (bucket, cnt) row per original ingest per
    bucket) rather than pre-summing — :func:`read_bucket_counts` sums
    on read either way, and the rewrite stays a pure file-layout
    operation like the other stores'.  No inner partition column
    (``part_col=None`` → the engine's single-directory rewrite): the
    whole relation is ≤ batches × n_buckets tiny rows."""
    _compact_store_impl(spark, store_path, 1, None,
                        ["_COUNTS_FORMAT"], strategy,
                        "compact_counts_store")
