"""Structured Streaming surface — green-field extension (SURVEY.md §1.1:
the reference has NO event-time streaming; its "streaming" is lazy Python
iterators).  This module gives the engine the streaming operators a modern
pipeline needs: event-time windows, watermarked late-data handling, and
custom stateful operators.

Design: a ``StreamTable`` wraps a streaming DataFrame with the same
declarative flavor as ``Table``; windowed aggregations lower to Spark's
tumbling/sliding/session windows (incremental partial aggregation + state
store — the streaming analogue of the reference's split() partial/final
algebra, blaze/expr/split.py, which Spark maintains incrementally).

Scale notes: watermarks bound state store size; session windows merge
state per key; ``foreachBatch``/``availableNow`` give exactly-once file
sinks.  All tested locally via availableNow + memory sink.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import ColExpr, Reduction, Table
from ..sources import (_nanos_to_micros, _resolve_schema,
                       _rewrite_ntz_schema)

__all__ = ["StreamTable", "stream_data", "stream_by_window"]


def stream_data(spark: SparkSession, path: str, fmt: str = "parquet",
                schema=None, max_files_per_trigger: int | None = None,
                **options) -> "StreamTable":
    """Bind a file-based streaming source.  Schema is required by Spark for
    file streams; if omitted it is sniffed from the existing files with
    the same reader ``options`` through ``data()``'s memoized resolver
    (a batch metadata read, no data scan; none at all on a repeat)."""
    ns_cols: tuple[str, ...] = ()
    if schema is None:
        found = _resolve_schema(spark, fmt, path, options)
        schema, ns_cols = found.schema, found.ns_cols
    # Naive-timestamp parquet sniffs as TIMESTAMP_NTZ under Spark >= 3.4's
    # inferTimestampNTZ, and withWatermark rejects NTZ event-time columns
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).  Declare the stream schema
    # with TimestampType instead — the parquet reader interprets the naive
    # values in the session zone (pinned UTC => value-preserving), exactly
    # matching the batch reader's _normalize_ntz cast.
    schema = _rewrite_ntz_schema(schema)
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    # file streams require a directory; a single-file path becomes
    # parent dir + glob filter
    import os

    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return StreamTable(_nanos_to_micros(reader.load(path), ns_cols))


class StreamTable(Table):
    """A Table over an unbounded source.  Inherits the projection /
    selection / transform surface (they lower identically); adds
    watermarking, windowed grouping, stateful ops, and sinks."""

    def with_watermark(self, ts_col: str, delay: str) -> "StreamTable":
        """Late-data bound: state for windows older than max(event time) -
        delay is finalized and dropped (bounded state at scale)."""
        return StreamTable(self._df.withWatermark(ts_col, delay))

    # -- windowed aggregation ------------------------------------------------
    def by_window(self, ts_col: str, window: str, slide: str | None = None,
                  extra_keys: list[str] | None = None,
                  **reductions: "Reduction | object") -> "StreamTable":
        """Tumbling (no slide) or sliding windowed aggregation."""
        w = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
        keys = [w.alias("window")] + [F.col(k) for k in (extra_keys or [])]
        aggs = [_agg_col(r).alias(name) for name, r in reductions.items()]
        return StreamTable(self._df.groupBy(*keys).agg(*aggs))

    def by_session(self, ts_col: str, gap: str,
                   extra_keys: list[str] | None = None,
                   **reductions) -> "StreamTable":
        """Session windows: rows within ``gap`` of each other merge into one
        session per key (state-store session merge)."""
        w = F.session_window(ts_col, gap)
        keys = [w.alias("session")] + [F.col(k) for k in (extra_keys or [])]
        aggs = [_agg_col(r).alias(name) for name, r in reductions.items()]
        return StreamTable(self._df.groupBy(*keys).agg(*aggs))

    def drop_duplicates_within_watermark(self, subset: list[str]) -> "StreamTable":
        """Streaming dedup: drops duplicates on ``subset`` among rows whose
        event times fall within the watermark delay — state is bounded by
        the watermark instead of growing forever (requires a prior
        ``with_watermark``)."""
        return StreamTable(self._df.dropDuplicatesWithinWatermark(subset))

    def join_static(self, dim: Table, on_left: str, on_right: str,
                    how: str = "inner") -> "StreamTable":
        """Stream-static join: each micro-batch joins against the (batch)
        dimension table — broadcast by Catalyst when small.  For
        stream-stream joins use ``join_stream`` with watermarks on both
        sides."""
        cond = self._df[on_left] == dim.df[on_right]
        return StreamTable(self._df.join(dim.df, cond, how))

    def join_stream(self, other: "StreamTable", on: list[str] | str,
                    how: str = "inner") -> "StreamTable":
        """Stream-stream join; both sides should be watermarked so the
        state store can discard expired rows."""
        keys = [on] if isinstance(on, str) else list(on)
        return StreamTable(self._df.join(other.df, keys, how))

    # -- custom stateful operator -------------------------------------------
    def stateful_apply(self, key_cols: list[str], fn: Callable,
                       state_schema: str, output_schema: str,
                       timeout: str = "NoTimeout") -> "StreamTable":
        """Arbitrary per-key stateful computation via
        ``applyInPandasWithState`` (the extension point the reference has no
        analogue for).  ``fn(key, pdf_iter, state) -> iter[pdf]``."""
        out = self._df.groupBy(*key_cols).applyInPandasWithState(
            fn, outputStructType=output_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=timeout)
        return StreamTable(out)

    # -- sinks ---------------------------------------------------------------
    def to_memory(self, name: str, output_mode: str = "complete",
                  await_done: bool = True):
        """Drain all available input into an in-memory table (testing /
        interactive); returns the query handle."""
        q = (self._df.writeStream.format("memory").queryName(name)
             .outputMode(output_mode).trigger(availableNow=True).start())
        if await_done:
            q.awaitTermination()
        return q

    def to_parquet(self, path: str, checkpoint: str,
                   output_mode: str = "append", await_done: bool = True):
        q = (self._df.writeStream.format("parquet").option("path", path)
             .option("checkpointLocation", checkpoint)
             .outputMode(output_mode).trigger(availableNow=True).start())
        if await_done:
            q.awaitTermination()
        return q

    def foreach_batch(self, fn: Callable[[DataFrame, int], None],
                      await_done: bool = True):
        q = (self._df.writeStream.foreachBatch(fn)
             .trigger(availableNow=True).start())
        if await_done:
            q.awaitTermination()
        return q


def _agg_col(r):
    if isinstance(r, Reduction):
        return r.col
    if isinstance(r, ColExpr):
        return r.col
    return r


def stream_by_window(t: StreamTable, ts_col: str, window: str, **reductions):
    return t.by_window(ts_col, window, **reductions)
