"""Sources & sinks: ``data()`` — the reference's resource/URI entry point
(blaze/expr/literal.py:125-243; odo URI dispatch).

URI-style strings resolve by extension/scheme; schema discovery is Spark's
reader inference (the reference delegates to ``odo.discover``,
blaze/expr/literal.py:166-198) with optional explicit ``schema=`` override.
As in the reference, a leaf discovers its schema once: an inferred file
schema is memoized per process (``_resolve_schema``), keyed by format,
paths, reader options, the session's SQL conf and each local file's
(relative path, size, mtime_ns), together with the normalized leaf
``data()`` built from it.  A repeat read of unchanged local files in the
same session reuses that leaf: no Spark job and no analysis, a few
gateway calls.  Remote schemes and gateway-less (Spark Connect) sessions
infer on every read.

Scale notes: parquet/orc readers give Catalyst column pruning + predicate
pushdown + partition pruning for free; CSV/JSON get projection pushdown.
``spark.read.jdbc`` covers the reference's SQLAlchemy sources
(blaze/compute/sql.py); HDF5/bcolz/PyTables chunked stores map to
parquet/ORC (SURVEY.md §2.1).
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict
from typing import Any
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from ..core import Table

_EXT_FORMAT = {
    ".parquet": "parquet",
    ".pq": "parquet",
    ".orc": "orc",
    ".csv": "csv",
    ".tsv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
    ".avro": "avro",
    ".txt": "text",
}


def _infer_format(uri: str) -> str:
    low = uri.lower().rstrip("/")
    for ext, fmt in _EXT_FORMAT.items():
        if low.endswith(ext):
            return fmt
    return "parquet"


def data(source: Any, *, spark: SparkSession | None = None,
         schema=None, fmt: str | None = None, name: str | None = None,
         **options) -> Table:
    """Bind a resource to a leaf (reference ``data()``/``literal``:
    blaze/expr/literal.py:125-243).

    Accepts:
      - a path/URI string (format inferred from extension; override ``fmt``)
      - ``jdbc:...`` URIs with ``dbtable=`` option (SQL sources)
      - a ``pyspark.sql.DataFrame``
      - a list of rows / pandas DataFrame (``spark.createDataFrame``)

    A file source without ``schema=`` discovers its schema once per
    (files, options, session conf): a repeat read of unchanged local
    files reuses the memoized normalized leaf (see ``_leaf``) and runs no
    Spark job and no analysis.  Two such reads share one plan, so join
    them through ``join`` (which aliases its sides), not through raw
    ``a.df[c] == b.df[c]`` column references, which Spark rejects as an
    ambiguous self-join.  An explicit ``schema=`` is read as given.
    """
    if isinstance(source, Table):
        return source
    if isinstance(source, DataFrame):
        return Table(_normalize_ntz(source), name)

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession; pass spark=")

    if isinstance(source, str):
        if source.startswith("jdbc:"):
            reader = spark.read.format("jdbc").option("url", source)
            for k, v in options.items():
                reader = reader.option(k, v)
            return Table(_normalize_ntz(reader.load()), name)
        if source.startswith(("mongodb://", "mongodb+srv://")):
            return _mongo_table(spark, source, schema=schema, name=name,
                                **options)
        if source.startswith("blaze://"):
            # remote dataset leaf (reference blaze/server/client.py:
            # 249-268).  'blaze://host:port::name' -> that RemoteTable;
            # bare 'blaze://host:port' -> the Client namespace (the
            # reference 0.8.1+ form: data(uri)['name']).
            from ..client import Client

            url, dataset = source, None
            if "::" in source:
                head, tail = source.rsplit("::", 1)
                # dataset names are identifiers; ':'/']'/'/' in the tail
                # means the '::' belonged to an IPv6 host ([::1]:6363)
                if tail and not any(c in tail for c in ":]/"):
                    url, dataset = head, tail
            ckw = {k: options.pop(k) for k in
                   ("auth_token", "serial", "timeout",
                    "compute_timeout") if k in options}
            if options:
                raise TypeError(
                    f"unsupported blaze:// options: {sorted(options)}")
            client = Client(url, spark=spark, **ckw)
            return client[dataset] if dataset is not None else client
        f = fmt or _infer_format(source)
        if f == "csv":
            options.setdefault("header", "true")
            if schema is None:
                options.setdefault("inferSchema", "true")
            if source.lower().endswith(".tsv"):
                options.setdefault("sep", "\t")
        if schema is None:
            df = _leaf(spark, f, source, options)
        else:
            df = _normalize_ntz(
                _reader(spark, f, options).schema(schema).load(source))
        t = Table(df, name or _basename(source))
        t._tree = {"op": "data", "args": [source]}
        return t

    # in-memory rows / pandas
    return Table(_normalize_ntz(spark.createDataFrame(source, schema=schema)),
                 name)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# LRU of _Schema entries by _schema_key; the bound keeps a process that
# reads many distinct paths from growing without limit
_SCHEMA_MEMO_SIZE = 256
_schema_memo: OrderedDict = OrderedDict()
_schema_memo_lock = threading.Lock()


class _Schema:
    """A memo entry: the inferred ``schema``, its parquet
    TIMESTAMP(NANOS) columns ``ns_cols`` and, once ``data()`` has built
    it, the normalized ``leaf``: ``(JVM session, JVM Dataset, whether
    the leaf cast TIMESTAMP_NTZ columns)``."""

    __slots__ = ("schema", "ns_cols", "leaf")

    def __init__(self, schema, ns_cols):
        self.schema, self.ns_cols, self.leaf = schema, ns_cols, None


def _reader(spark: SparkSession, fmt: str, options: dict):
    reader = spark.read.format(fmt)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader


def _resolve_schema(spark: SparkSession, fmt: str, path: str,
                    options: dict) -> _Schema:
    """The ``_Schema`` of a batch read of ``path`` with ``options``: the
    schema it infers and its parquet TIMESTAMP(NANOS) columns (a footer
    sniff).  Sets the nanosAsLong conf when there are any: Spark cannot
    scan some TIMESTAMP(NANOS) parquet, so the read that follows takes
    them as raw int64 nanos (see ``_nanos_to_micros``).

    Memoized by ``_schema_key``: a hit runs no Spark job and reads no
    footer; a miss infers as Spark does and stores the result.  Reads
    that cannot be keyed (remote schemes, globs, Spark Connect) infer
    every time."""
    key = _schema_key(spark, fmt, path, options)
    with _schema_memo_lock:
        found = _schema_memo.get(key) if key is not None else None
        if found is not None:
            _schema_memo.move_to_end(key)
    if found is not None:
        if found.ns_cols:
            spark.conf.set(_NANOS_AS_LONG, "true")
        return found
    ns_cols = tuple(_nanos_timestamp_cols(path)) if fmt == "parquet" else ()
    if ns_cols:
        spark.conf.set(_NANOS_AS_LONG, "true")
    found = _Schema(_reader(spark, fmt, options).load(path).schema, ns_cols)
    if key is not None:
        with _schema_memo_lock:
            _schema_memo[key] = found
            if len(_schema_memo) > _SCHEMA_MEMO_SIZE:
                _schema_memo.popitem(last=False)
    return found


def _leaf(spark: SparkSession, fmt: str, path: str,
          options: dict) -> DataFrame:
    """The normalized leaf frame of an inferred-schema read (read under
    the resolved schema, nanos converted, NTZ cast).  The memo entry
    keeps the leaf's JVM Dataset: a hit in the same JVM session wraps it
    in a new Python ``DataFrame`` (no reader call, no analysis; a fresh
    wrapper so owned-cache finalizers never attach to the memo's frame)
    and repeats the non-UTC warning when the leaf cast NTZ columns."""
    entry = _resolve_schema(spark, fmt, path, options)
    jsession = getattr(spark, "_jsparkSession", None)
    leaf = entry.leaf
    if leaf is not None and leaf[0] is jsession:
        if leaf[2]:
            _warn_if_non_utc(spark)
        return DataFrame(leaf[1], spark)
    read = _nanos_to_micros(
        _reader(spark, fmt, options).schema(entry.schema).load(path),
        entry.ns_cols)
    df = _normalize_ntz(read)
    if jsession is not None:
        entry.leaf = (jsession, df._jdf, df is not read)
    return df


def _schema_key(spark: SparkSession, fmt: str, path: str, options: dict):
    """Everything schema inference reads: format, path, reader options,
    the session's SQL conf (exact) and the local file listing.  None
    when the read is not memoized: a non-local path, where listing the
    remote tree on every read could cost more than the job it saves,
    or a session without a JVM gateway (Spark Connect)."""
    listing = _local_listing(path)
    if listing is None:
        return None
    try:
        conf = spark._jsparkSession.conf().getAll().toString()
    except AttributeError:
        return None
    return (fmt, os.path.abspath(listing[0]),
            tuple(sorted((k, str(v)) for k, v in options.items())),
            conf, listing[1])


def _local_listing(path: str):
    """``(local path, files)`` with ``files`` the sorted
    (relative path, size, mtime_ns) of every file under ``path`` (a
    file or a directory tree); None for a non-local URI, a glob or a
    path that does not exist."""
    scheme = re.match(r"([A-Za-z][\w+.-]*):", path)
    if scheme and scheme.group(1).lower() == "file":
        path = urlparse(path).path
    elif scheme or any(c in path for c in "*?[{"):
        return None
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return path, (("", st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(path):
            return None
        files = []
        for root, _, names in os.walk(path, followlinks=True):
            for n in names:
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size,
                              st.st_mtime_ns))
    except FileNotFoundError:    # a file went away mid-listing
        return None
    return path, tuple(sorted(files))


def _nanos_to_micros(df: DataFrame, ns_cols) -> DataFrame:
    """TIMESTAMP(NANOS) columns read as raw int64 nanos become
    microsecond timestamps scan-side (a codegen'd projection).
    Spark-4-written ns files load natively as TimestampType even under
    the nanosAsLong conf, so only the columns that came back as longs
    convert: dtype-gated, not sniff-trusted."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    conv = {c: F.timestamp_micros((df[c] / 1000).cast("long"))
            for c in ns_cols
            if isinstance(df.schema[c].dataType, T.LongType)}
    return df.withColumns(conv) if conv else df


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-side literal table (tuple ``rows`` under a declared
    ``schema``: a StructType or a DDL string) as a ``LocalRelation``.

    ``spark.createDataFrame(rows, schema)`` on a row list builds a
    ``LogicalRDD`` over pickled rows on classic PySpark: every scan of it
    runs ``defaultParallelism`` Python worker tasks just to unpickle a
    few literals.  An Arrow table goes to the JVM in one batch and plans
    as a ``LocalTableScan`` whatever the Arrow conf, empty rows
    included."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    width = len(schema.fields)
    if any(len(r) != width for r in rows):
        raise ValueError(f"local_frame: every row needs {width} values "
                         f"for schema {schema.simpleString()}")
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow_schema)], schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def _parse_mongo_uri(uri: str) -> tuple[str, str | None, str | None]:
    """Split the reference's mongo URI dialect
    ``mongodb://host:port/db::collection``
    (blaze/compute/tests/test_mongo_compute.py:384-405; odo resource
    dispatch) into (connection_uri, database, collection).  The
    ``::collection`` suffix is a blaze-ism — it is stripped before the
    URI reaches any driver."""
    coll = None
    base = uri
    rest = uri.split("://", 1)[1]
    # only a '::' in the PATH segment (after the last '/') is the
    # collection separator — '::' in an IPv6 host ([::1]) or in
    # credentials must not be split
    path_start = rest.find("/")
    if path_start != -1 and "::" in rest[path_start:]:
        base, post = uri.rsplit("::", 1)
        # a query string may trail the collection ('db::coll?x=y'): it
        # belongs on the connection URI, not in the collection name
        # (ADVICE r6); '?opts::coll' stays supported — there the options
        # are already on ``base``
        coll, _, q = post.partition("?")
        if q:
            base += ("&" if "?" in base else "?") + q
    db = None
    if path_start != -1:
        tail = rest[path_start + 1:]
        if coll is not None:
            tail = tail.rsplit("::", 1)[0]
        db = tail.split("?", 1)[0] or None
    return base, db, coll


def _mongo_table(spark: SparkSession, uri: str, *, schema=None,
                 name: str | None = None, **options) -> Table:
    """MongoDB source (reference blaze/compute/mongo.py:106-497 — but
    Spark-first: the official mongo-spark connector partitions the
    collection server-side and pushes projections/filters down, so a
    sharded 10 TB collection scans in parallel like any other source).

    Resolution order, each step honestly gated:

    1. the ``mongodb`` Spark connector (if its jar is on the classpath) —
       the ONLY scale path;
    2. a pymongo driver-side ingest (small collections only: the driver
       materializes the documents, then parallelizes) — gated behind
       ``allow_driver_ingest=True`` so nobody falls onto it silently;
    3. a clear ImportError telling the user which of the two to install.
    """
    base, db, coll = _parse_mongo_uri(uri)
    if coll is None:
        coll = options.pop("collection", None)
    if coll is None:
        raise ValueError(
            "mongodb URI needs a collection: use the reference dialect "
            "'mongodb://host:port/db::collection' or pass collection=")
    allow_ingest = bool(options.pop("allow_driver_ingest", False))
    try:
        reader = (spark.read.format("mongodb")
                  .option("connection.uri", base)
                  .option("collection", coll))
        if db is not None:
            reader = reader.option("database", db)
        if schema is not None:
            reader = reader.schema(schema)
        for k, v in options.items():
            reader = reader.option(k, str(v))
        t = Table(_normalize_ntz(reader.load()), name or coll)
        t._tree = {"op": "data", "args": [uri]}
        return t
    except Exception as exc:  # connector jar absent -> AnalysisException
        if "Failed to find" not in str(exc) and "ClassNotFound" not in str(exc):
            raise
        connector_err = exc
    try:
        import pymongo  # noqa: F401
    except ImportError:
        raise ImportError(
            "mongodb source needs either the mongo-spark connector on the "
            "Spark classpath (org.mongodb.spark:mongo-spark-connector — "
            "the scale path; server-side partitioning + pushdown) or "
            "pymongo for a driver-side ingest of SMALL collections "
            f"(opt in with allow_driver_ingest=True). Connector probe: "
            f"{connector_err}") from connector_err
    if not allow_ingest:
        raise RuntimeError(
            "mongo-spark connector not on the classpath and driver-side "
            "pymongo ingest is opt-in (it materializes the collection on "
            "the driver — small collections only): pass "
            "allow_driver_ingest=True or install the connector")
    if db is None:
        raise ValueError(
            "mongodb URI needs a database for the driver ingest: "
            "'mongodb://host:port/db::collection'")
    client = pymongo.MongoClient(base)
    docs = list(client[db][coll].find(projection={"_id": False}))
    t = Table(_normalize_ntz(
        spark.createDataFrame(docs, schema=schema)), name or coll)
    t._tree = {"op": "data", "args": [uri]}
    return t


def _rewrite_ntz_type(dt):
    """Recursively rewrite TIMESTAMP_NTZ to TimestampType inside any
    struct/array/map nesting.  Returns (new_type, changed)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType(), True
    if isinstance(dt, T.StructType):
        fields, changed = [], False
        for f in dt.fields:
            new, ch = _rewrite_ntz_type(f.dataType)
            changed |= ch
            fields.append(T.StructField(f.name, new, f.nullable, f.metadata))
        return (T.StructType(fields), True) if changed else (dt, False)
    if isinstance(dt, T.ArrayType):
        new, ch = _rewrite_ntz_type(dt.elementType)
        return (T.ArrayType(new, dt.containsNull), True) if ch else (dt, False)
    if isinstance(dt, T.MapType):
        nk, ck = _rewrite_ntz_type(dt.keyType)
        nv, cv = _rewrite_ntz_type(dt.valueType)
        if ck or cv:
            return T.MapType(nk, nv, dt.valueContainsNull), True
        return dt, False
    return dt, False


def _rewrite_ntz_schema(schema):
    """Schema-level NTZ -> TimestampType rewrite (for streaming sources,
    whose schema must be declared before load)."""
    new, _ = _rewrite_ntz_type(schema)
    return new


def _warn_if_non_utc(spark: SparkSession) -> None:
    """NTZ -> TimestampType is value-preserving only under a UTC session
    zone; warn (don't fail) when a user session is zoned elsewhere."""
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        return
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
        from ..wire import warn_caller

        warn_caller(
            f"casting TIMESTAMP_NTZ under session timeZone={tz!r}; naive "
            "timestamps are interpreted in that zone — set "
            "spark.sql.session.timeZone=UTC for value-preserving reads")


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns (including NTZ nested in struct/array/
    map) to session-zone TimestampType at the source boundary.  Parquet
    written with isAdjustedToUTC=false (naive timestamps — pandas/DuckDB
    default) reads as TIMESTAMP_NTZ under Spark >= 3.4's
    inferTimestampNTZ; the engine's dtype surface (.dt accessors, interval
    arithmetic, oracle comparisons) is defined over TimestampType with the
    session zone pinned to UTC, where the cast is value-preserving.
    Metadata-only when no NTZ column exists."""
    from pyspark.sql import functions as F

    conv = {}
    for f in df.schema.fields:
        new, changed = _rewrite_ntz_type(f.dataType)
        if changed:
            conv[f.name] = F.col(f.name).cast(new)
    if not conv:
        return df
    _warn_if_non_utc(df.sparkSession)
    return df.withColumns(conv)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — footer sniff only."""
    try:
        import glob
        import os

        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            files = glob.glob(os.path.join(path, "*.parquet"))
            if not files:
                return []
            target = files[0]
        schema = pq.read_schema(target)
        import pyarrow as pa

        return [n for n, typ in zip(schema.names, schema.types)
                if pa.types.is_timestamp(typ) and typ.unit == "ns"]
    except Exception:
        return []


def _basename(path: str) -> str:
    base = path.rstrip("/").rsplit("/", 1)[-1]
    return base.split(".", 1)[0]


def load_star(spark: SparkSession, sf_dir: str,
              tables=("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings")) -> dict[str, Table]:
    """Load the driver's TPC-H-ish star schema (TESTDATA.md) as Tables."""
    return {t: data(f"{sf_dir}/{t}.parquet", spark=spark, name=t)
            for t in tables}
