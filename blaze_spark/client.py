"""``blaze://`` client — remote datasets as first-class expression leaves.

Reference parity: ``blaze/server/client.py`` (``Client``, the
``blaze://`` resource registration at client.py:249-268, default port
server.py:46).  ``data("blaze://host:port")`` returns a :class:`Client`
namespace; ``client["orders"]`` — or the ``data("blaze://host:port::
orders")`` shorthand (the reference's pre-0.8.1 spelling; its 0.8.1+
``data(uri)['orders']`` form works too) — returns a :class:`RemoteTable`.

Design (Spark-first, no parallel expression DSL): a ``RemoteTable`` is a
normal :class:`~blaze_spark.core.Table` over an EMPTY local DataFrame
carrying the server's schema (fetched once from ``GET /schema``), with its
``_tree`` leaf set to ``{"op": "symbol", "args": [name]}``.  Every
operator in the serializable subset then does double duty with ZERO new
code: it builds the local lazy plan — so schema inference, validation,
and repr all work offline — and records the wire tree exactly as the
in-process engine does.  ``compute()`` POSTs the tree to the server's
``/compute`` (``interop.from_tree`` evaluates it against the registered
datasets) and returns pandas; only the final result crosses the wire.

An operator OUTSIDE the recorded subset still runs locally — on the
empty frame — and sets ``_tree = None``; ``compute()`` then raises with
guidance instead of silently returning empty rows.

The serializable subset is ``interop.from_tree``'s op whitelist:
projection / drop_field / selection / head / tail / slice / sort (incl.
per-key directions) / distinct / relabel / transform / by / rollup /
cube / grouping_sets / count_values / summary / join / concat /
intersect / except / pivot / unpivot / explode / hash_sample / merge
and the unary curation passes (language_id, quality_features,
fingerprint, repetition_features, pii_scrub, token_stats — routed
through ``_derived`` so they preserve the remote leaf and record their
node, r8), plus the model-based selection family (r11:
hashed_bucket_counts / quality_classifier / dsir_log_weights /
weighted_sample — their bounded model/counts relations ship as
literal tables inside the node; corpora ride as same-server
subtrees).  Bare reductions aggregate server-side through a one-entry
summary tree (``rt.col.sum().compute()`` never reads the empty local
frame), and so do the 1-D column ops (compute/peek/distinct/sort/head)
and Table iteration.  Every pipeline/operator entry point OUTSIDE this
subset is declared ``@wire.local_only`` and raises immediately on a
remote input instead of silently computing over the empty frame.  Scalar
expressions cover arithmetic, comparisons, boolean logic, isin, like,
coalesce, shift (string keys), every public ``.str`` / ``.dt``
accessor method, and the math-function family
(``functions.math.MATH_FNS``) — the accessor classes themselves define
the whitelist (``interop._method_whitelists``), so a ``RemoteTable``
runs ``.str.upper()`` or ``.dt.year()`` server-side exactly as the
reference's generic ``to_tree`` does (blaze/server/server.py:411-477).
Deriving a remote table together with a LOCAL table (or one from
another server) raises immediately.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .core import Table
from .sources import local_frame

__all__ = ["Client", "RemoteTable", "DEFAULT_PORT"]

_UNSET = object()  # "use the client default" sentinel for _request

# reference blaze/server/server.py:46
DEFAULT_PORT = 6363


def _normalize_url(url: str) -> str:
    """host[:port][/...] or http(s)://host[:port] -> http base URL with the
    reference's default port filled in (client.py:258-262)."""
    if url.startswith("blaze://"):
        url = url[len("blaze://"):]
    scheme = "http"
    if url.startswith(("http://", "https://")):
        scheme, url = url.split("://", 1)
    host = url.rstrip("/")
    # IPv6 literal hosts are bracketed ([::1]:6363) — ':' inside the
    # brackets is not a port separator
    hostpart = host.rsplit("]", 1)[-1] if host.startswith("[") else host
    if ":" not in hostpart:
        host += f":{DEFAULT_PORT}"
    return f"{scheme}://{host}"


class Client:
    """Connection to a running ``BlazeSparkServer`` (reference Client,
    blaze/server/client.py).  Acts as the remote dataset namespace:
    ``client.fields``, ``client["orders"]``, ``client.orders``.

    ``spark`` is required to build the schema-only local leaves (any
    active session; the data never flows through it).
    """

    def __init__(self, url: str, *, spark: SparkSession | None = None,
                 auth_token: str | None = None, timeout: float = 60.0,
                 compute_timeout: float | None = None,
                 serial: str = "arrow"):
        if serial not in ("arrow", "json"):
            raise ValueError("serial must be 'arrow' or 'json' (pickle is "
                             "refused by posture; msgpack only where the "
                             "module exists server-side)")
        self.url = _normalize_url(url)
        self.auth_token = auth_token
        # ``timeout`` bounds the METADATA routes (datashape/schema/add)
        # so an unreachable server fails fast at data().  ``compute``
        # is different: a remote expression legitimately runs for
        # minutes-to-hours at corpus scale, so /compute defaults to NO
        # deadline (compute_timeout=None) — the r12 sf10 bench caught
        # the old shared 60 s default killing a ~70 s server-side
        # decontamination probe mid-socket-read.  Pass a number to
        # re-impose one.
        self.timeout = timeout
        self.compute_timeout = compute_timeout
        self.serial = serial
        self._spark = spark
        self._schemas: dict[str, T.StructType] | None = None

    # -- transport ---------------------------------------------------------
    def _request(self, path: str, payload: dict | None = None, *,
                 raw: bool = False, accept: str | None = None,
                 timeout: float | None | object = _UNSET):
        headers = {"Content-Type": "application/json"}
        if accept is not None:
            headers["Accept"] = accept
        if self.auth_token is not None:
            headers["Authorization"] = "Bearer " + self.auth_token
        req = urllib.request.Request(
            self.url + path,
            data=json.dumps(payload).encode() if payload is not None
            else None,
            headers=headers)
        if timeout is _UNSET:
            timeout = self.timeout
        try:
            with urllib.request.urlopen(req, timeout=timeout) as r:
                body = r.read()
                if accept is not None:
                    return body, (r.headers.get("Content-Type") or "")
                return body.decode() if raw else json.loads(body)
        except TimeoutError:
            # socket.timeout escapes the URLError handler below as a
            # bare OSError — name the knob instead (r12 sf10 bench)
            raise TimeoutError(
                f"blaze server {self.url}{path} did not answer within "
                f"{timeout}s — long remote computes need a larger (or "
                "None) compute_timeout= / timeout= on the client"
            ) from None
        except urllib.error.HTTPError as e:
            try:
                detail = json.loads(e.read()).get("error", "")
            except Exception:
                detail = ""
            raise RuntimeError(
                f"server {self.url}{path} returned {e.code}: "
                f"{detail or e.reason}") from None
        except urllib.error.URLError as e:
            raise ConnectionError(
                f"cannot reach blaze server at {self.url}: {e.reason} "
                "(is the server running? check host/port and network)"
            ) from None

    # -- namespace ---------------------------------------------------------
    @property
    def dshape(self) -> str:
        """The server's datashape string (GET /datashape; plain text)."""
        return self._request("/datashape", raw=True)

    def schemas(self) -> dict[str, T.StructType]:
        if self._schemas is None:
            raw = self._request("/schema")["schemas"]
            self._schemas = {
                name: T.StructType.fromJson(json.loads(sj))
                for name, sj in raw.items()}
        return self._schemas

    @property
    def fields(self) -> list[str]:
        return sorted(self.schemas())

    def __getitem__(self, name: str) -> "RemoteTable":
        schemas = self.schemas()
        if name not in schemas:
            raise KeyError(
                f"no dataset {name!r} on {self.url}; "
                f"available: {sorted(schemas)}")
        spark = self._spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("no active SparkSession; pass spark= to "
                               "Client/data()")
        empty = local_frame(spark, [], schema=schemas[name])
        t = RemoteTable(empty, name, client=self)
        t._tree = {"op": "symbol", "args": [name]}
        return t

    def __getattr__(self, name: str) -> "RemoteTable":
        # Attribute probing must stay side-effect-safe (ADVICE r7):
        # hasattr()/duck-typing on a Client must not surface
        # ConnectionError from a plain attribute access — network failures
        # map to AttributeError here; ``client["name"]`` keeps the loud
        # connection/KeyError path for intentional lookups.
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            return self[name]
        except (KeyError, ConnectionError, RuntimeError) as e:
            raise AttributeError(f"{name!r}: {e}") from None

    def __repr__(self) -> str:
        try:
            return f"Client({self.url!r}, fields={self.fields})"
        except Exception:
            return f"Client({self.url!r})"

    def add(self, name: str, source: str, **kwargs) -> "RemoteTable":
        """Register a dataset on the server (reference addserver /add,
        blaze/server/server.py:694-753; requires the server to run with
        ``allow_add=True``) and return its remote leaf."""
        info = {"source": source, "kwargs": kwargs} if kwargs else source
        self._request("/add", {name: info})
        self._schemas = None  # namespace changed — refetch lazily
        return self[name]

    # -- execution ---------------------------------------------------------
    def compute_tree(self, tree: dict) -> pd.DataFrame:
        """POST a serialized expression to /compute.

        ``serial='arrow'`` (default): the response is an Arrow IPC stream
        — typed columns, no JSON round-trip, the same format Spark moves
        batches in (the reference's 'efficient data field' idea,
        blaze/server/serialization/serialization.py, columnar instead of
        pandas-msgpack).  Falls back transparently when the server
        answers JSON.  ``serial='json'``: the reference's JSON response
        shape (server.py:660-667), dtypes restored by the caller."""
        if self.serial == "arrow":
            body, ctype = self._request(
                "/compute", {"expr": tree},
                accept="application/vnd.blaze+arrow",
                timeout=self.compute_timeout)
            if "arrow" in ctype:
                import pyarrow as pa

                return pa.ipc.open_stream(body).read_all().to_pandas()
            parsed = json.loads(body)
            return pd.DataFrame(parsed["data"], columns=parsed["names"])
        body = self._request("/compute", {"expr": tree},
                             timeout=self.compute_timeout)
        return pd.DataFrame(body["data"], columns=body["names"])


def _coerce_like(pdf: pd.DataFrame, schema: T.StructType) -> pd.DataFrame:
    """Restore dtypes lost to the JSON wire using the expression's
    locally-inferred schema (the empty leaf means the FINAL schema is
    always known client-side)."""
    out = pdf.copy()
    for f in schema.fields:
        if f.name not in out.columns:
            continue
        dt = f.dataType
        col = out[f.name]
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            out[f.name] = pd.to_numeric(col).astype(
                "int64" if not col.isna().any() else "float64")
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            out[f.name] = pd.to_numeric(col).astype("float64")
        elif isinstance(dt, T.BooleanType):
            out[f.name] = col.astype("bool") if not col.isna().any() else col
        elif isinstance(dt, T.TimestampType):
            out[f.name] = pd.to_datetime(col)
        elif isinstance(dt, T.DateType):
            out[f.name] = pd.to_datetime(col).dt.date
    return out


class RemoteTable(Table):
    """A Table whose leaf lives on a server: local plan for schema/validation,
    wire tree for execution.  All operator methods are inherited — the
    recorded subset keeps ``_tree`` non-None and therefore stays
    remote-computable; anything else degrades to a local (empty) plan and
    ``compute()`` explains why."""

    def __init__(self, df, name: str | None = None, *,
                 client: Client | None = None, fks=None):
        super().__init__(df, name, fks=fks)
        self._client = client

    def _new(self, df) -> "RemoteTable":
        t = super()._new(df)
        t._client = self._client
        return t

    def compute(self) -> pd.DataFrame:
        if self._tree is None:
            raise ValueError(
                "this expression left the serializable tree subset (an "
                "operator outside interop's dialect was applied) — it "
                "cannot run on the server.  Compute the serializable "
                "prefix remotely, then continue locally on the result.")
        pdf = self._client.compute_tree(self._tree)
        return _coerce_like(pdf, self._df.schema)

    to_pandas = compute

    def peek(self, n: int = 10) -> pd.DataFrame:
        return self.head(n).compute()

    def __repr__(self) -> str:
        """Interactive repr shows REMOTE rows (the base repr would render
        the empty schema-only frame).  Non-serializable expressions and
        unreachable servers fall back to the schema line."""
        try:
            pdf = self.head(11).compute()
            s = repr(pdf.head(10))
            if len(pdf) > 10:
                s += "\n..."
            return s
        except Exception:
            return (f"RemoteTable({self._name!r} @ "
                    f"{getattr(self._client, 'url', '?')}, "
                    f"schema={self._df.schema.simpleString()})")

    def _materialized(self):
        """Local DataFrame holding the remote result (computed server-side
        once, re-bound with the locally-known schema) — the basis for any
        local SINK of a remote expression."""
        spark = self._df.sparkSession
        return spark.createDataFrame(self.compute(), schema=self._df.schema)

    def into(self, target: str, fmt: str = "parquet",
             mode: str = "overwrite", partition_by=None, **options):
        """Materialize the remote result to a LOCAL sink.  The base
        ``into`` would silently write the empty schema-only frame; here
        the expression computes server-side first, then the result writes
        through the normal writer path."""
        return Table(self._materialized(), self._name).into(
            target, fmt=fmt, mode=mode, partition_by=partition_by,
            **options)

    def into_table(self, name: str, **kwargs):
        return Table(self._materialized(), self._name).into_table(
            name, **kwargs)

    def __iter__(self):
        """Iterating a remote expression computes SERVER-side first (the
        base ``toLocalIterator`` would stream the empty schema-only
        frame) and yields Spark Rows from the re-bound result."""
        return self._materialized().toLocalIterator()

    def __len__(self) -> int:
        # remote count via the dialect (summary over nelements) — never
        # counts the empty local frame
        if self._tree is None:
            raise ValueError("expression not serializable; cannot count "
                             "remotely")
        first = self._df.columns[0]
        tree = {"op": "summary", "args": [
            self._tree,
            {"n": {"op": "nelements",
                   "args": [{"op": "field", "args": [first]}]}}]}
        return int(self._client.compute_tree(tree)["n"].iloc[0])
