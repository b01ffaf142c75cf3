"""One wire-dispatch mechanism for ``blaze://`` table operators.

A table operator becomes serializable with ONE registration on its
local function (reference parity: Blaze dispatched every expression
through one ``multipledispatch`` table and replayed it through one
``to_tree``/``from_tree`` pair, blaze/server/server.py:411-571)::

    @wire_op("exact_dedup", tables=("t",), kwargs=("text_col", "id_col"))
    def exact_dedup(t, text_col="text", id_col="doc_id"): ...

The registration names the op, its table parameters in order (one
whose default is ``None`` is optional), the literal keyword arguments
that may cross the wire, and — only for ops whose local path runs
Spark jobs at construction — a result-schema function called with the
bound arguments (it validates them and returns a StructType or DDL).

Node layout: ``{"op": name, "args": [subtree | null, ..., {kw}]}`` —
one same-server subtree per table parameter, then ONE dict holding the
arguments whose values differ from their defaults (required arguments
always ride; tokenizers ride as their bounded wire dicts).  The
server's whitelist for the op is exactly the registered ``kwargs``
(``interop._wire_node`` replays it).

Client side, the decorated function: with no remote table argument it
is the local function, unchanged.  Otherwise every table argument must
be remote and on the same server, a non-default argument that is not
registered raises ``TypeError`` (never silently dropped), and the
result is a schema-only remote expression whose schema is the local
plan over the remote tables' empty frames (or the schema function's).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import numbers
import sys
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

from .core import Table
from .sources import local_frame

__all__ = ["wire_op", "registry"]

# importing these registers every wire op; the server imports them
# before a lookup, so an op is never unknown for import-order reasons
_REGISTERING = ("blaze_spark.pipeline",
                "blaze_spark.operators.joins_ext",
                "blaze_spark.operators.range_join",
                "blaze_spark.operators.sessionize")

_OPS: dict[str, "WireOp"] = {}


@dataclass(frozen=True)
class WireOp:
    name: str
    local: Callable
    tables: tuple
    kwargs: frozenset
    schema: Callable | None
    sig: inspect.Signature

    @property
    def public(self) -> Callable:
        """The module's public entry point, resolved at call time (so a
        wrapper installed over the module attribute applies)."""
        return getattr(sys.modules[self.local.__module__],
                       self.local.__name__)

    def required(self, param: str) -> bool:
        return self.sig.parameters[param].default is inspect.Parameter.empty


def registry() -> dict[str, WireOp]:
    """Every registered wire op by name."""
    for m in _REGISTERING:
        importlib.import_module(m)
    return _OPS


def wire_op(name: str, tables: tuple, kwargs: tuple = (),
            schema: Callable | None = None):
    """Register the decorated local function as the wire op ``name``
    (see the module docstring)."""
    def register(fn):
        sig = inspect.signature(fn)
        params = sig.parameters
        if any(p.kind in (p.VAR_POSITIONAL, p.VAR_KEYWORD)
               for p in params.values()):
            raise TypeError(f"wire_op {name!r}: *args/**kwargs do not "
                            "serialize")
        unknown = [p for p in (*tables, *kwargs) if p not in params]
        if unknown:
            raise TypeError(f"wire_op {name!r}: {unknown} are not "
                            f"parameters of {fn.__name__}")
        unsent = [p for p, prm in params.items()
                  if prm.default is prm.empty
                  and p not in tables and p not in kwargs]
        if unsent:
            raise TypeError(f"wire_op {name!r}: required parameter(s) "
                            f"{unsent} must be registered")
        if name in _OPS:
            raise ValueError(f"wire op {name!r} is registered twice")
        op = _OPS[name] = WireOp(name, fn, tuple(tables),
                                 frozenset(kwargs), schema, sig)

        @functools.wraps(fn)
        def entry(*args, **kw):
            bound = sig.bind(*args, **kw)
            if all(_client_of(bound.arguments.get(t)) is None
                   for t in tables):
                return fn(*args, **kw)
            return _remote(op, bound)
        return entry
    return register


def _remote(op: WireOp, bound: inspect.BoundArguments) -> Table:
    bound.apply_defaults()
    a = bound.arguments
    lead = a[op.tables[0]]
    subtrees = []
    for t in op.tables:
        v = a[t]
        if v is None and not op.required(t):
            subtrees.append(None)
            continue
        if not _same_server(lead, v):
            raise TypeError(
                f"{op.name} over blaze://: every table argument "
                f"({', '.join(op.tables)}) must be a remote table on "
                "the SAME server — register it there.  A local "
                "DataFrame or Table cannot ride the wire, and mixing "
                "one with a remote table mixes engines (it would scan "
                "the empty schema-only frame); compute() the remote "
                "side first to stay local")
        subtrees.append(_require_tree(v, f"{op.name} ({t})"))
    kw = {}
    for p, prm in op.sig.parameters.items():
        if p in op.tables or (prm.default is not prm.empty
                              and _is_default(a[p], prm.default)):
            continue
        if p not in op.kwargs:
            raise TypeError(
                f"{op.name} over blaze://: {p}= has no wire form (it is "
                "not a registered keyword of the op) — leave it at its "
                "default, or compute() the remote input first")
        if p == "tokenizer":
            from .pipeline.tokenizer import _tokenizer_wire
            kw[p] = _tokenizer_wire(a[p])
        else:
            kw[p] = _literal(op.name, p, a[p])
    node = {"op": op.name, "args": [*subtrees, kw]}
    if op.schema is None:
        out = op.local(*bound.args, **bound.kwargs)
        local_df = out.df if isinstance(out, Table) else out
    else:
        local_df = local_frame(lead.df.sparkSession, [], op.schema(**a))
    return _wire_result(lead, local_df, node)


def _is_default(v, default) -> bool:
    # same type first: a column expression's == builds an expression
    return v is default or (type(v) is type(default) and v == default)


def _literal(op: str, name: str, v):
    """A keyword value as a JSON literal, or a loud refusal."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, numbers.Integral):
        return int(v)
    if isinstance(v, numbers.Real):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_literal(op, name, x) for x in v]
    raise TypeError(
        f"{op} over blaze://: {name}= ({type(v).__name__}) cannot ride "
        "the wire — wire keywords are JSON literals (column NAMEs, "
        "numbers, strings, lists); expression arguments keep the "
        "operator local-only, so compute() the remote expression first")


def _client_of(x):
    return getattr(x, "_client", None) if isinstance(x, Table) else None


def _same_server(a, b) -> bool:
    """Two remote tables live on the same server when they share a
    client OR their clients point at the same normalized URL (the
    core.with_fk precedent — two data() calls against one server must
    compose)."""
    ca, cb = _client_of(a), _client_of(b)
    if ca is None or cb is None:
        return False
    return ca is cb or getattr(ca, "url", None) == getattr(cb, "url",
                                                           object())


def _require_tree(t: Table, fn_name: str) -> dict:
    if t._tree is None:
        raise ValueError(
            f"{fn_name}: the remote input's expression left the "
            "serializable tree subset (an operator outside interop's "
            "dialect was applied) — compute() the serializable prefix "
            "first, then rebuild from the result")
    return t._tree


def _wire_result(t: Table, local_df: DataFrame, node: dict) -> Table:
    """A remote expression: schema-only local frame + recorded node.
    ``_new`` preserves the RemoteTable class, so ``compute()`` POSTs
    the tree and only the result crosses the wire."""
    out = t._new(local_df)
    out._client = t._client
    out._tree = node
    return out
