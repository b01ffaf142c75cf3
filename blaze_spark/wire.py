"""One declaration per table operator: ``@wire_op`` or ``@local_only``.

A table operator becomes serializable over ``blaze://`` with ONE
registration on its local function (reference parity: Blaze dispatched
every expression through one ``multipledispatch`` table and replayed it
through one ``to_tree``/``from_tree`` pair,
blaze/server/server.py:411-571)::

    @wire_op("exact_dedup", tables=("t",), kwargs=("text_col", "id_col"))
    def exact_dedup(t, text_col="text", id_col="doc_id"): ...

The registration names the op and sorts its parameters by how they
cross the wire:

- ``tables``: corpora, in order (one whose default is ``None`` is
  optional).  Each rides as a same-server subtree.
- ``kwargs``: JSON literals (column NAMEs, numbers, strings, lists;
  tokenizers as their bounded wire dicts).
- ``relations``: bounded side relations (models, counts, query blocks),
  mapped to ``(bound, project)``.  ``bound`` is the row bound — an int,
  or the name of the parameter that holds it (``None`` there falls
  back to ``_DEFAULT_ROWS``).  ``project(df, args)`` (``args``: every
  bound argument by name) is the part of the relation the local
  function reads: the columns it uses, with any summing it applies.
  A same-server remote Table rides as its subtree; a local DataFrame
  or Table rides as ``{"rows", "schema"}`` — its projection, collected
  up to the bound (rows plus DDL, rebuilt with ``local_frame``); a list
  rides as a literal list.  The local function receives a Table, a
  DataFrame or a list, so it accepts all three, and reading its
  projection gives the same result as reading the whole relation.
- ``exprs``: column expressions (predicates, labels); a ColExpr rides
  as its recorded tree and replays against the first table.
- ``stores``: trained artifacts, mapped to ``(encode, decode)`` or
  ``None``.  A ``str`` is a server-registered store NAME (the server
  maps it to a path, which the local function accepts); any other value
  goes through ``encode`` or is refused.
- ``schema``: for ops whose local path runs Spark jobs at construction,
  a function of the bound arguments that validates them and returns
  the result schema (StructType or DDL).  Other ops take the schema from
  the local plan over the remote tables' empty frames.
- ``eager``: ``(to_frame, from_frame)`` for an op whose result is not a
  relation (a fitted model): the server turns it into a DataFrame, the
  client POSTs at construction and rebuilds it from the result rows.
  An eager op passes ``schema=`` (its checks and the result rows'
  schema), so the client never runs the fit.

Node layout: ``{"op": name, "args": [subtree | null, ..., {kw}]}`` —
one subtree per table parameter, then ONE dict holding every other
argument whose value differs from its default (required arguments
always ride).  The server's whitelist is exactly the registered names
(``interop._wire_node`` replays them).

Client side, the decorated function is the local function unless a
table or relation argument is remote.  Then every table argument must
be remote on one server, remote relations must live there too, and a
non-default argument that is not registered raises ``TypeError`` (never
silently dropped); the result is a schema-only remote expression.

``@local_only`` marks an operator with no wire form (eager fits, random
generators, store writers): a remote table argument raises
``TypeError`` at entry instead of computing over the empty
schema-only frame.  Both registries are listed by :func:`registry` and
:func:`local_only_ops`.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import numbers
import os
import sys
import warnings
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

from .core import ColExpr, Table
from .sources import local_frame

__all__ = ["wire_op", "local_only", "registry", "local_only_ops"]

# importing these registers every op; the server imports them before a
# lookup, so an op is never unknown for import-order reasons
_REGISTERING = ("blaze_spark.pipeline",
                "blaze_spark.pipeline.crosslingual",
                "blaze_spark.operators.joins_ext",
                "blaze_spark.operators.range_join",
                "blaze_spark.operators.sessionize",
                "blaze_spark.streaming.incremental_ann",
                "blaze_spark.streaming.incremental_bloom",
                "blaze_spark.streaming.incremental_counts")

# literal-relation bound when a parameter-named bound is None
_DEFAULT_ROWS = 10_000

_OPS: dict[str, "WireOp"] = {}
_LOCAL_ONLY: dict[str, Callable] = {}


@dataclass(frozen=True)
class WireOp:
    name: str
    local: Callable
    tables: tuple
    kwargs: frozenset
    relations: dict
    exprs: frozenset
    stores: dict
    schema: Callable | None
    eager: tuple | None
    sig: inspect.Signature

    @property
    def public(self) -> Callable:
        """The module's public entry point, resolved at call time (so a
        wrapper installed over the module attribute applies)."""
        return getattr(sys.modules[self.local.__module__],
                       self.local.__name__)

    @property
    def accepted(self) -> frozenset:
        """Every name the node's keyword dict may carry."""
        return (self.kwargs | self.exprs | frozenset(self.relations)
                | frozenset(self.stores))

    def required(self, param: str) -> bool:
        return self.sig.parameters[param].default is inspect.Parameter.empty


def registry() -> dict[str, WireOp]:
    """Every registered wire op by name."""
    for m in _REGISTERING:
        importlib.import_module(m)
    return _OPS


def local_only_ops() -> dict[str, Callable]:
    """Every ``@local_only`` operator by name (the public entry)."""
    registry()
    return _LOCAL_ONLY


def local_only(fn):
    """Mark ``fn`` as outside the wire dialect: a remote (blaze://)
    Table argument raises ``TypeError`` at entry.  Without the check the
    function would build a local plan over the remote table's empty
    schema-only frame and compute 0 rows with no error; eager operators
    would mis-fit or crash obscurely before ``compute()``."""
    @functools.wraps(fn)
    def op(*args, **kwargs):
        if any(_client_of(a) is not None
               for a in (*args, *kwargs.values())):
            raise TypeError(
                f"{fn.__name__} is outside the remote wire dialect: it "
                "would compute locally over the remote table's empty "
                "schema-only frame.  compute() the remote expression "
                "first (or register the operator's inputs on the "
                "server) and rebuild a local table from the result.")
        return fn(*args, **kwargs)
    if fn.__name__ in _LOCAL_ONLY:
        raise ValueError(f"local-only op {fn.__name__!r} is declared "
                         "twice")
    _LOCAL_ONLY[fn.__name__] = op
    return op


def warn_caller(message: str, category=UserWarning) -> None:
    """``warnings.warn`` attributed to the first frame outside
    ``blaze_spark``: an operator's warning names the user's line, not
    the ``@local_only``/``@wire_op`` wrapper or a library caller between
    them (a fixed ``stacklevel`` counts neither)."""
    pkg = os.path.dirname(__file__) + os.sep
    level, frame = 2, sys._getframe(1)
    while frame is not None and frame.f_code.co_filename.startswith(pkg):
        level, frame = level + 1, frame.f_back
    warnings.warn(message, category, stacklevel=level)


def wire_op(name: str, tables: tuple, kwargs: tuple = (),
            relations: dict | None = None, exprs: tuple = (),
            stores: dict | None = None, schema: Callable | None = None,
            eager: tuple | None = None):
    """Register the decorated local function as the wire op ``name``
    (see the module docstring)."""
    relations, stores = dict(relations or {}), dict(stores or {})

    def register(fn):
        sig = inspect.signature(fn)
        params = sig.parameters
        if any(p.kind in (p.VAR_POSITIONAL, p.VAR_KEYWORD)
               for p in params.values()):
            raise TypeError(f"wire_op {name!r}: *args/**kwargs do not "
                            "serialize")
        declared = (*tables, *kwargs, *relations, *exprs, *stores)
        unknown = [p for p in declared if p not in params]
        if unknown:
            raise TypeError(f"wire_op {name!r}: {unknown} are not "
                            f"parameters of {fn.__name__}")
        unsent = [p for p, prm in params.items()
                  if prm.default is prm.empty and p not in declared]
        if unsent:
            raise TypeError(f"wire_op {name!r}: required parameter(s) "
                            f"{unsent} must be registered")
        bad = [p for p, spec in relations.items()
               if not (isinstance(spec, tuple) and len(spec) == 2
                       and callable(spec[1]))]
        if bad:
            raise TypeError(f"wire_op {name!r}: relations {bad} must "
                            "map to (bound, project)")
        if eager is not None and schema is None:
            raise TypeError(f"wire_op {name!r}: an eager op needs "
                            "schema= (the client must not run the fit)")
        if name in _OPS:
            raise ValueError(f"wire op {name!r} is registered twice")
        op = _OPS[name] = WireOp(name, fn, tuple(tables),
                                 frozenset(kwargs), relations,
                                 frozenset(exprs), stores, schema,
                                 eager, sig)

        @functools.wraps(fn)
        def entry(*args, **kw):
            bound = sig.bind(*args, **kw)
            if all(_client_of(bound.arguments.get(p)) is None
                   for p in (*tables, *relations)):
                return fn(*args, **kw)
            return _remote(op, bound)
        return entry
    return register


def _remote(op: WireOp, bound: inspect.BoundArguments):
    bound.apply_defaults()
    a = bound.arguments
    lead = a[op.tables[0]]
    if _client_of(lead) is None and not any(
            _client_of(a[t]) is not None for t in op.tables):
        rel = next(p for p in op.relations if _client_of(a[p]))
        raise TypeError(
            f"{op.name}: {rel} is a remote (blaze://) relation but the "
            "table input is local — this mixes engines.  Register the "
            "inputs on the same server, or compute() the remote side "
            "first")
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
    kw, literal = {}, []
    for p in op.stores:                 # before the kwargs check: an
        kw[p] = _store(op, p, a[p])     # unfit artifact names the fix
    for p, prm in op.sig.parameters.items():
        v = a[p]
        if (p in op.tables or p in op.stores
                or (prm.default is not prm.empty
                    and _is_default(v, prm.default))):
            continue
        if p in op.exprs:
            if not isinstance(v, ColExpr) or v._tree is None:
                raise TypeError(
                    f"{op.name} over blaze://: {p} must be a "
                    "serializable expression built from the remote "
                    "table's columns (e.g. rt.source.isin([...]))")
            kw[p] = v._tree
        elif p in op.relations:
            if _client_of(v) is None:
                literal.append(p)
                continue
            if not _same_server(lead, v):
                raise TypeError(
                    f"{op.name}: {p} lives on a different server than "
                    f"{op.tables[0]} — relations must live on the SAME "
                    "server as the tables, or be passed as a bounded "
                    "local frame")
            kw[p] = _require_tree(v, f"{op.name} ({p})")
        elif p not in op.kwargs:
            raise TypeError(
                f"{op.name} over blaze://: {p}= has no wire form (it is "
                "not a registered keyword of the op) — leave it at its "
                "default, or compute() the remote input first")
        elif p == "tokenizer":
            from .pipeline.tokenizer import _tokenizer_wire
            kw[p] = _tokenizer_wire(v)
        else:
            kw[p] = _literal(op.name, p, v)
    # validate (and type the result) before any literal relation is
    # collected: a bad call launches no job
    if op.schema is not None:
        local_df = local_frame(lead.df.sparkSession, [], op.schema(**a))
    else:
        out = op.local(*bound.args, **bound.kwargs)
        local_df = out.df if isinstance(out, Table) else out
    for p in literal:
        kw[p] = _literal_relation(op, p, a[p], a)
    node = {"op": op.name, "args": [*subtrees, kw]}
    if op.eager is not None:
        return op.eager[1](lead._client.compute_tree(node), a)
    return _wire_result(lead, local_df, node)


def _store(op: WireOp, p: str, v):
    """A store argument's wire form: a registered store NAME as is, an
    artifact through the registered encoder, anything else refused."""
    if isinstance(v, str):
        return v
    if v is None:
        raise TypeError(
            f"{op.name} over blaze://: {p}= is required over the wire — "
            "a fit does not serialize; fit locally and pass the trained "
            "artifact or a registered store NAME")
    codec = op.stores[p]
    if codec is None:
        raise TypeError(
            f"{op.name} over blaze://: a {type(v).__name__} {p} does "
            "not ride the wire as rows — register the store on the "
            "server (BlazeSparkServer(stores={name: path})) and pass "
            "its NAME")
    return codec[0](v)


def _literal_relation(op: WireOp, p: str, v, a: dict):
    """Collect a local relation up to its registered bound: a list as a
    literal list, a DataFrame/Table's projection as
    ``{"rows", "schema"}``."""
    spec, project = op.relations[p]
    cap = spec if isinstance(spec, int) else a[spec]
    cap = _DEFAULT_ROWS if cap is None else int(cap)
    why = "" if isinstance(spec, int) else f" (the {spec}= bound)"
    if isinstance(v, (list, tuple)):
        rows = _literal(op.name, p, list(v))
    elif isinstance(v, (Table, DataFrame)):
        df = project(v.df if isinstance(v, Table) else v, a)
        got = df.limit(cap + 1).collect()
        rows = [_literal(op.name, p, list(r)) for r in got]
    else:
        raise TypeError(
            f"{op.name} over blaze://: {p} must be a same-server remote "
            "table, a local DataFrame/Table or a list, got "
            f"{type(v).__name__}")
    if len(rows) > cap:
        raise ValueError(
            f"{op.name} over blaze://: the local {p} relation has more "
            f"than {cap} rows{why} — literal relations are bounded; "
            "register it on the server and pass the same-server "
            "expression instead")
    if isinstance(v, (list, tuple)):
        return rows
    return {"rows": rows, "schema": df.schema.toDDL()}


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
