"""Seeded input generator for the benchmark.

Builds the star schema the registry entries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with numpy and writes it as multi-file parquet.  One base
copy is drawn from ``--seed``; a workload's ``scale`` replicates it with
the rules of ``tools/gen_bench_sf.py``:

- per-copy key offsets: copy ``i`` shifts every key column by
  ``i * OFFSET``, so FK joins keep the base match cardinality per copy;
- per-copy token salts: every token of a copy-``i`` document gets the
  suffix ``_i``, so copies share no shingles;
- per-copy embedding sign flips: copy ``i`` rotates each vector ``i``
  slots and flips signs with a seeded pattern, so copies are
  near-orthogonal to the base.

Region and nation stay fixed.  Every random choice, and the split of
rows into files, comes from the seed, so one (tables, scale, seed)
always yields the same rows in the same files.  Outputs are cached on
disk under that key; ``_manifest.json`` is written last and marks a
complete set.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OFFSET = 100_000_000  # far above any base key

# base-copy row counts: half of the registry's sf0.01 point
BASE_ROWS = {"customer": 750, "supplier": 50, "part": 1000,
             "orders": 7500, "lineitem": 30000, "events": 5000,
             "documents": 250, "embeddings": 250}
BASE_SF = 0.005  # the base copy's size on the TPC-H scale
N_USERS = 75
EMB_DIM = 64

# table -> columns shifted by i*OFFSET per copy (as tools/gen_bench_sf.py)
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# files per table: source-level scan parallelism
N_FILES = {"lineitem": 8, "orders": 4, "events": 4, "customer": 2,
           "part": 2, "documents": 2, "embeddings": 2, "supplier": 1,
           "region": 1, "nation": 1}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "black", "white",
          "steel"]
NOUNS = ["ring", "widget", "bolt", "gear", "valve", "spring", "nut",
         "panel"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line",
         "merge", "order", "part", "query", "row", "scan", "slow",
         "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window", "ts"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _base(rng: np.random.Generator) -> dict[str, dict[str, np.ndarray]]:
    """Draw one base copy of every table (columns as numpy arrays)."""
    n = BASE_ROWS
    t: dict[str, dict[str, np.ndarray]] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.array(REGIONS, dtype=object)}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": np.array([f"NATION_{i}" for i in range(25)],
                                      dtype=object),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(nc)],
                           dtype=object),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[
            rng.integers(0, 5, nc)],
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(ns)],
                           dtype=object),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }
    npart = n["part"]
    price = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    t["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
            dtype=object),
        "p_brand": np.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, npart)], dtype=object),
        "p_type": np.array(P_TYPES, dtype=object)[
            rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": price,
    }
    no = n["orders"]
    odays = rng.integers(0, 2404, no)
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[
            rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _EPOCH_1995 + odays * _DAY_US,
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[
            rng.integers(0, 5, no)],
    }
    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    lpk = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": lpk.astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpk], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
            rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[
            rng.integers(0, 2, nl)],
        "l_shipdate": _EPOCH_1995 + (odays[lok]
                                     + rng.integers(1, 122, nl)) * _DAY_US,
    }
    ne = n["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne).astype(np.int64)
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _EPOCH_2024 + np.cumsum(gaps),
        "user_id": rng.integers(0, N_USERS, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[
            rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": np.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, ne)], dtype=object),
    }
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    x = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = {"vec_id": np.arange(nv, dtype=np.int64),
                       "embedding": x,
                       "label": rng.integers(0, 10, nv).astype(np.int32)}
    return t


def _documents(rng: np.random.Generator, nd: int) -> dict[str, np.ndarray]:
    """Word-salad documents over a 31-token vocabulary, with planted
    near-duplicates (~10%: an earlier doc with ~5% of tokens replaced)
    and exact duplicates (~2%), so dedup operators find candidates."""
    texts: list[list[str]] = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.02:
            toks = list(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.12:
            toks = list(texts[rng.integers(0, i)])
            for j in np.flatnonzero(rng.random(len(toks)) < 0.05):
                toks[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            toks = [VOCAB[k] for k in
                    rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        texts.append(toks)
    text = np.array([" ".join(t) for t in texts], dtype=object)
    return {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS, dtype=object)[rng.choice(5, nd, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(nd)],
                           dtype=object),
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    }


def _copy(name: str, cols: dict[str, np.ndarray], i: int,
          flips: np.ndarray) -> dict[str, np.ndarray]:
    """Copy ``i`` of a base table under the replication rules."""
    out = dict(cols)
    if i == 0:
        return out
    for k in KEY_COLS.get(name, []):
        out[k] = cols[k] + i * OFFSET
    if name == "documents":
        out["text"] = np.array(
            [" ".join(f"{w}_{i}" for w in s.split()) for s in cols["text"]],
            dtype=object)
        out["n_chars"] = np.array([len(s) for s in out["text"]],
                                  dtype=np.int64)
    if name == "embeddings":
        r = (i % EMB_DIM) or 1
        out["embedding"] = (np.roll(cols["embedding"], -r, axis=1)
                            * flips).astype(np.float32)
    return out


def _arrow(cols: dict[str, np.ndarray]) -> pa.Table:
    arrays = {}
    for k, v in cols.items():
        if v.ndim == 2:
            arrays[k] = pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel(), pa.float32()), v.shape[1]).cast(
                pa.list_(pa.float32()))
        else:
            arrays[k] = pa.array(v)
    return pa.table(arrays)


def _concat(copies: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([c[k] for c in copies]) for k in copies[0]}


def generate(out_dir: str | os.PathLike, tables: list[str], scale: int,
             seed: int) -> dict[str, dict[str, int]]:
    """Write ``tables`` (``scale`` copies of a seed-drawn base) under
    ``out_dir``/<table>.parquet/ and return {table: {rows, bytes, files}}.
    Reuses a complete earlier output of the same key."""
    out = Path(out_dir)
    manifest = out / "_manifest.json"
    if manifest.exists():
        info = json.loads(manifest.read_text())
        if set(tables) <= set(info):
            return {t: info[t] for t in tables}
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    rng = np.random.default_rng([seed, scale])
    base = _base(rng)
    flips = [rng.choice(np.array([-1.0, 1.0], dtype=np.float32),
                        size=EMB_DIM) for _ in range(scale)]
    info: dict[str, dict[str, int]] = {}
    for name in tables:
        cols = base[name]
        if name not in ("region", "nation"):
            cols = _concat([_copy(name, cols, i, flips[i])
                            for i in range(scale)])
        nrows = len(next(iter(cols.values())))
        nf = N_FILES[name]
        file_of = rng.integers(0, nf, nrows)
        dest = out / f"{name}.parquet"
        dest.mkdir()
        size = 0
        for f in range(nf):
            part = {k: v[file_of == f] for k, v in cols.items()}
            path = dest / f"part-{f:05d}.parquet"
            pq.write_table(_arrow(part), path)
            size += path.stat().st_size
        info[name] = {"rows": int(nrows), "bytes": int(size), "files": nf}
    manifest.write_text(json.dumps(info, sort_keys=True))
    return info
