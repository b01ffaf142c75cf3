"""Registry-wide wire contract (blaze_spark.wire): every registered op
is covered here by registering it — remote schema equals local schema,
remote construction launches no Spark job, and replay rejects unknown
keywords and extra positional args.  Plus the tooling guard that keeps
hand-written client shims and guard rebindings from coming back, and
the check that WIRE_DIALECT.md's op table matches the registry."""

from __future__ import annotations

import ast
import pathlib
import re
from dataclasses import dataclass
from typing import Callable

import pytest

from blaze_spark import Table, data
from blaze_spark.interop import from_tree
from blaze_spark.server import BlazeSparkServer
from blaze_spark.wire import registry

ROOT = pathlib.Path(__file__).resolve().parents[1]


@dataclass(frozen=True)
class D:
    """A relation argument: the registered dataset ``name`` (local side)
    or its remote leaf (remote side)."""
    name: str


@dataclass(frozen=True)
class A:
    """A store argument: the fixture artifact ``name`` (an array, or a
    store path registered on the server under the same string)."""
    name: str


@dataclass(frozen=True)
class E:
    """An expression argument built from the first table."""
    fn: Callable


# op -> (registered dataset per table argument, keyword arguments)
CALLS = {
    "exact_dedup": (("docs",), {}),
    "normalized_dedup": (("docs",), {}),
    "cross_doc_dup_lines": (("docs",), {"scrub": True}),
    "cross_doc_dup_ngrams": (("docs",), {"n": 2}),
    "cross_doc_dup_spans": (("docs",), {"n": 2}),
    "dup_span_popularity": (("docs",), {"n": 2}),
    "winnow_fingerprints": (("docs",), {"k": 2}),
    "winnow_candidates": (("docs",), {"k": 2, "min_shared": 1}),
    "top_ngram_share": (("docs",), {}),
    "source_mix": (("docs",), {}),
    "temperature_source_mix": (("docs",), {"alpha": 0.5}),
    "unimax_source_mix": (("docs",), {"budget_tokens": 50,
                                      "source_col": "source"}),
    "extract_urls": (("docs",), {}),
    "domain_mix": (("docs",), {}),
    "corpus_report": (("docs",), {}),
    "token_commonness": (("docs",), {"vocab_size": 5}),
    "blocklist_filter": (("docs",), {"terms": ["spam"]}),
    "word_frequencies": (("docs",), {"max_words": 10}),
    "tokenizer_stats": (("docs",), {}),
    "contamination_report": (("docs", "suite"), {"n": 2}),
    "connected_components": (("pairs",), {"src": "doc_a",
                                          "dst": "doc_b"}),
    "dedup_clusters": (("pairs",), {}),
    "canonical_docs": (("docs", "pairs"), {}),
    "train_val_test_split": (("docs",), {"fractions": (0.5, 0.25, 0.25)}),
    "pack_sequences": (("docs",), {"budget": 8}),
    "chunk_documents": (("docs",), {"max_tokens": 3, "overlap": 1}),
    "asof_join": (("events", "quotes"), {"on": "t", "by": "user"}),
    "salted_join": (("events", "small"), {"on_left": "user",
                                          "on_right": "user2",
                                          "salt": 2}),
    "range_join": (("events", "bands"), {"value_col": "t",
                                         "lo_col": "lo",
                                         "hi_col": "hi"}),
    "bucketed_range_join": (("events", "bands"), {"value_col": "t",
                                                  "lo_col": "lo",
                                                  "hi_col": "hi",
                                                  "bucket_width": 4.0}),
    "sessionize": (("events",), {"key": "user", "order_by": "t",
                                 "gap": 2}),
    "hashed_bucket_counts": (("docs",), {
        "n_buckets": 64, "target_filter": E(lambda t: t.source == "s0")}),
    "quality_classifier": (("docs",), {"weights": D("weights"),
                                       "n_buckets": 64}),
    "dsir_log_weights": (("docs",), {"raw_counts": D("bcounts"),
                                     "target_counts": D("bcounts"),
                                     "n_buckets": 64}),
    "weighted_sample": (("events",), {"score_col": "v", "n": 3,
                                      "id_col": "t"}),
    "train_quality_classifier": (("docs",), {
        "label": E(lambda t: t.source == "s0"), "n_buckets": 64,
        "epochs": 1}),
    "ngram_lm_fit": (("docs",), {"n_buckets": 64}),
    "ngram_lm_logprob": (("docs",), {"counts": D("lmcounts"),
                                     "n_buckets": 64}),
    "perplexity_filter": (("docs",), {"counts": D("lmcounts"),
                                      "n_buckets": 64,
                                      "max_ppl": 1000.0}),
    "perplexity_buckets": (("docs",), {"counts": D("lmcounts"),
                                       "n_buckets": 64}),
    "bm25_topk": (("docs",), {"queries": D("queries"), "k": 2}),
    "apply_source_mix": (("docs",), {"weights": D("mix")}),
    "bloom_contains": (("docs",), {"bloom": A("bloom"),
                                   "key_col": "source"}),
    "bloom_contamination": (("docs",), {"bloom": A("bloom"), "n": 2}),
    "pq_topk": (("codes",), {"queries": D("pq_queries"),
                             "codebooks": A("codebooks"), "k": 2}),
    "ivf_pq_topk": (("codes",), {"queries": D("pq_queries"),
                                 "centroids": A("centroids"),
                                 "codebooks": A("codebooks"), "k": 2,
                                 "nprobe": 2}),
    "assign_clusters": (("docs", "emb"), {"centroids": A("centroids"),
                                          "id_col": "vec_id"}),
}

OPS = sorted(registry())


@pytest.fixture(scope="module")
def datasets(spark, artifacts):
    docs = [(i, ("shared line here\nvisit https://Example.com/x now"
                 if i % 3 == 0 else f"doc {i} words spam {i % 4}"),
             f"s{i % 2}") for i in range(12)]
    d = data(docs, spark=spark,
             schema="doc_id bigint, text string, source string",
             name="reg_docs")
    return {
        "docs": d,
        "suite": Table(d.df.filter("doc_id % 2 = 0"), "reg_suite"),
        "pairs": data([(1, 2), (2, 3), (7, 8)], spark=spark,
                      schema="doc_a bigint, doc_b bigint",
                      name="reg_pairs"),
        "events": data([(f"u{i % 2}", i, float(i)) for i in range(10)],
                       spark=spark,
                       schema="user string, t bigint, v double",
                       name="reg_events"),
        "quotes": data([(f"u{i % 2}", i, float(-i)) for i in range(0, 10, 3)],
                       spark=spark,
                       schema="user string, t bigint, q double",
                       name="reg_quotes"),
        "small": data([("u0", 1.0), ("u1", 2.0)], spark=spark,
                      schema="user2 string, w double", name="reg_small"),
        "bands": data([(0, 4), (4, 9)], spark=spark,
                      schema="lo bigint, hi bigint", name="reg_bands"),
        # relation arguments (registered too, so the remote calls pass
        # same-server subtrees and construction stays jobless)
        "weights": data([(1, 20), (5, -40), (9, 7)], spark=spark,
                        schema="bucket bigint, weight_milli bigint",
                        name="reg_weights"),
        "bcounts": data([(b, 1 + b % 3) for b in range(64)], spark=spark,
                        schema="bucket bigint, cnt bigint",
                        name="reg_bcounts"),
        "lmcounts": Table(artifacts["lmcounts"], "reg_lmcounts"),
        "queries": data([(0, "spam words"), (1, "shared line")],
                        spark=spark, schema="query_id bigint, query string",
                        name="reg_queries"),
        "squeries": data([("q0", "spam words"), ("q1", "shared line")],
                         spark=spark,
                         schema="query_id string, query string",
                         name="reg_squeries"),
        "mix": data([("s0", 0.5), ("s1", 1.0)], spark=spark,
                    schema="source string, sample_weight double",
                    name="reg_mix"),
        "emb": artifacts["emb"],
        "codes": artifacts["codes"],
        "pq_queries": Table(artifacts["emb"].df.filter("vec_id < 3"),
                            "reg_pq_queries"),
    }


@pytest.fixture(scope="module")
def artifacts(spark, tmp_path_factory):
    """Trained artifacts: PQ codebooks and coarse centroids (encoded
    over the wire), a saved bloom store (its path doubles as its
    registered NAME, so the local and remote calls pass one string),
    and the fitted inputs the pq/lm relations come from."""
    from blaze_spark.pipeline import (build_bloom, ngram_lm_fit, pq_encode,
                                      pq_fit, save_bloom)
    from blaze_spark.pipeline.ivf import ivf_assign, kmeans_fit

    docs = data([(i, f"doc {i} words spam {i % 4}", f"s{i % 2}")
                 for i in range(12)], spark=spark,
                schema="doc_id bigint, text string, source string")
    emb = data([(i, [float((i * 7 + j * 3) % 11) - 5.0
                     for j in range(8)]) for i in range(12)],
               spark=spark, schema="vec_id bigint, embedding array<float>",
               name="reg_emb")
    cents = kmeans_fit(emb, k=3, iters=2)
    cb = pq_fit(emb, m=2, ks=4, iters=2, train_rows=12)
    bloom = str(tmp_path_factory.mktemp("reg") / "bloom")
    save_bloom(build_bloom(docs, "source", m_bits=1 << 10, k=3), bloom)
    lm = ngram_lm_fit(docs, n_buckets=64)
    return {"emb": emb, "centroids": cents, "codebooks": cb,
            "codes": pq_encode(ivf_assign(emb, cents), cb),
            "bloom": bloom,
            "lmcounts": spark.createDataFrame(lm.collect(), lm.schema)}


@pytest.fixture(scope="module")
def server_url(spark, datasets, artifacts):
    srv = BlazeSparkServer(datasets, spark,
                           stores={artifacts["bloom"]: artifacts["bloom"]})
    srv.start(port=0)
    yield f"blaze://127.0.0.1:{srv.port}"
    srv.stop()


def _leaves(spark, datasets, url):
    return {name: data(f"{url}::{name}", spark=spark)
            for name in datasets}


@pytest.fixture(scope="module")
def remote(spark, datasets, server_url):
    return _leaves(spark, datasets, server_url)


def _call(op, side, artifacts):
    """Call ``op`` from CALLS over one side's tables (the local datasets
    or their remote leaves)."""
    names, kw = CALLS[op]
    spec = registry()[op]
    tables = [side[n] for n in names]

    def arg(v):
        if isinstance(v, D):
            return side[v.name]
        if isinstance(v, A):
            return artifacts[v.name]
        if isinstance(v, E):
            return v.fn(tables[0])
        return v
    return spec.public(**dict(zip(spec.tables, tables)),
                       **{k: arg(v) for k, v in kw.items()})


def test_every_registered_op_has_a_call():
    assert set(CALLS) == set(OPS)


@pytest.mark.parametrize("op", OPS)
def test_remote_schema_equals_local(op, datasets, remote, artifacts):
    """Names and types (nullability does not cross the wire: the
    client rebuilds the result from pandas).  An eager op's result is
    not a relation: its remote and local results are equal."""
    local = _call(op, datasets, artifacts)
    got = _call(op, remote, artifacts)
    if registry()[op].eager is not None:
        assert got.to_rows() == local.to_rows()
        return
    local_df = local.df if isinstance(local, Table) else local
    assert got._tree["op"] == op
    assert [(f.name, f.dataType) for f in got.df.schema.fields] == \
        [(f.name, f.dataType) for f in local_df.schema.fields]


def test_remote_construction_is_jobless(spark, remote, artifacts):
    """Same-server relations ride as subtrees and artifacts as store
    names or encoded literals, so the client runs no job (an eager op
    runs its fit on the server, outside this job group)."""
    sc = spark.sparkContext
    sc.setJobGroup("wire-registry", "remote construction of every op")
    try:
        for op in OPS:
            _call(op, remote, artifacts)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("wire-registry")
    assert len(jobs) == 0, f"remote construction launched {len(jobs)} jobs"


@pytest.mark.parametrize("op", OPS)
def test_replay_rejects_unknown_keyword_and_extra_arg(op, spark,
                                                       datasets):
    names, _ = CALLS[op]
    # one slot per table parameter: absent optional tables ride as null
    subtrees = [{"op": "symbol", "args": [n]} for n in names] \
        + [None] * (len(registry()[op].tables) - len(names))
    with pytest.raises(ValueError, match="matching client version"):
        from_tree({"op": op, "args": [*subtrees, {"future_knob": 1}]},
                  spark=spark, datasets=datasets)
    with pytest.raises(ValueError, match="matching client version"):
        from_tree({"op": op, "args": [*subtrees, {}, "extra"]},
                  spark=spark, datasets=datasets)


def _rows(t):
    """A remote result's rows, typed by its schema, sorted."""
    spark = t.df.sparkSession
    return sorted(map(tuple, spark.createDataFrame(
        t.compute(), schema=t.df.schema).collect()))


def test_leaves_of_separate_data_calls_compose(spark, datasets, remote,
                                               server_url):
    """Each data() call builds its own Client, so leaves of one server
    from two calls compare by URL, not identity: a second table or a
    relation from another call composes, and the result equals the
    local run."""
    from blaze_spark.pipeline import (apply_source_mix, bm25_topk,
                                      dsir_log_weights, ngram_lm_logprob)

    other = _leaves(spark, datasets, server_url)
    assert other["docs"]._client is not remote["docs"]._client
    rd, ld = remote["docs"], datasets["docs"]
    cases = [
        (dsir_log_weights(rd, other["suite"], n_buckets=64),
         dsir_log_weights(ld, datasets["suite"], n_buckets=64)),
        (ngram_lm_logprob(rd, reference=other["docs"], n_buckets=64),
         ngram_lm_logprob(ld, reference=ld, n_buckets=64)),
        (apply_source_mix(rd, other["mix"]),
         apply_source_mix(ld, datasets["mix"])),
        (bm25_topk(rd, other["queries"], k=2),
         bm25_topk(ld, datasets["queries"], k=2)),
    ]
    for got, want in cases:
        want_df = want.df if isinstance(want, Table) else want
        assert _rows(got) == sorted(map(tuple, want_df.collect()))


def _same_rows(got, want):
    want_df = want.df if isinstance(want, Table) else want
    assert [(f.name, f.dataType) for f in got.df.schema.fields] == \
        [(f.name, f.dataType) for f in want_df.schema.fields]
    rows = sorted(map(tuple, want_df.collect()))
    assert rows and _rows(got) == rows


def test_bm25_string_query_ids_keep_their_type(datasets, remote):
    """query_id takes the query relation's id type, remote or local:
    a same-server subtree and a local literal frame of string ids both
    type the remote result as the local run does."""
    from blaze_spark.pipeline import bm25_topk

    want = bm25_topk(datasets["docs"], datasets["squeries"], k=2)
    assert want.df.schema["query_id"].dataType.simpleString() == "string"
    for q in (remote["squeries"], datasets["squeries"]):
        _same_rows(bm25_topk(remote["docs"], q, k=2), want)


def test_literal_relations_ship_only_the_columns_read(spark, datasets,
                                                      remote,
                                                      artifacts):
    """A local query block with an extra column the op never reads (a
    timestamp, which has no JSON literal form) ships only the columns
    the op reads, and the remote result equals the local one."""
    from pyspark.sql import functions as F

    from blaze_spark.pipeline import bm25_topk, pq_topk

    at = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    bq = datasets["queries"].df.withColumn("at", at)
    pq = artifacts["emb"].df.filter("vec_id < 3").withColumn("at", at)
    cases = [
        (bm25_topk(remote["docs"], bq, k=2),
         bm25_topk(datasets["docs"], bq, k=2),
         ["query_id", "query"]),
        (pq_topk(remote["codes"], pq, artifacts["codebooks"], k=2),
         pq_topk(artifacts["codes"], Table(pq), artifacts["codebooks"],
                 k=2),
         ["vec_id", "embedding"]),
    ]
    for got, want, cols in cases:
        shipped = got._tree["args"][-1]["queries"]["schema"]
        assert [c.split()[0].strip("`") for c in shipped.split(",")] \
            == cols
        _same_rows(got, want)


def test_literal_counts_sum_before_the_bound(spark, datasets, remote,
                                             artifacts):
    """Duplicate buckets of a local counts union sum BEFORE the literal
    bound: a two-partial union of 65,536 buckets has 131,072 raw rows
    but ships 65,536, and scores as the local run does.  LM counts
    sum the same way."""
    from blaze_spark.pipeline import dsir_log_weights, ngram_lm_logprob

    part = spark.range(65_536).selectExpr("id AS bucket",
                                          "1 + id % 3 AS cnt")
    union = part.unionAll(part)
    tc = datasets["bcounts"].df
    got = dsir_log_weights(remote["docs"], raw_counts=union,
                           target_counts=tc, n_buckets=65_536)
    assert len(got._tree["args"][-1]["raw_counts"]["rows"]) == 65_536
    _same_rows(got, dsir_log_weights(datasets["docs"], raw_counts=union,
                                     target_counts=tc,
                                     n_buckets=65_536))
    lm = artifacts["lmcounts"]
    lm2 = lm.unionAll(lm)
    got = ngram_lm_logprob(remote["docs"], counts=lm2, n_buckets=64)
    assert len(got._tree["args"][-1]["counts"]["rows"]) == lm.count()
    _same_rows(got, ngram_lm_logprob(datasets["docs"], counts=lm2,
                                     n_buckets=64))


def test_unregistered_non_default_kwarg_raises(remote):
    """A non-default argument without a wire form is refused at
    construction, never silently dropped."""
    from blaze_spark.pipeline import connected_components

    with pytest.raises(TypeError, match="checkpoint= has no wire form"):
        connected_components(remote["pairs"], src="doc_a", dst="doc_b",
                             checkpoint=False)


def test_default_valued_kwargs_stay_off_the_node(remote):
    from blaze_spark.pipeline import cross_doc_dup_lines

    node = cross_doc_dup_lines(remote["docs"], min_chars=3)._tree
    assert node["args"][1] == {"min_chars": 3}


# every operator is declared once (@wire_op or @local_only): no family
# keeps a hand-written remote form
_SHIM_ALLOWED: set = set()


def test_no_hand_written_wire_shims():
    """A new wire op is one @wire_op registration and a local-only op
    one @local_only: no ``_local_X = X`` / ``_guarded_X = X``
    rebinding, ``functools.wraps(_local_...)`` shim, ``X = _lg(X)``
    rebinding or ``_localize_guard`` reference outside the allow-list."""
    bad = []
    for path in sorted((ROOT / "blaze_spark").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            where = f"{path.name}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                    and isinstance(node.targets[0], ast.Name):
                tgt, val = node.targets[0].id, node.value
                if isinstance(val, ast.Name) and tgt in (
                        f"_local_{val.id}", f"_guarded_{val.id}") \
                        and val.id not in _SHIM_ALLOWED:
                    bad.append(where)
                if (isinstance(val, ast.Call)
                        and isinstance(val.func, ast.Name)
                        and val.func.id == "_lg"):
                    bad.append(where)
            if isinstance(node, ast.Call) and \
                    getattr(node.func, "attr", None) == "wraps":
                for a in node.args:
                    if (isinstance(a, ast.Name)
                            and a.id.startswith(("_local_", "_guarded_"))
                            and a.id.split("_", 2)[-1]
                            not in _SHIM_ALLOWED):
                        bad.append(where)
            if isinstance(node, (ast.Name, ast.Attribute, ast.alias)) \
                    and "_localize_guard" in (
                        getattr(node, "id", None),
                        getattr(node, "attr", None),
                        getattr(node, "name", None)):
                bad.append(where)
    assert not bad, f"hand-written wire shims or guards: {bad}"


def _dialect_table() -> dict:
    """WIRE_DIALECT.md's registered-op table: op -> (tables, other
    arguments by kind)."""
    text = (ROOT / "WIRE_DIALECT.md").read_text()
    body = text.split("<!-- wire-op-table -->")[1].split(
        "<!-- /wire-op-table -->")[0]
    rows = {}
    for line in body.splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) != 3 or not cells[0].startswith("`"):
            continue
        names = [re.findall(r"`([^`]+)`", c) for c in cells]
        rows[names[0][0]] = (names[1], sorted(names[2]))
    return rows


def test_dialect_doc_table_matches_registry():
    """Every registered op appears once in WIRE_DIALECT.md's table, with
    its table parameters in order and exactly its other wire arguments
    (kwargs, relations, expressions and stores)."""
    want = {name: (list(op.tables), sorted(op.accepted))
            for name, op in registry().items()}
    assert _dialect_table() == want
