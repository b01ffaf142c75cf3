"""Registry-wide wire contract (blaze_spark.wire): every registered op
is covered here by registering it — remote schema equals local schema,
remote construction launches no Spark job, and replay rejects unknown
keywords and extra positional args.  Plus the tooling guard that keeps
hand-written ``_local_X`` client shims from coming back."""

from __future__ import annotations

import ast
import pathlib

import pytest

from blaze_spark import Table, data
from blaze_spark.interop import from_tree
from blaze_spark.server import BlazeSparkServer
from blaze_spark.wire import registry

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
}

OPS = sorted(registry())


@pytest.fixture(scope="module")
def datasets(spark):
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
    }


@pytest.fixture(scope="module")
def remote(spark, datasets):
    srv = BlazeSparkServer(datasets, spark)
    srv.start(port=0)
    url = f"blaze://127.0.0.1:{srv.port}"
    yield {name: data(f"{url}::{name}", spark=spark) for name in datasets}
    srv.stop()


def _call(op, tables, kw):
    spec = registry()[op]
    return spec.public(**dict(zip(spec.tables, tables)), **kw)


def test_every_registered_op_has_a_call():
    assert set(CALLS) == set(OPS)


@pytest.mark.parametrize("op", OPS)
def test_remote_schema_equals_local(op, datasets, remote):
    """Names and types (nullability does not cross the wire: the
    client rebuilds the result from pandas)."""
    names, kw = CALLS[op]
    local = _call(op, [datasets[n] for n in names], kw)
    local_df = local.df if isinstance(local, Table) else local
    got = _call(op, [remote[n] for n in names], kw)
    assert got._tree["op"] == op
    assert [(f.name, f.dataType) for f in got.df.schema.fields] == \
        [(f.name, f.dataType) for f in local_df.schema.fields]


def test_remote_construction_is_jobless(spark, remote):
    sc = spark.sparkContext
    sc.setJobGroup("wire-registry", "remote construction of every op")
    try:
        for op in OPS:
            names, kw = CALLS[op]
            _call(op, [remote[n] for n in names], kw)
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


# unconverted families keep their hand-written remote forms: they carry
# bounded literal relations or registered store names, not only
# literal kwargs
_SHIM_ALLOWED = {
    "hashed_bucket_counts", "quality_classifier", "dsir_log_weights",
    "weighted_sample", "train_quality_classifier",
    "ngram_lm_fit", "ngram_lm_logprob", "perplexity_filter",
    "perplexity_buckets", "bm25_topk", "apply_source_mix",
    "bloom_contains", "bloom_contamination", "pq_topk", "ivf_pq_topk",
    "assign_clusters", "hypertable_rollup",
}


def test_no_hand_written_wire_shims():
    """A new wire op is one @wire_op registration: no ``_local_X = X``
    rebinding or ``functools.wraps(_local_...)`` shim outside the
    unconverted families."""
    root = pathlib.Path(__file__).resolve().parents[1] / "blaze_spark"
    bad = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Assign) and \
                    isinstance(node.value, ast.Name):
                for tgt in node.targets:
                    if (isinstance(tgt, ast.Name)
                            and tgt.id == f"_local_{node.value.id}"
                            and node.value.id not in _SHIM_ALLOWED):
                        bad.append(f"{path.name}:{node.lineno}")
            if isinstance(node, ast.Call) and \
                    getattr(node.func, "attr", None) == "wraps":
                for a in node.args:
                    if (isinstance(a, ast.Name)
                            and a.id.startswith("_local_")
                            and a.id[len("_local_"):]
                            not in _SHIM_ALLOWED):
                        bad.append(f"{path.name}:{node.lineno}")
    assert not bad, f"hand-written wire shims: {bad}"
