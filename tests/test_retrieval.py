"""BM25 lexical retrieval (pipeline/retrieval.py): hand-computed
scores, API-shape equivalence, exactness of the salted two-stage
top-k against a from-first-principles Python recompute, partitioning
invariance, and the guard matrix."""

from __future__ import annotations

import math

import pytest

from blaze_spark import Table, data
from blaze_spark.pipeline import bm25_topk

K1, B = 1.2, 0.75


def _expected(corpus: list[tuple[int, str]], queries: list[str],
              k: int, k1: float = K1, b: float = B):
    """First-principles BM25 with the operator's integer micro-unit
    quantization and (score desc, doc_id asc) tie-break."""
    toks = {d: t.lower().split() for d, t in corpus}
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = []
    for qid, q in enumerate(queries):
        terms = sorted(set(q.lower().split()))
        scores = {}
        for term in terms:
            df = sum(1 for v in toks.values() if term in v)
            if df == 0:
                continue
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            for d, v in toks.items():
                tf = v.count(term)
                if tf == 0:
                    continue
                c = idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(v) / avgdl))
                scores[d] = scores.get(d, 0) + round(c * 1e6)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        out += [(qid, d, round(s / 1e6, 6)) for d, s in ranked[:k]]
    return sorted(out)


CORPUS = [(0, "apple banana apple"), (1, "apple cherry"),
          (2, "banana banana banana"), (3, "durian fig")]


@pytest.fixture(scope="module")
def docs(spark):
    return data(CORPUS, spark=spark,
                schema="doc_id bigint, text string", name="bm_docs")


def test_bm25_hand_scores(spark, docs):
    """Scores match the Robertson k1/b closed form exactly (integer
    micro-quantized sums); absent terms/queries contribute nothing."""
    queries = ["apple banana", "cherry", "missingword"]
    got = sorted(map(tuple, bm25_topk(docs, queries, k=2).df.collect()))
    assert got == _expected(CORPUS, queries, k=2)
    # q2 shares no term with the corpus -> absent from the output
    assert not [r for r in got if r[0] == 2]


def test_bm25_query_relation_shapes(spark, docs):
    """List-of-strings, DataFrame and Table query sides agree; in-query
    duplicate terms count once."""
    want = sorted(map(tuple,
                      bm25_topk(docs, ["apple banana"], k=4).df.collect()))
    qdf = spark.createDataFrame([(0, "apple banana")],
                                "query_id long, query string")
    assert sorted(map(tuple, bm25_topk(docs, qdf, k=4).df.collect())) \
        == want
    assert sorted(map(tuple, bm25_topk(docs, Table(qdf, "q"),
                                       k=4).df.collect())) == want
    assert sorted(map(tuple, bm25_topk(
        docs, ["apple apple banana banana"], k=4).df.collect())) == want


def test_bm25_salted_topk_is_exact(spark):
    """The two-stage (salted local -> global) top-k returns exactly the
    global top-k on a corpus large enough that every salt bucket is
    populated; byte-equal under adversarial input partitioning."""
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    corpus = [(i, " ".join(vocab[(i + j) % len(vocab)]
                           for j in range(3 + i % 5)))
              for i in range(400)]
    queries = ["alpha beta", "gamma delta epsilon", "zeta"]
    t = data(corpus, spark=spark,
             schema="doc_id bigint, text string", name="bm_big")
    want = _expected(corpus, queries, k=7)
    got = sorted(map(tuple, bm25_topk(t, queries, k=7).df.collect()))
    assert got == want
    shuf = Table(t.df.repartition(13), "bm_big_r")
    assert sorted(map(tuple,
                      bm25_topk(shuf, queries, k=7).df.collect())) == want


def test_bm25_broadcasts_query_state(spark, docs):
    """Every query-side/stats/df join broadcasts — the corpus never
    shuffles on anything but the (doc, term) hit key."""
    plan = bm25_topk(docs, ["apple"], k=3).df._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_guards(spark, docs):
    with pytest.raises(ValueError, match="k must be"):
        bm25_topk(docs, ["apple"], k=0)
    with pytest.raises(ValueError, match="k1 must be"):
        bm25_topk(docs, ["apple"], k1=0)
    with pytest.raises(ValueError, match="b must be"):
        bm25_topk(docs, ["apple"], b=1.5)
    with pytest.raises(ValueError, match="non-empty strings"):
        bm25_topk(docs, [])
    with pytest.raises(TypeError, match="queries must be"):
        bm25_topk(docs, 42)
    with pytest.raises(ValueError, match="missing column"):
        bm25_topk(docs, spark.createDataFrame([(1, "x")],
                                              "qid long, text string"))
    with pytest.raises(ValueError, match="max_queries"):
        bm25_topk(docs, ["a", "b", "c"], max_queries=2)
    # and the escape hatch
    assert bm25_topk(docs, ["apple", "banana", "cherry"],
                     max_queries=None, k=1).df.count() == 3


def test_bm25_wire_roundtrip(spark, docs):
    """bm25_topk over blaze:// matches the local run (real HTTP);
    scalar guards fire BEFORE the POST; malformed nodes reject."""
    from blaze_spark import data
    from blaze_spark.interop import from_tree
    from blaze_spark.server import BlazeSparkServer

    srv = BlazeSparkServer({"bm_docs": docs}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::bm_docs", spark=spark)
        r = bm25_topk(rt, ["apple banana", "cherry"], k=3)
        got = sorted(map(tuple, spark.createDataFrame(
            r.compute(), schema=r.df.schema).collect()))
        want = sorted(map(tuple, bm25_topk(
            docs, ["apple banana", "cherry"], k=3).df.collect()))
        assert got == want and len(got) == 4
        with pytest.raises(ValueError, match="k1 must be"):
            bm25_topk(rt, ["apple"], k1=0)
        # a remote query relation cannot apply to a LOCAL corpus
        with pytest.raises(TypeError, match="mixes engines"):
            bm25_topk(docs, rt.relabel(doc_id="query_id",
                                       text="query"))
    finally:
        srv.stop()
    # refusal matrix on the raw node (no server needed)
    sym = {"op": "symbol", "args": ["bm_docs"]}
    with pytest.raises(ValueError, match="unknown keyword"):
        from_tree({"op": "bm25_topk",
                   "args": [sym, {"queries": ["apple"], "evil": 1}]},
                  spark=spark, datasets={"bm_docs": docs},
                  allow_data_uris=False)
    with pytest.raises(ValueError, match="non-empty strings"):
        from_tree({"op": "bm25_topk",
                   "args": [sym, {"queries": [["x", "y"]]}]},
                  spark=spark, datasets={"bm_docs": docs},
                  allow_data_uris=False)
    with pytest.raises(ValueError, match="subtree"):
        from_tree({"op": "bm25_topk",
                   "args": [sym, {"queries": {"evil": 1}}]},
                  spark=spark, datasets={"bm_docs": docs},
                  allow_data_uris=False)
    # a well-formed literal node replays to the local result
    ok = from_tree({"op": "bm25_topk",
                    "args": [sym, {"queries": {
                        "rows": [[0, "apple banana"]],
                        "schema": "query_id BIGINT, query STRING"},
                        "k": 3}]},
                   spark=spark, datasets={"bm_docs": docs},
                   allow_data_uris=False)
    assert sorted(map(tuple, ok.df.collect())) == sorted(map(
        tuple, bm25_topk(docs, ["apple banana"], k=3).df.collect()))
