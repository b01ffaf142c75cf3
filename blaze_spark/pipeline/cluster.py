"""Duplicate-cluster resolution: pair edges -> connected components ->
one canonical document per cluster.

The dedup family (``minhash_candidates``, ``simhash_candidates``,
``embedding_neardup_pairs``) emits PAIRS.  A training-data pipeline needs
the transitive closure of those pairs — if A~B and B~C, keeping "one of
each pair" would keep two of {A,B,C} — plus a deterministic survivor per
cluster.  The reference has no graph operator (its dedup surface is
``distinct``, blaze/expr/collections.py:210-248); this module is part of
the beyond-reference LLM-pipeline surface.

Algorithm: hash-min label propagation over the undirected edge set —
every node repeatedly adopts the smallest component id among itself and
its neighbors, until a fixed point.  Iterations ~ graph diameter, which
for near-dup clusters is tiny (pairs, stars, short chains — measured <=4
at sf0.1); ``max_iter`` hard-bounds the adversarial case.  Each round is
one shuffle (groupBy node) after an edge equi-join; per-round results are
``localCheckpoint``-ed to truncate the lineage, otherwise the iterated
plan grows exponentially and the driver, not the data, becomes the
bottleneck.  At cluster scale prefer ``spark.sparkContext.setCheckpointDir``
+ reliable checkpoints for fault tolerance; executor-local checkpoints
trade re-computability for speed, which is the right local default.

100 TB shape: edge lists from near-dup detection are SPARSE (|E| ~ dup
rate x N, not N^2) and component sizes are bounded in practice by
``max_bucket`` upstream; every stage here is an equi-join or a groupBy on
uniformly-hashed ids — no broadcast of anything proportional to N, no
driver materialization.  The convergence check is a metadata-cheap
``isEmpty`` on the changed-set, not a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import Table
from ..wire import wire_op

__all__ = ["connected_components", "dedup_clusters", "canonical_docs"]


def _as_df(t) -> DataFrame:
    return t.df if isinstance(t, Table) else t


# Wire forms (blaze_spark.wire): the pair list is itself a server-side
# expression, so a remote dedup service resolves clusters without the
# edges crossing the wire.  The local label propagation runs eager
# per-round jobs, so the remote schemas come from these functions,
# never from a plan-construction-time run of the loop.

def _check_rounds(max_iter: int) -> None:
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")


def _components_schema(max_iter, **_):
    _check_rounds(max_iter)
    return "node long, comp long"


def _clusters_schema(max_iter, **_):
    _check_rounds(max_iter)
    return "doc_id long, cluster_id long, is_canonical boolean"


def _canonical_schema(docs, id_col, max_iter, **_):
    # docs' columns, the left-join key first, then cluster_id (LONG —
    # the cc label domain) and keep, as in the local plan
    _check_rounds(max_iter)
    s = docs.df.schema
    return T.StructType(
        [s[id_col]] + [f for f in s.fields if f.name != id_col]
        + [T.StructField("cluster_id", T.LongType()),
           T.StructField("keep", T.BooleanType())])


@wire_op("connected_components", tables=("edges",),
         kwargs=("src", "dst", "max_iter"), schema=_components_schema)
def connected_components(edges, src: str = "a", dst: str = "b",
                         max_iter: int = 20,
                         checkpoint: bool = True) -> Table:
    """(node, component) for every node appearing in ``edges``; component
    is the minimum node id reachable through the undirected edge set.

    ``edges`` needs columns ``src``/``dst`` (any orientation, duplicates
    fine).  Isolated nodes don't appear — union the full node set and
    ``coalesce(component, node)`` downstream if needed (``canonical_docs``
    does exactly that).

    Work is bounded: up to ``max_iter + 1`` hash-min hops (the seed hop
    folded into the node census, then at most ``max_iter`` propagation
    rounds), each followed by one convergence aggregate job.  If the
    labels have not stopped changing after the last round, the result
    is returned as is, without a warning: every label is still a node id
    of its own component, so it is >= the true component minimum, but
    one component may carry several labels (nodes farther than the hop
    budget from the minimum keep a larger label).
    """
    e = _as_df(edges).select(F.col(src).cast("long").alias("u"),
                             F.col(dst).cast("long").alias("v"))
    e = e.filter(F.col("u") != F.col("v"))
    # symmetric closure once; self-loops dropped
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # seed with the first hash-min hop folded into the node census: the
    # distinct-nodes pass is already a groupBy over sym, so taking
    # min(node, min(neighbor)) there costs the same shuffle and saves
    # one full propagation round (r16, guide §2.4 — same fixpoint; the
    # per-round bound below still limits the join rounds).
    labels = (sym.groupBy(F.col("u").alias("node"))
              .agg(F.least(F.col("node"), F.min("v")).alias("comp")))
    if checkpoint:
        sym = sym.localCheckpoint(eager=False)
        labels = labels.localCheckpoint(eager=False)

    # Convergence probe: every comp weakly DECREASES under hash-min, so
    # the label set is stable iff the exact total is unchanged — one
    # aggregate per round instead of the join + isEmpty probe, and it
    # doubles as the job that materializes the lazy checkpoint (r16:
    # the eager checkpoint + isEmpty shape paid two jobs per round).
    # decimal(38,0): exact, and safe from long overflow at any corpus
    # size that fits an exchange.
    def _total(frame):
        row = frame.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        return (row["s"], row["n"])

    prev = _total(labels)
    for _ in range(max_iter):
        # neighbor minimum in one pass: propagate each node's comp to its
        # neighbors, take min(own, incoming) per node
        prop = (sym.join(labels.withColumnRenamed("node", "u"), "u")
                .select(F.col("v").alias("node"), "comp"))
        new_labels = (labels.unionByName(prop)
                      .groupBy("node").agg(F.min("comp").alias("comp")))
        if checkpoint:
            new_labels = new_labels.localCheckpoint(eager=False)
        cur = _total(new_labels)
        labels = new_labels
        if cur == prev:
            break
        prev = cur
    return Table(labels.select("node", "comp"), "connected_components")


@wire_op("dedup_clusters", tables=("pairs",),
         kwargs=("left", "right", "max_iter"), schema=_clusters_schema)
def dedup_clusters(pairs, left: str = "doc_a", right: str = "doc_b",
                   max_iter: int = 20) -> Table:
    """Near-duplicate pair list -> (doc_id, cluster_id, is_canonical).

    ``cluster_id`` is the smallest doc id in the component; the canonical
    survivor is that doc (smallest-id rule: deterministic, join-free to
    re-derive, and stable under re-runs with more pairs discovered).
    Only documents that appear in at least one pair are returned — the
    rest of the corpus is trivially its own cluster (see
    :func:`canonical_docs` for the corpus-wide view).
    """
    cc = connected_components(pairs, src=left, dst=right,
                              max_iter=max_iter).df
    return Table(
        cc.select(F.col("node").alias("doc_id"),
                  F.col("comp").alias("cluster_id"),
                  (F.col("node") == F.col("comp")).alias("is_canonical")),
        "dedup_clusters")


@wire_op("canonical_docs", tables=("docs", "pairs"),
         kwargs=("id_col", "left", "right", "max_iter"),
         schema=_canonical_schema)
def canonical_docs(docs, pairs, id_col: str = "doc_id",
                   left: str = "doc_a", right: str = "doc_b",
                   max_iter: int = 20) -> Table:
    """Corpus-wide dedup resolution: every document annotated with its
    cluster and keep/drop flag; documents in no pair keep themselves.

    The cluster map is a LEFT join onto the corpus (cluster side is
    |pairs|-sized, typically orders of magnitude smaller than the corpus
    — Spark broadcasts it when it fits, falls back to a shuffled join
    when it doesn't; both correct).  ``keep = is_canonical OR unpaired``.
    """
    d = _as_df(docs)
    clusters = dedup_clusters(pairs, left=left, right=right,
                              max_iter=max_iter).df \
        .withColumnRenamed("doc_id", id_col)
    out = (d.join(clusters, id_col, "left")
           .withColumn("cluster_id",
                       F.coalesce(F.col("cluster_id"), F.col(id_col)))
           .withColumn("keep", F.coalesce(F.col("is_canonical"), F.lit(True)))
           .drop("is_canonical"))
    return Table(out, "canonical_docs")

