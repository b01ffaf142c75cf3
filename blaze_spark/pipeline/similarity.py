"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk` — brute-force baseline: queries × corpus with the dot
  product as a JVM-side ``aggregate(zip_with(...))`` (no Python in the inner
  loop).  The query side is broadcast — at 100 TB the corpus streams
  partition-local against an in-memory query block, and the global top-k is
  a TakeOrdered-style window per query, never a full sort.
- :func:`lsh_cosine_topk` / :func:`embedding_neardup_pairs` — the scale
  path: MULTI-TABLE random-hyperplane LSH (OR-amplification), candidates
  only within (table, signature) buckets; signatures are one Arrow-batched
  numpy matmul per batch, deterministic from a seeded RNG.  Near-dup pair
  generation reuses the no-self-join bucket topology of pipeline.dedup.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import owned_cache
from ..core import Table
from ..sources import local_frame
from ..wire import local_only, wire_op
from .pq import centroids_from_wire, centroids_to_wire


def _dot(a, b) -> Column:
    # elementwise in double precision, left-to-right accumulation
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> Column:
    return F.sqrt(_dot(a, a))


def _signature_udf(planes: np.ndarray):
    """Arrow-batched numpy signature: one (batch x dim) @ (dim x planes)
    matmul per batch — the vectorized-pandas-UDF fast path for embedding
    math (per-element JVM lambdas are ~10x slower here)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _sig(s):
        m = np.stack(s.to_numpy())            # (batch, dim)
        bits = (m.astype(np.float64) @ planes.T) > 0   # (batch, n_planes)
        weights = (1 << np.arange(planes.shape[0])).astype(np.int64)
        return pd.Series(bits @ weights)

    _sig.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_sig, "long")


def _pair_cosine_udf():
    """Arrow-batched cosine for joined vector pairs — used on approximate
    (rows-only) paths.  The oracle-checked exact paths keep the JVM
    left-to-right ``aggregate`` so sums are bit-identical to DuckDB's."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos(a, b):
        ma = np.stack(a.to_numpy()).astype(np.float64)
        mb = np.stack(b.to_numpy()).astype(np.float64)
        num = (ma * mb).sum(axis=1)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(num / den)

    _cos.__annotations__ = {"a": pd.Series, "b": pd.Series,
                            "return": pd.Series}
    return pandas_udf(_cos, "double")


def _query_guard(queries: Table, id_col: str, max_queries: int | None,
                 name: str, advice: str) -> None:
    """Query-side size guard shared by every top-k path that builds
    per-query driver/broadcast state: one cheap ``limit(n+1)`` job,
    raise (with the caller's advice) instead of silently scaling with
    the query count."""
    if max_queries is None:
        return
    probe = queries.df.select(id_col).limit(max_queries + 1).count()
    if probe > max_queries:
        raise ValueError(
            f"{name} query side exceeds max_queries={max_queries}: "
            f"{advice}, or pass max_queries=None to force.")


def _rank_topk(scored, k: int, round_to: int | None,
               order_col: str = "cosine", ascending: bool = False,
               cosine_expr=None):
    """The shared (query_id, neighbor_id, cosine) top-k tail: rank by
    (score, neighbor_id) — the ONE definition of the tie-break — and
    export the -0.0-canonicalized rounded cosine.  ``cosine_expr``
    converts a distance score (e.g. ADC ``1 − adist/2``)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(order_col).asc() if ascending else F.col(order_col).desc(),
        F.col("neighbor_id"))
    cos = F.col(order_col) if cosine_expr is None else cosine_expr
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    (F.round(cos, round_to) + F.lit(0.0)).alias("cosine")
                    if round_to is not None else cos.alias("cosine")))


@local_only
def cosine_topk(corpus: Table, queries: Table, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_to: int | None = 4,
                max_queries: int = 10_000, dim: int | None = 64) -> Table:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine) — self-matches excluded, ties
    broken by neighbor id (deterministic).

    GUARD: this is the brute-force cartesian baseline — cost is
    corpus x queries.  It is linear in the corpus only while the query side
    broadcasts, so a query side larger than ``max_queries`` raises instead
    of silently launching an all-pairs job; use :func:`lsh_cosine_topk` or
    :func:`ivf.ivf_topk` for large query sets (approximate, bucketed).
    Pass ``max_queries=None`` to skip the check (the count costs one cheap
    ``limit(n+1)`` job).  ``dim`` is accepted for API compatibility but no
    longer specializes the scoring (r5: the unrolled known-dim form lost
    to the aggregate dot and was removed).
    """
    _query_guard(queries, id_col, max_queries, "cosine_topk",
                 "brute-force scoring is corpus x queries. Use "
                 "lsh_cosine_topk/ivf_topk for large query sets")
    q = queries.df.select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qv"),
                          _norm(F.col(vec_col)).alias("qn"))
    c = corpus.df.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("cv"),
                         _norm(F.col(vec_col)).alias("cn"))
    # zip_with/aggregate dot: left-to-right double accumulation (DuckDB
    # oracle-identical).  An unrolled per-index SQL form was tried and
    # REVERTED: at dim=64 its 128-term expression tree leaves the codegen
    # fast path and ran 3.5-4x slower than this one interpreted pass
    # (measured at sf1, 100k and 723k pair shapes; r5).
    dot = _dot(F.col("qv"), F.col("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", dot / (F.col("qn") * F.col("cn")))
    )
    return Table(_rank_topk(scored, k, round_to), "cosine_topk")


def _multi_signature_udf(planes: np.ndarray, n_tables: int, n_planes: int):
    """Array of ``n_tables`` hyperplane signatures per vector — one
    (batch x dim) @ (dim x n_tables*n_planes) matmul per Arrow batch."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def _sig(s):
        m = np.stack(s.to_numpy()).astype(np.float64)
        bits = (m @ planes.T) > 0                       # (batch, T*planes)
        sigs = bits.reshape(len(m), n_tables, n_planes) @ weights
        return pd.Series(list(sigs))

    _sig.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_sig, "array<long>")


def lsh_auto_params(n_vectors: int, threshold: float = 0.9,
                    recall: float = 0.95, target_bucket: int = 8,
                    max_tables: int = 12) -> tuple[int, int]:
    """(n_planes, n_tables) sized for a corpus of ``n_vectors``.

    A FIXED plane count does not survive scale-up: bucket occupancy grows
    linearly with N, so bucket pair generation grows as N² (the sf1 bench
    measured 11x time for 10x vectors at n_planes=6).  Constant occupancy
    requires ``n_planes = log2(N / target_bucket)``; the recall lost to
    longer signatures is bought back with more OR-amplification tables:
    ``1-(1-p^planes)^tables >= recall``.  Candidate cost is
    ``N x target_bucket x tables / 2`` pairs — LINEAR in N at fixed
    occupancy (tables grows ~N^0.2), and every candidate pair costs a
    ~2µs exact rescore, so occupancy is kept SMALL: target_bucket=64
    measured 290 candidates/vector (6.4M pairs, 45-90 s at sf1) vs ~6x
    fewer at the default 8 with the same found-pair set.

    Recall is evaluated at the DESIGN cosine ``(1+threshold)/2`` — the
    middle of the near-dup band — not at the threshold boundary: LSH
    collision probability collapses exactly at the decision boundary
    (the s-curve's knee), so sizing tables for boundary recall buys
    quadratic cost for pairs the downstream exact-verify stage would
    reject anyway.  Genuine near-dups (c well above threshold) keep
    recall ~1; pairs AT the threshold get the curve's best effort.

    ``max_tables`` is a hard COST cap: every table adds a full corpus
    explode + its bucket pairs, so unbounded recall-chasing re-creates the
    quadratic blowup by other means.  When the cap binds, hyperplane LSH
    at this threshold is the wrong tool and the IVF family is the
    documented scale path — :func:`neardup_pairs` dispatches on exactly
    this condition."""
    n_planes, required = lsh_tables_required(
        n_vectors, threshold, recall=recall, target_bucket=target_bucket)
    return n_planes, min(max_tables, required)


def lsh_tables_required(n_vectors: int, threshold: float = 0.9,
                        recall: float = 0.95,
                        target_bucket: int = 8) -> tuple[int, int]:
    """UNCLAMPED (n_planes, n_tables) the LSH design needs for the target
    recall at constant bucket occupancy — the quantity
    :func:`lsh_auto_params` clamps at ``max_tables``.  Exposed separately
    so :func:`neardup_pairs` can detect when the cap would bind (the
    measured LSH→IVF regime boundary, PLANS.md 'IVF near-dup topology
    (r6)': ~200k vectors at dim 64, threshold 0.9) without re-deriving
    the s-curve math."""
    import math

    n_planes = max(4, min(24, math.ceil(
        math.log2(max(2.0, n_vectors / target_bucket)))))
    design_c = (1.0 + threshold) / 2.0
    p = 1.0 - math.acos(max(-1.0, min(1.0, design_c))) / math.pi
    p_all = p ** n_planes
    if p_all >= 1.0:
        return n_planes, 1
    return n_planes, max(2, math.ceil(
        math.log(1.0 - recall) / math.log(1.0 - p_all)))


@local_only
def neardup_pairs(corpus: Table, threshold: float = 0.9,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  n_vectors: int | None = None, dim: int = 64,
                  seed: int = 42, round_to: int | None = 4,
                  recall: float = 0.95, max_tables: int = 12,
                  codes: Table | None = None, store: str | None = None,
                  codebooks=None, centroids=None,
                  **backend_kwargs) -> Table:
    """Corpus-wide embedding near-duplicate pairs with AUTOMATIC regime
    choice (VERDICT r7 #5) — the entry point a user should call when they
    do not want to know the LSH↔IVF boundary.

    **Prebuilt PQ code stores are preferred** (r10 — the same
    fast-path-is-default contract as :func:`ann_topk`): pass ``codes=``
    or ``store=`` with the ``codebooks`` that encoded it (plus
    ``centroids`` for cell pruning) and the dispatch routes to
    :func:`pq_neardup_pairs` — candidates from the 8-byte codes,
    decisions from the exact float rescore.

    Otherwise sizes the corpus once (pass ``n_vectors`` to skip the
    count), asks :func:`lsh_tables_required` how many OR-amplification
    tables hyperplane LSH needs for the design recall, and dispatches:

    - requirement ≤ ``max_tables`` → :func:`embedding_neardup_pairs`
      (multi-table LSH; candidate volume linear in N at fixed occupancy);
    - requirement > ``max_tables`` → LSH is past its design-recall regime
      (the cap would silently clamp recall) → :func:`ivf.ivf_neardup_pairs`
      (cell blocking + per-cell BLAS; measured 6.4-16 s vs 24-30 s for
      capped LSH at 220k vectors — PLANS.md 'IVF near-dup topology (r6)').

    Every backend emits the same ``(vec_a < vec_b, cosine)`` schema.
    ``backend_kwargs`` are validated at entry against the UNION of
    every route's signature — an unknown name raises ``TypeError``
    immediately, on every route alike (the :func:`ann_topk`
    route-uniform contract, ADVICE r9/r10) — and each route then
    receives only the names it accepts (e.g. ``max_bucket`` reaches
    LSH, ``target_cell``/``max_cell`` IVF,
    ``nprobe``/``queries_per_batch``/``margin`` the PQ route;
    inapplicable knobs are inert by contract).
    """
    from .ivf import ivf_neardup_pairs

    routes = (embedding_neardup_pairs, ivf_neardup_pairs,
              pq_neardup_pairs)
    accepted_sets = [_accepted_kwargs(f) for f in routes]
    if None not in accepted_sets:
        union = set().union(*accepted_sets)
        for kw in backend_kwargs:
            if kw not in union:
                raise TypeError(
                    f"neardup_pairs got an unexpected keyword {kw!r}: "
                    "no dispatch route (embedding_neardup_pairs / "
                    "ivf_neardup_pairs / pq_neardup_pairs) accepts it")
    if codes is not None or store is not None:
        return pq_neardup_pairs(
            corpus, threshold, codebooks=codebooks, codes=codes,
            store=store, centroids=centroids, id_col=id_col,
            vec_col=vec_col, round_to=round_to, n_vectors=n_vectors,
            **_filter_route_kwargs(pq_neardup_pairs, backend_kwargs))
    n = n_vectors if n_vectors is not None else corpus.df.count()
    n_planes, required = lsh_tables_required(n, threshold, recall=recall)
    if required > max_tables:
        return ivf_neardup_pairs(
            corpus, threshold, id_col=id_col, vec_col=vec_col,
            n_vectors=n, seed=seed, round_to=round_to,
            **_filter_route_kwargs(ivf_neardup_pairs, backend_kwargs))
    return embedding_neardup_pairs(
        corpus, threshold, id_col=id_col, vec_col=vec_col,
        n_planes=n_planes, n_tables=min(max_tables, required),
        n_vectors=n, dim=dim, seed=seed, round_to=round_to,
        **_filter_route_kwargs(embedding_neardup_pairs, backend_kwargs))


@local_only
def embedding_neardup_pairs(corpus: Table, threshold: float = 0.9,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            n_planes: int | None = None,
                            n_tables: int | None = None,
                            n_vectors: int | None = None,
                            dim: int = 64, seed: int = 42,
                            exact: bool = False, max_bucket: int = 2000,
                            round_to: int | None = 4) -> Table:
    """Embedding-cosine near-duplicate pairs: (a < b, cosine >= threshold).

    Default path is MULTI-TABLE hyperplane LSH (OR-amplification): each of
    ``n_tables`` independent plane sets buckets the corpus by its
    ``n_planes``-bit sign signature; a pair is a candidate if it collides
    in ANY table.  Recall for a pair at cosine c is
    ``1-(1-p^n_planes)^n_tables`` with ``p = 1 - arccos(c)/pi``.
    ``n_planes``/``n_tables`` default to :func:`lsh_auto_params` sized
    from a corpus count (pass ``n_vectors`` to supply the count and skip
    the sizing scan), keeping bucket occupancy — and therefore
    per-bucket pair cost — constant as the corpus grows.  Candidate
    generation is the no-self-join topology (see dedup.lsh_band_pairs):
    one groupBy per (table, sig) bucket, i<j pairs + the exact cosine
    generated in-array JVM-side, duplicates across tables collapsed by a
    final pair-keyed groupBy.  ``max_bucket`` blacklists degenerate
    buckets via broadcast anti join.  ``exact=True`` does the brute-force
    quadratic scoring — the oracle path for small corpora."""
    c = corpus.df.select(F.col(id_col).alias("vid"),
                         F.col(vec_col).alias("v"),
                         _norm(F.col(vec_col)).alias("n"))

    def _cut(scored):
        out = scored.filter(F.col("cosine") >= threshold)
        if round_to is not None:
            out = out.withColumn("cosine",
                                 F.round("cosine", round_to) + F.lit(0.0))
        return Table(out, "embedding_neardup_pairs")

    if exact:
        l, r = c.alias("l"), c.alias("r")
        cos = _dot(F.col("l.v"), F.col("r.v")) / (F.col("l.n") * F.col("r.n"))
        return _cut(l.join(r, F.col("l.vid") < F.col("r.vid")).select(
            F.col("l.vid").alias("vec_a"), F.col("r.vid").alias("vec_b"),
            cos.alias("cosine")))
    # the LSH path reads the corpus repeatedly (param count, signature
    # pass, and the two vector re-joins) — persist ONCE, owned by the
    # returned result
    with owned_cache(c) as c_own:
        if n_planes is None or n_tables is None:
            # auto-size from the corpus count; ``n_vectors`` lets callers
            # who know it (or can estimate it from catalog stats) skip the
            # extra corpus pass — production paths should pass it
            n = n_vectors if n_vectors is not None else c.count()
            auto_p, auto_t = lsh_auto_params(n, threshold)
            n_planes = auto_p if n_planes is None else n_planes
            n_tables = auto_t if n_tables is None else n_tables
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_tables * n_planes, dim))
        sig_udf = _multi_signature_udf(planes, n_tables, n_planes)
        # ID-ONLY candidate topology (same as lsh_cosine_topk): vectors
        # ride neither the banding explode nor the bucket groupBy, and the
        # cosine is NOT computed per-pair inside array lambdas — Catalyst
        # higher-order functions are interpreted, and an in-array
        # aggregate() dot per candidate measured ~10x slower than scoring
        # the re-joined pairs with one Arrow-batched numpy matmul.
        # entries is tiny (3 longs x N·tables) but costs an Arrow UDF pass
        # over the corpus — persist so the hot-bucket count and the two
        # sides of the pair self-join share one signature computation
        entries = (c.select("vid", sig_udf(F.col("v")).alias("sigs"))
                   .select("vid", F.posexplode("sigs").alias("tbl", "sig")))
        with owned_cache(entries) as e_own:
            hot = (entries.groupBy("tbl", "sig")
                   .agg(F.count(F.lit(1)).alias("cnt"))
                   .filter(F.col("cnt") > max_bucket).select("tbl", "sig"))
            cold = entries.join(F.broadcast(hot), ["tbl", "sig"], "left_anti")
            # Pair generation is an ID-ONLY equi-self-join on (table, sig) —
            # WholeStageCodegen end to end.  The in-array alternative
            # (collect_list + transform i<j pairing) evaluates Catalyst
            # lambdas INTERPRETED per emitted pair: at sf1's 6.5M candidates
            # that measured 45 s vs ~8 s for this join, and the gap widens
            # with scale.  Joining ids costs two shuffles of (id, tbl, sig)
            # rows — O(N·tables) longs, never vectors — and the join
            # output pipelines straight into the pair-dedup aggregation
            # without materializing.  (dedup.lsh_band_pairs keeps the
            # in-array form: shingle-text buckets stay tiny under its
            # max_bucket, where the collect_list saves the second
            # shuffle.)
            pairs = (cold.alias("l")
                     .join(cold.alias("r"), ["tbl", "sig"])
                     .filter(F.col("l.vid") < F.col("r.vid"))
                     .select(F.col("l.vid").alias("vec_a"),
                             F.col("r.vid").alias("vec_b"))
                     .distinct())  # shuffle carries two ids per pair
            # norms computed ONCE per vector (N rows), carried as one double
            # through the id-keyed joins; the per-pair dot is the zip_with/
            # aggregate form (see cosine_topk's note — the unrolled SQL
            # variant measured 3.5x slower and was reverted in r5)
            av = c.select(F.col("vid").alias("vec_a"), F.col("v").alias("va"),
                          F.col("n").alias("na"))
            bv = c.select(F.col("vid").alias("vec_b"), F.col("v").alias("vb"),
                          F.col("n").alias("nb"))
            joined = pairs.join(av, "vec_a").join(bv, "vec_b")
            cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            scored = (joined.withColumn("cosine", cos)
                      .select("vec_a", "vec_b", "cosine"))
            return e_own.transfer(c_own.transfer(_cut(scored)))


@local_only
def lsh_cosine_topk(corpus: Table, queries: Table, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_planes: int = 8, n_tables: int = 8, dim: int = 64,
                    seed: int = 42, round_to: int | None = 4) -> Table:
    """Approximate top-k: multi-table random-hyperplane LSH — each of
    ``n_tables`` plane sets buckets both sides; a corpus row is scored for
    a query if they collide in ANY table (OR-amplified recall, as in
    ``embedding_neardup_pairs``).  At scale this replaces the crossJoin
    with an equi-join keyed by (table, signature) — uniform,
    shuffle-friendly — with the (small) query side broadcast.

    Per-pair recall at cosine c is ``1-(1-p^n_planes)^n_tables`` with
    ``p = 1 - arccos(c)/pi``: high for genuine near-duplicates (c>=0.9),
    intentionally low for weak neighbors (random-vector top-k at c~0.35
    is the adversarial case — use ``ivf_topk`` there: a trained coarse
    quantizer prunes by actual data geometry, not random planes)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables * n_planes, dim))
    sig_udf = _multi_signature_udf(planes, n_tables, n_planes)

    # Candidate generation carries IDS ONLY — vectors never ride the
    # banding explode or the candidate-dedup shuffle (at dim=1024 a
    # vector-carrying groupBy would shuffle O(pairs*dim) bytes; this
    # topology shuffles O(pairs) ids and re-joins the vectors once,
    # keyed by id).
    q_sig = queries.df.select(F.col(id_col).alias("query_id"),
                              sig_udf(F.col(vec_col)).alias("sigs")) \
        .select("query_id", F.posexplode("sigs").alias("tbl", "sig"))
    c_sig = corpus.df.select(F.col(id_col).alias("neighbor_id"),
                             sig_udf(F.col(vec_col)).alias("sigs")) \
        .select("neighbor_id", F.posexplode("sigs").alias("tbl", "sig"))
    pairs = (
        c_sig.join(F.broadcast(q_sig), ["tbl", "sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()                       # shuffle carries two ids per pair
    )
    cvec = corpus.df.select(F.col(id_col).alias("neighbor_id"),
                            F.col(vec_col).alias("cv"))
    qvec = queries.df.select(F.col(id_col).alias("query_id"),
                             F.col(vec_col).alias("qv"))
    scored = (
        pairs.join(cvec, "neighbor_id")   # one id-keyed shuffle, O(pairs+corpus)
        .join(F.broadcast(qvec), "query_id")
        .withColumn("cosine", _pair_cosine_udf()(F.col("qv"), F.col("cv")))
    )
    return Table(_rank_topk(scored, k, round_to), "lsh_cosine_topk")


def _accepted_kwargs(fn) -> set | None:
    """The keyword names ``fn`` accepts, or None for accept-everything
    (``**kwargs`` — e.g. a test spy or a wrapper
    whose signature cannot be introspected)."""
    import inspect

    try:
        params = inspect.signature(fn).parameters
    except (TypeError, ValueError):
        return None
    if any(p.kind is p.VAR_KEYWORD for p in params.values()):
        return None
    return set(params)


def _filter_route_kwargs(fn, kwargs: dict) -> dict:
    """Forward only the kwargs the chosen route accepts.  Validity was
    already checked at dispatcher entry against the UNION of all
    routes, so dropping here is the documented cross-route contract —
    the exception class never depends on which regime the corpus size
    picks (ADVICE r9)."""
    accepted = _accepted_kwargs(fn)
    if accepted is None:
        return dict(kwargs)
    return {k: v for k, v in kwargs.items() if k in accepted}


def _resolve_codes(spark, store: str | None, codes, codebooks,
                   centroids, name: str):
    """Shared prebuilt-PQ-store resolution for the dispatchers: open a
    ``store=`` path (incremental ingest store — auto-detected by its
    ingest layout, format-validated, complete-ingests-only — or a flat
    ``write_pq_codes`` directory) into a codes table; validate that
    ``codebooks`` ride along (codes from foreign codebooks would
    silently rank garbage)."""
    from . import pq as pq_mod

    if store is not None and codes is not None:
        raise ValueError(f"{name}: pass codes= OR store=, not both")
    if store is not None:
        if codebooks is None:
            raise ValueError(
                f"{name} store routing needs codebooks= — the trained "
                "PQ codebooks that encoded the store (pq.load_codebooks "
                "reloads a persisted set); codes from foreign codebooks "
                "would silently rank garbage")
        from ..streaming.incremental_ann import read_pq_index
        from ..streaming.store import ingest_ids
        if ingest_ids(spark, store):
            return read_pq_index(spark, store, codebooks, centroids)
        return pq_mod.read_pq_codes(store, spark=spark)
    if codes is not None and codebooks is None:
        raise ValueError(
            f"{name} codes routing needs codebooks= — the trained "
            "PQ codebooks that encoded the codes table")
    return codes


@local_only
def ann_topk(corpus: Table | None, queries: Table, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             threshold: float | None = None,
             n_vectors: int | None = None, dim: int | None = None,
             seed: int = 42, round_to: int | None = 4,
             exact_max: int = 50_000, recall: float = 0.95,
             max_tables: int = 12, centroids=None, nprobe: int = 4,
             target_cell: int = 256, codes: Table | None = None,
             store: str | None = None, codebooks=None,
             max_queries: int = 10_000,
             **backend_kwargs) -> Table:
    """Top-k cosine neighbors with AUTOMATIC regime choice — the search
    sibling of :func:`neardup_pairs` (r7 #5's dispatcher extended to
    top-k).  Call this when you do not want to know the
    exact↔LSH↔IVF↔PQ boundary; every route emits the same
    (query_id, neighbor_id, cosine) schema with the same tie-break.

    **Prebuilt code stores are preferred** (VERDICT r9 #1 — the
    measured-37× ADC path is the default, not an expert path): pass
    ``codes=`` (a :func:`pq.pq_encode`'d table) or ``store=`` (a
    :func:`pq.write_pq_codes` directory OR an
    :func:`streaming.incremental_ann.ingest_pq_batch` ingest store,
    auto-detected) together with the ``codebooks`` that encoded it
    (reload a persisted set via :func:`pq.load_codebooks`).  With
    ``centroids`` and a cell-carrying codes table the route is
    :func:`pq.ivf_pq_topk` (cell-pruned, sublinear in IO over a
    cell-partitioned store); otherwise :func:`pq.pq_topk` (flat ADC —
    still a 32×-less-IO scan).  Ingest stores are format-validated
    against the passed artifacts (``_PQ_FORMAT``) and read
    complete-ingests-only; ``corpus`` is ignored on these routes (the
    store IS the corpus at rest).

    Float-vector corpora are sized once (pass ``n_vectors`` to skip the
    count), then:

    - ``n <= exact_max`` → :func:`cosine_topk` — brute force is cheap
      AND exact below ~50k rows (the broadcast-query scoring is one
      corpus pass); approximation has nothing to buy here.
    - past that, if the caller declares a ``threshold`` (only neighbors
      at cosine ≥ c matter — the near-dup retrieval case), hyperplane
      LSH is used while :func:`lsh_tables_required` says the design
      ``recall`` at that threshold fits under ``max_tables``; LSH needs
      NO training pass.  Without a threshold LSH is skipped: its recall
      collapses for mid-cosine neighbors (see :func:`lsh_cosine_topk`).
    - otherwise → :func:`ivf.ivf_topk` — a coarse quantizer fit (k =
      N/``target_cell`` cells, reusable via ``centroids``) prunes by
      the data's actual geometry; measured 10.6 s vs 50.9 s brute force
      at 200k vectors (PLANS.md r9 PQ table).

    The guard knob is a NAMED param (ADVICE r9 — the kwarg surface must
    not change exception class with corpus size): ``max_queries``
    reaches every route that collects or broadcasts per-query state
    (exact, IVF, PQ, IVF-PQ — they RAISE past it; slice larger query
    sets with :func:`batched_topk`); LSH has none (its query side rides
    a bucketed equi-join).  ``k`` and ``nprobe`` below 1 raise
    ``ValueError`` before any job.  Remaining ``backend_kwargs`` are
    validated at entry against the union of every route's signature —
    an unknown name raises ``TypeError`` immediately, on every route
    alike — and each route then receives only the names it accepts
    (inapplicable knobs are inert by contract, like ``max_queries`` on
    the LSH route)."""
    from . import pq as pq_mod
    from .ivf import _check_ann_params, ivf_topk, kmeans_fit

    _check_ann_params(k=k, nprobe=nprobe)
    guard_kwargs = {"max_queries": max_queries}
    routes = (cosine_topk, lsh_cosine_topk, ivf_topk,
              pq_mod.pq_topk, pq_mod.ivf_pq_topk)
    accepted_sets = [_accepted_kwargs(f) for f in routes]
    if None not in accepted_sets:
        union = set().union(*accepted_sets) | set(guard_kwargs)
        for kw in backend_kwargs:
            if kw not in union:
                raise TypeError(
                    f"ann_topk got an unexpected keyword {kw!r}: no "
                    "dispatch route (cosine_topk / lsh_cosine_topk / "
                    "ivf_topk / pq_topk / ivf_pq_topk) accepts it")

    def _call(fn, *args, **named):
        # accept-all signatures (``**kwargs`` — e.g. a monkeypatched
        # spy) get backend_kwargs only: the guard knobs are
        # dispatcher-owned and only reach routes that DECLARE them
        accepted = _accepted_kwargs(fn)
        extra = (dict(backend_kwargs) if accepted is None
                 else _filter_route_kwargs(fn, {**guard_kwargs,
                                                **backend_kwargs}))
        extra.update(named)
        return fn(*args, **extra)

    codes = _resolve_codes(queries.df.sparkSession, store, codes,
                           codebooks, centroids, "ann_topk")
    if codes is not None:
        if centroids is not None and (
                "cell" in codes.df.columns or vec_col in codes.df.columns):
            return _call(pq_mod.ivf_pq_topk, codes, queries, centroids,
                         codebooks, k=k, nprobe=nprobe, id_col=id_col,
                         vec_col=vec_col, round_to=round_to)
        return _call(pq_mod.pq_topk, codes, queries, codebooks, k=k,
                     id_col=id_col, vec_col=vec_col, round_to=round_to)

    if corpus is None:
        raise ValueError(
            "ann_topk needs a float-vector corpus= (or a prebuilt PQ "
            "codes=/store= with its codebooks=) — got neither")
    n = n_vectors if n_vectors is not None else corpus.df.count()
    if n <= exact_max:
        return _call(cosine_topk, corpus, queries, k=k, id_col=id_col,
                     vec_col=vec_col, round_to=round_to)
    if threshold is not None:
        n_planes, required = lsh_tables_required(n, threshold,
                                                 recall=recall)
        if required <= max_tables:
            if dim is None:
                # derive the plane width from the data (r9 review: a
                # fixed 64 crashed dim-128 corpora only once they
                # outgrew exact_max) — one head-row job on the queries
                head = queries.df.select(vec_col).head(1)
                dim = len(head[0][0]) if head else 64
            return _call(lsh_cosine_topk, corpus, queries, k=k,
                         id_col=id_col, vec_col=vec_col,
                         n_planes=n_planes, n_tables=required, dim=dim,
                         seed=seed, round_to=round_to)
    if centroids is None:
        k_cells = max(16, int(np.ceil(n / target_cell)))
        centroids = kmeans_fit(corpus, k=k_cells, iters=3,
                               vec_col=vec_col, id_col=id_col, seed=seed)
    return _call(ivf_topk, corpus, queries, centroids, k=k,
                 nprobe=nprobe, id_col=id_col, vec_col=vec_col,
                 round_to=round_to)


@local_only
def pq_neardup_pairs(corpus: Table, threshold: float = 0.9,
                     codebooks=None, codes: Table | None = None,
                     store: str | None = None, centroids=None,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     margin: float = 0.0, nprobe: int = 4,
                     queries_per_batch: int = 10_000,
                     round_to: int | None = 4,
                     n_vectors: int | None = None) -> Table:
    """Corpus-wide near-duplicate pairs GENERATED FROM THE PQ CODE STORE
    (``(vec_a < vec_b, cosine >= threshold)`` — the same contract as
    :func:`embedding_neardup_pairs`/:func:`ivf.ivf_neardup_pairs`, but
    the candidate scan reads 8-byte codes instead of float vectors).

    Why this exists at 100 TB: a corpus that already maintains a PQ
    index (``write_pq_codes`` / the incremental ingest store) can dedup
    itself without ever re-scanning the float embeddings for candidate
    generation — 32× less IO per pass, cell-pruned when the store
    carries IVF cells.  Topology:

    1. the corpus floats are sliced into deterministic hash-of-id
       chunks of ~``queries_per_batch`` (the :func:`batched_topk`
       discipline — per-chunk ADC tables are the bounded driver state;
       each chunk's candidates are EAGERLY materialized via
       ``localCheckpoint`` and its broadcast destroyed, so live
       broadcast memory is one chunk's, not ``n_batches``×);
    2. each chunk runs a bias-corrected ADC RANGE scan
       (:func:`pq.pq_range_search` semantics; cell-pruned via
       :func:`pq.ivf_pq_range_search`'s pipeline when ``centroids`` and
       a cell column are available) at ``threshold − margin``;
    3. candidate pairs are canonicalized (least/greatest, distinct —
       both orientations are scanned, so an asymmetric cell probe
       cannot drop a pair) and RESCORED EXACTLY against the float
       vectors (one id-keyed join, JVM aggregate dot — the same exact
       tail as ``embedding_neardup_pairs``), then thresholded.

    The ADC radius correction makes exact/near-exact duplicates
    reliable candidates (the query's own quantization error is added
    to its radius); pairs sitting AT the threshold get best-effort
    recall, the same design point as the LSH backend's s-curve knee —
    raise ``margin`` to widen the band at proportional scan-output
    cost.  Precision is exact by construction (the float rescore
    decides).  Pass ``n_vectors`` to skip the sizing count."""
    import math

    from . import pq as pq_mod

    spark = corpus.df.sparkSession
    codes = _resolve_codes(spark, store, codes, codebooks, centroids,
                           "pq_neardup_pairs")
    if codes is None:
        raise ValueError(
            "pq_neardup_pairs needs a prebuilt PQ code table: pass "
            "codes= (pq_encode output) or store= (write_pq_codes / "
            "ingest store) with its codebooks= — for float-only "
            "corpora use neardup_pairs, which picks the LSH/IVF "
            "regime")
    min_c = float(threshold) - float(margin)
    n = n_vectors if n_vectors is not None else corpus.df.count()
    n_batches = max(1, math.ceil(n / max(1, queries_per_batch)))
    # cell route only when probing actually prunes: with nprobe >=
    # k_cells every query matches every cell and the per-row-UDF join
    # pipeline just re-spells the flat scan with join overhead — the
    # matrix mapInPandas kernel wins there
    use_cells = (centroids is not None
                 and centroids.shape[0] > int(nprobe)
                 and ("cell" in codes.df.columns
                      or vec_col in codes.df.columns))
    bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_batches))
    parts = []
    if n_batches > 1:
        # guide §5 (r15): every chunk's candidate scan reads the codes
        # relation, and a DERIVED codes frame (pq_encode over a float
        # corpus) re-ran the full assign+encode once PER CHUNK — at 22
        # chunks that is 22 corpus encodes for one dedup pass.  Persist
        # it for the life of the eager chunk loop; the scope is
        # construction-only (the returned plan reads the checkpointed
        # chunk candidates and the float corpus, never the codes).
        # Codes are the 32x-smaller-by-design relation, so the cache is
        # bounded the same way the store is.  owned_cache takes one more
        # reference on codes a caller's owned cache already holds (so
        # dropping the caller's holder mid-loop cannot unpersist them)
        # and borrows a raw caller persist without ever releasing it.
        codes = Table(codes.df, "pq_neardup_codes")
    def _one_chunk(i: int):
        chunk = (corpus if n_batches == 1
                 else Table(corpus.df.filter(bucket == F.lit(i))))
        if use_cells:
            cand, bc = pq_mod._ivf_pq_scored(
                codes, chunk, centroids, codebooks, nprobe, id_col,
                "pq_code", vec_col, "cell", None,
                "pq_neardup_pairs", min_cosine=min_c)
        else:
            cand, bc = pq_mod._pq_range_scored(
                codes, chunk, codebooks, min_c, id_col, "pq_code",
                vec_col, None, True, "pq_neardup_pairs")
        if cand is None:
            return None
        pairs = cand.select("query_id", "neighbor_id")
        if n_batches > 1:
            # freeze this chunk's candidates so its ~160 MB ADC
            # broadcast can be torn down as soon as ITS scan lands —
            # with the two-wide pool below, live broadcast memory is
            # bounded by TWO chunks (was one; still O(1) in n_batches)
            pairs = pairs.localCheckpoint(eager=True)
            bc.destroy()
        return pairs

    with owned_cache(codes.df if n_batches > 1 else None):
        if n_batches > 1:
            # guide §2.6 (r16): the chunk scans are independent jobs
            # over the cached codes relation — a two-wide pool lets the
            # next chunk's tasks back-fill the current chunk's
            # straggler tail.  Chunk results stay indexed by chunk id,
            # and the final pair set is DISTINCT-aggregated, so the
            # output is identical to the sequential build.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                parts = [p for p in pool.map(_one_chunk,
                                             range(n_batches))
                         if p is not None]
        else:
            parts = [p for p in (_one_chunk(0),) if p is not None]
    if not parts:
        return Table(local_frame(
            spark, [], "vec_a long, vec_b long, cosine double"),
            "pq_neardup_pairs")
    cand_all = parts[0]
    for p in parts[1:]:
        cand_all = cand_all.unionByName(p)
    pairs = (cand_all
             .select(F.least("query_id", "neighbor_id").alias("vec_a"),
                     F.greatest("query_id", "neighbor_id").alias("vec_b"))
             .distinct())
    # exact rescore: norms once per vector, per-pair dot via the JVM
    # aggregate form (see cosine_topk's note), id-keyed joins only
    c = corpus.df.select(F.col(id_col).alias("vid"),
                         F.col(vec_col).alias("v"),
                         _norm(F.col(vec_col)).alias("n"))
    av = c.select(F.col("vid").alias("vec_a"), F.col("v").alias("va"),
                  F.col("n").alias("na"))
    bv = c.select(F.col("vid").alias("vec_b"), F.col("v").alias("vb"),
                  F.col("n").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    out = (pairs.join(av, "vec_a").join(bv, "vec_b")
           .withColumn("cosine", cos)
           .filter(F.col("cosine") >= threshold)
           .select("vec_a", "vec_b", "cosine"))
    if round_to is not None:
        out = out.withColumn("cosine",
                             F.round("cosine", round_to) + F.lit(0.0))
    return Table(out, "pq_neardup_pairs")


@local_only
def batched_topk(corpus: Table | None, queries: Table, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 queries_per_batch: int = 10_000, backend=None,
                 n_queries: int | None = None,
                 materialize_chunks: bool = True,
                 **backend_kwargs) -> Table:
    """Top-k for query sets LARGER than the per-call guards (VERDICT r9
    #5): slices the query side into deterministic hash-of-id chunks of
    ~``queries_per_batch`` and unions the per-chunk answers.  Top-k per
    query is independent across queries, so the union is EXACTLY the
    single-call result (pytest pins the equality) — batching changes
    memory shape, never answers.

    The guards exist because every top-k route builds per-query driver/
    broadcast state (query blocks, ADC tables); a 1M-query self-dedup
    pass cannot hold that at once, but CAN hold ``queries_per_batch``
    of it per chunk — each chunk re-scans the corpus with bounded state
    (the classic batched-matmul trade: ``n_batches`` corpus passes for
    O(batch) memory; pick ``queries_per_batch`` as large as executor
    memory allows to minimize passes).  Inside a chunk the backend's
    own ``max_queries`` guard is force-disabled (batching IS the
    guard) unless the caller pins one explicitly.

    ``backend`` is any callable with the dispatcher contract
    ``backend(corpus, chunk_queries, k=, id_col=, vec_col=,
    **backend_kwargs) -> Table`` emitting (query_id, neighbor_id,
    cosine); default :func:`ann_topk`, so prebuilt PQ stores batch too
    (pass ``store=``/``codebooks=``).  When the backend accepts
    ``n_vectors`` and the caller did not supply it, the corpus is
    sized ONCE here and the count threaded into every chunk call —
    the default route costs one sizing job, not ``n_batches`` (each
    would be a full metadata/scan pass at corpus scale).  Chunk
    membership is ``xxhash64(id) mod n_batches`` — deterministic and
    re-run-stable, sizes uniform to hash noise (pass ``n_queries`` to
    skip the sizing count).

    Multi-chunk runs MATERIALIZE each chunk's answer eagerly
    (``localCheckpoint``) before the next chunk starts, so the
    driver/broadcast state the backends build per chunk (query
    blocks, ADC tables) is released chunk-by-chunk instead of all
    ``n_batches`` of it staying live until the final union executes —
    the bounded-memory promise is end-to-end, not per-task only (the
    :func:`pq_neardup_pairs` discipline).  The checkpointed chunk is
    ≤ ``queries_per_batch × k`` rows.

    The trade (ADVICE r11): ``localCheckpoint`` TRUNCATES lineage and
    stores the chunk's blocks on executors, so losing an executor
    mid-run makes earlier chunks unrecoverable — the whole query fails
    and must restart, instead of recomputing the lost partitions.  It
    also makes the call partially eager (chunks run as they are built,
    not at the final action).  On preemptible/spot executors, or when
    full lineage-based fault tolerance matters more than peak driver/
    broadcast memory, pass ``materialize_chunks=False``: the union
    stays fully lazy with intact lineage, at the cost of all
    ``n_batches`` of backend state staying referenced until the final
    action executes."""
    import math

    backend = backend if backend is not None else ann_topk
    n = n_queries if n_queries is not None else queries.df.count()
    n_batches = max(1, math.ceil(n / max(1, queries_per_batch)))
    accepted = _accepted_kwargs(backend)
    kw = dict(backend_kwargs)
    if ((accepted is None or "max_queries" in accepted)
            and "max_queries" not in kw):
        kw["max_queries"] = None
    if (corpus is not None
            and accepted is not None and "n_vectors" in accepted
            and "n_vectors" not in kw
            and "store" not in kw and "codes" not in kw):
        # hoisted sizing: one corpus count for the whole run (the
        # store=/codes= routes ignore the float corpus, so counting
        # it there would itself be the wasted job)
        kw["n_vectors"] = corpus.df.count()
    bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_batches))

    def _one(i: int):
        chunk = (queries if n_batches == 1
                 else Table(queries.df.filter(bucket == F.lit(i))))
        part = backend(corpus, chunk, k=k, id_col=id_col,
                       vec_col=vec_col, **kw).df
        if n_batches > 1 and materialize_chunks:
            # freeze this chunk's ≤ chunk×k rows so the backend's
            # per-chunk broadcasts/query blocks drop their last plan
            # reference and the context cleaner can reclaim them
            # while later chunks run (see the docstring for the
            # lineage-truncation fault-tolerance trade)
            part = part.localCheckpoint(eager=True)
        return part

    if n_batches > 1 and materialize_chunks:
        # guide §2.6 (r16): the chunks are independent jobs — a
        # two-wide pool lets the next chunk's tasks back-fill the
        # current chunk's straggler tail.  At most TWO chunks of
        # backend state are live at once (the bounded-memory promise
        # weakens from one chunk to two — still O(1) in n_batches);
        # parts stay indexed by chunk id, so the unioned plan — and
        # the result — is identical to the sequential build.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            parts = list(pool.map(_one, range(n_batches)))
    else:
        # single chunk, or lazy (materialize_chunks=False) construction
        # — no jobs run in this loop, nothing to overlap
        parts = [_one(i) for i in range(n_batches)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return Table(out, "batched_topk")


# r8 silent-empty audit: no wire-dialect form -> remote inputs raise
# at entry instead of computing over the empty schema-only frame
def _centroid_cos_udf(centroids):
    """cosine(vector, its own cell's centroid) — one Arrow batch pass,
    the keep="far_centroid" ranking key."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    def _cos(v, cell):
        m = np.stack(v.to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True),
                        1e-12)
        c = cn[cell.to_numpy().astype(int)]
        return pd.Series((m * c).sum(axis=1))

    _cos.__annotations__ = {"v": pd.Series, "cell": pd.Series,
                            "return": pd.Series}
    return pandas_udf(_cos, "double")


@local_only
def semantic_dedup(corpus: Table, threshold: float = 0.95,
                   k_cells: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding", kmeans_iters: int = 5,
                   max_cell: int = 5_000, seed: int = 42,
                   centroids=None, max_iter: int = 20,
                   keep: str = "min_id") -> Table:
    """SemDeDup (Abbas et al. 2023): semantic deduplication through
    embedding space — k-means the corpus into cells, compare pairs
    only WITHIN a cell, connect pairs at cosine ≥ ``threshold`` into
    clusters and keep one representative per cluster.  Returns the
    corpus annotated ``(…, cell, cluster_id, keep)`` — filter
    ``keep`` for the deduplicated view.

    The within-cell restriction IS the published approximation (the
    paper reports ≥99% of near-dup mass lands intra-cluster at their
    k); cross-cell duplicates are missed by design, and the exact
    small-corpus oracle is ``canonical_docs`` over
    ``embedding_neardup_pairs(exact=True)`` — pinned EQUAL here at
    ``k_cells=1``.  Survivor policy: ``keep="min_id"`` (default — the
    package's cluster convention, deterministic and join-free to
    re-derive) or ``keep="far_centroid"`` — the PAPER's rule: within
    each cluster keep the member with the LOWEST cosine to its cell
    centroid (they keep the outlier to preserve diversity; ties break
    on the smaller id).  The latter costs one Arrow centroid-cosine
    pass plus a window partitioned by cluster id.

    Plan shape: the fit is the existing bounded ``kmeans_fit`` (pass
    ``centroids=`` to reuse a persisted codebook and skip it);
    assignment is one Arrow pass; pair generation is the ID-ONLY
    equi-self-join on the cell id (vectors ride neither the join nor
    the shuffle — the embedding_neardup topology), vectors re-join
    per side and the cosine is one codegen zip_with/aggregate dot.
    ``max_cell`` blacklists degenerate cells via broadcast anti join
    (size k_cells so typical cells land well under it: a cell of m
    rows costs m²/2 candidate pairs).  Cluster resolution is the
    bounded-round label propagation of ``canonical_docs``."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold}")
    if max_cell < 2:
        raise ValueError(f"max_cell must be >= 2, got {max_cell}")
    if keep not in ("min_id", "far_centroid"):
        raise ValueError(
            f"keep must be 'min_id' or 'far_centroid', got {keep!r}")
    from .cluster import canonical_docs
    from .ivf import ivf_assign, kmeans_fit

    if centroids is None:
        centroids = kmeans_fit(corpus, k=k_cells, iters=kmeans_iters,
                               vec_col=vec_col, id_col=id_col,
                               seed=seed)
    # persist the TAGGED corpus (one Arrow assign pass) rather than a
    # side projection of it: the pair generation, the cosine re-joins,
    # the label-propagation rounds AND the returned plan all read this
    # one cache — previously the returned plan re-derived scan + assign
    # UDF because the projection cache was released at construction
    # time (r16, guide §5; the r15 finding-#9 pattern one layer down).
    # Scope: the result owns the cache; if construction raises first,
    # leaving the owned_cache block drops the only reference.
    # the norm rides IN the cache (not recomputed per read): av/bv below
    # each re-read the corpus, and the aggregate-HOF norm is the
    # expensive projection
    tagged = (ivf_assign(corpus, centroids, vec_col).df
              .withColumn("__semdedup_norm", _norm(F.col(vec_col))))
    with owned_cache(tagged) as owner:
        c = tagged.select(F.col(id_col).alias("vid"),
                          F.col(vec_col).alias("v"),
                          F.col("__semdedup_norm").alias("n"),
                          "cell")
        hot = (c.groupBy("cell")
               .agg(F.count(F.lit(1)).alias("cnt"))
               .filter(F.col("cnt") > max_cell).select("cell"))
        ids = c.select("vid", "cell") \
            .join(F.broadcast(hot), "cell", "left_anti")
        pairs = (ids.alias("l").join(ids.alias("r"), "cell")
                 .filter(F.col("l.vid") < F.col("r.vid"))
                 .select(F.col("l.vid").alias("vec_a"),
                         F.col("r.vid").alias("vec_b")))
        av = c.select(F.col("vid").alias("vec_a"),
                      F.col("v").alias("va"), F.col("n").alias("na"))
        bv = c.select(F.col("vid").alias("vec_b"),
                      F.col("v").alias("vb"), F.col("n").alias("nb"))
        cos = _dot(F.col("va"), F.col("vb")) / \
            (F.col("na") * F.col("nb"))
        dups = (pairs.join(av, "vec_a").join(bv, "vec_b")
                .withColumn("cosine", cos)
                .filter(F.col("cosine") >= threshold)
                .select("vec_a", "vec_b"))
        # canonical_docs' label propagation runs its eager bounded rounds
        # HERE (reading the cache); the returned join keeps reading it.
        # __n is cache-internal — drop it from the annotated result.
        out = canonical_docs(Table(tagged, "semantic_dedup"), dups,
                             id_col=id_col, left="vec_a",
                             right="vec_b", max_iter=max_iter)
        out = Table(out.df.drop("__semdedup_norm"), "semantic_dedup")
        if keep == "min_id":
            res = out
        else:
            # the paper's rule: within each cluster the survivor is the member
            # FARTHEST from its cell centroid (lowest cosine); one window over
            # cluster_id (clusters are pair-bounded and small)
            from pyspark.sql import Window

            ranked = out.df.withColumn(
                "_cc", _centroid_cos_udf(centroids)(F.col(vec_col),
                                                    F.col("cell")))
            w = Window.partitionBy("cluster_id") \
                .orderBy(F.col("_cc").asc(), F.col(id_col).asc())
            ranked = (ranked
                      .withColumn("keep", F.row_number().over(w) == 1)
                      .drop("_cc"))
            res = Table(ranked, "semantic_dedup")
        return owner.transfer(res)


def _assign_schema(docs, k_cells, **_):
    _check_assign(docs, k_cells)
    return T.StructType(list(docs.df.schema.fields)
                        + [T.StructField("cell", T.IntegerType())])


def _check_assign(docs: Table, k_cells: int) -> None:
    if k_cells < 1:
        raise ValueError(f"k_cells must be >= 1, got {k_cells}")
    for taken in ("cell", "__aid"):
        if taken in docs.df.columns:
            raise ValueError(
                f"assign_clusters: docs already has a '{taken}' "
                "column — rename or drop it first (the assignment "
                "join would produce an ambiguous column)")


# a TRAINED codebook applies over the wire (the pq_topk posture): the
# centroids ride as the bounded literal or NAME a registered store; the
# k-means fit itself is eager and seeded-random, so it never serializes
@wire_op("assign_clusters", tables=("docs", "embeddings"),
         stores={"centroids": (centroids_to_wire, centroids_from_wire)},
         kwargs=("doc_id_col", "id_col", "vec_col"),
         schema=_assign_schema)
def assign_clusters(docs: Table, embeddings: Table,
                    k_cells: int = 16, doc_id_col: str = "doc_id",
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    kmeans_iters: int = 5, seed: int = 42,
                    centroids=None) -> Table:
    """Tag documents with their embedding-space k-means cell (r14) —
    the UNSUPERVISED 'source' label for topic-balanced mixing.  When a
    corpus has no source labels (one big crawl), chain the result into
    the existing mixture machinery with the cell as the group key:

        tagged = assign_clusters(docs, embeddings, k_cells=64)
        w = temperature_source_mix(tagged, alpha=0.3,
                                   source_col="cell")
        kept = apply_source_mix(tagged, w, source_col="cell")

    — the cluster-reweighting shape (DoReMi-style domain balancing
    with k-means domains; SemDeDup's cells reused as mixture strata).

    A document with NO embedding row lands in cell ``-1`` (a real
    mixture stratum — silently dropping unembedded docs would skew
    every share downstream; filter ``cell != -1`` to exclude them
    deliberately).  Pass ``centroids=`` (a persisted codebook from
    ``kmeans_fit``/``load_centroids``, or a ``save_centroids`` store
    path) to skip the fit.

    Plan shape: the fit is the bounded ``kmeans_fit``; assignment is
    ONE Arrow pass over the embeddings projected to (id, cell); the
    join back to documents carries id+cell only — vectors ride
    neither the join nor any shuffle.  Over blaze:// pass
    ``centroids=``: the fit is eager and seeded-random, so it does not
    serialize."""
    _check_assign(docs, k_cells)
    from .ivf import ivf_assign, kmeans_fit, load_centroids

    if isinstance(centroids, str):
        centroids = load_centroids(centroids,
                                   spark=docs.df.sparkSession)
    if centroids is None:
        centroids = kmeans_fit(embeddings, k=k_cells,
                               iters=kmeans_iters, vec_col=vec_col,
                               id_col=id_col, seed=seed)
    # persist the skinny (id, cell) relation, scoped to the result:
    # mixture consumers read the tagged frame in TWO plan arms (the
    # weights aggregation and the keep execution), and without the
    # cache each arm re-runs the Arrow assign UDF over the embeddings
    # (plan-measured: 2 ArrowEvalPython nodes in the benched
    # cluster_mix plan).  The cache is two columns per embedding row —
    # bounded the way the at-rest cell index is (r16, guide §5).
    cells = (ivf_assign(embeddings, centroids, vec_col).df
             .select(F.col(id_col).alias("__aid"),
                     F.col("cell").cast("int").alias("cell")))
    with owned_cache(cells) as owner:
        out = (docs.df
               .join(cells, F.col(doc_id_col) == F.col("__aid"), "left")
               .drop("__aid")
               .withColumn("cell",
                           F.coalesce(F.col("cell"), F.lit(-1))))
        return owner.transfer(Table(out, "assign_clusters"))
