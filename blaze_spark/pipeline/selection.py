"""Model-based data-selection operators: hashed-feature linear quality
scoring (the fastText-style classifier stage of C4/CCNet/GPT-3-era
pipelines) and DSIR importance weights (Xie et al. 2023, "Data Selection
for Language Models via Importance Resampling").

The reference engine (blaze/blaze) has no model-based selection surface;
these extend `pipeline/curation.py` the same way curation extends
`pipeline/text.py` — every score is expressible in ANSI SQL so the
DuckDB oracle mirrors it exactly:

- Features are HASHED token buckets (`md5` hex → int, mod ``n_buckets``)
  — the engine-portable analogue of fastText's feature hashing, and the
  exact construction DSIR's paper uses (hashed n-gram counts).  Both
  engines agree byte-for-byte on md5, so bucket identity is portable.
- `quality_classifier` keeps EVERYTHING in 64-bit integers
  (milli-fixed-point weights, LONG sums — order-free, unlike double
  sums), so scores and keep decisions are byte-reproducible.
- `dsir_log_weights`' only floating-point is ln() over exact integer
  counts plus ONE rounded export per doc (the `udaf_geomean` precedent:
  round-4 absorbs last-ulp ln and double-sum-order differences).

Scale notes (100 TB corpus):

- `quality_classifier` with a weights table under ``max_map_literal``
  rows compiles the model into a LITERAL map inside one shuffle-free
  whole-stage-codegen projection — scoring is a pure scan, the same
  shape as `gopher_rules`.  Past that bound it falls back to explode →
  broadcast-hash-join → per-doc re-aggregation: the shuffle carries one
  partial row per (doc × partition) = one row per doc (documents are
  partition-local), never the token-level relation.
- `hashed_bucket_counts` is the fit-side corpus pass: explode +
  map-side-combinable count keyed by ≤ ``n_buckets`` values.  At corpus
  scale you run it ONCE per snapshot and pass the result to
  `dsir_log_weights(raw_counts=..., target_counts=...)` — the scoring
  pass then touches the raw corpus exactly once.
- The bucket/weights relations are bounded by ``n_buckets`` (driver and
  broadcast state is O(n_buckets), enforced ≤ ``_MAX_BUCKETS``), so
  nothing here grows with corpus size.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import owned_cache
from ..core import Table
from ..sources import local_frame
from ..wire import local_only, wire_op
from .curation import _MAX_BUCKETS, _tokens, ngram_array

# saved-model artifact version (TrainedQualityModel.save/load)
_QCLS_FORMAT = "qcls1"


def token_buckets(col: Column, n_buckets: int) -> Column:
    """Hashed feature buckets of a text column: ``array<long>`` with one
    bucket per whitespace token (curation's shared tokenization), bucket
    = first 8 md5 hex digits as an int, mod ``n_buckets``.

    Engine-portable by construction: md5 agrees everywhere, the 8-digit
    slice fits a LONG exactly, and the operand is non-negative so ``%``
    agrees between Spark and DuckDB (`CAST(concat('0x', substr(md5(t),
    1, 8)) AS BIGINT) % n` on the oracle side)."""
    return ngram_buckets(col, n_buckets, n=1)


def ngram_buckets(col: Column, n_buckets: int, n: int = 1) -> Column:
    """Hashed n-gram feature buckets: ``n=1`` hashes tokens, ``n >= 2``
    hashes space-joined token n-grams (curation.ngram_array — docs
    shorter than ``n`` yield an EMPTY feature array, never a bogus
    gram).  Same md5 → first-8-hex → mod scheme as
    :func:`token_buckets`, so DSIR's paper-form unigram+bigram features
    and fastText-style word-n-gram models share one engine-portable
    bucket identity."""
    _validate_features(n_buckets, n)
    return F.transform(
        _feature_array(col, n),
        lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10)
        .cast(T.LongType()) % n_buckets)


def _validate_features(n_buckets: int, n: int) -> None:
    if not 1 <= n_buckets <= _MAX_BUCKETS:
        raise ValueError(
            f"n_buckets must be in [1, {_MAX_BUCKETS}], got {n_buckets}: "
            "the weights/counts relations are broadcast and must stay "
            "bounded")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")


def _feature_array(col: Column, n: int) -> Column:
    """Raw STRING features (tokens, or space-joined n-grams)."""
    return _tokens(col) if n == 1 else ngram_array(col, n)


def _bucket_of(feat: Column, n_buckets: int) -> Column:
    """md5 bucket of one feature string — a plain codegen expression.

    PLACEMENT MATTERS (the PLANS.md r5 interpreted-HOF rule): hashing
    INSIDE a ``transform()`` lambda runs interpreted per array element
    and was measured ~20× slower on the scoring passes; explode the
    raw feature strings first and hash the exploded column with THIS
    expression inside whole-stage codegen.  ``ngram_buckets`` (the
    array form) exists for per-row map-lookup scoring where the array
    shape is inherent (quality_classifier's literal-map path)."""
    return (F.conv(F.substring(F.md5(feat), 1, 8), 16, 10)
            .cast(T.LongType()) % n_buckets)


def _as_predicate(v) -> Column:
    from ..core import ColExpr
    if isinstance(v, ColExpr):
        return v.col
    if isinstance(v, Column):
        return v
    if isinstance(v, str):
        return F.expr(v)
    raise TypeError(
        f"target_filter must be a boolean column expression or SQL "
        f"string, got {type(v).__name__}")


@wire_op("hashed_bucket_counts", tables=("t",),
         kwargs=("text_col", "n_buckets", "n"), exprs=("target_filter",))
def hashed_bucket_counts(t: Table, text_col: str = "text",
                         n_buckets: int = 4096, n: int = 1,
                         target_filter=None) -> DataFrame:
    """Corpus-wide hashed n-gram counts: one (bucket LONG, cnt LONG) row
    per occupied bucket (≤ ``n_buckets`` rows).  The fit-side pass for
    :func:`dsir_log_weights` — run once per corpus snapshot and reuse;
    ``n`` picks the feature order (1 = tokens, 2 = bigrams, ...).

    One scan, one map-side-combinable aggregation on a ≤ ``n_buckets``
    key space; the result is small enough to broadcast or collect.

    ``target_filter`` (r11, VERDICT r10 #3): when the DSIR target is a
    FILTER of the raw corpus (the common case — e.g. "docs from the
    curated sources"), pass the boolean row predicate here and BOTH
    sides fit in ONE tokenization pass: the output gains a
    ``target_cnt`` LONG column (occurrences from rows matching the
    predicate; NULL predicate rows count as non-target, matching
    ``filter`` semantics).  At corpus scale the fit pass is the
    expensive half — this halves it."""
    # explode raw strings, hash post-explode in codegen (_bucket_of)
    from .dedup import _spread

    _validate_features(n_buckets, n)
    c = F.col(text_col)
    if target_filter is None:
        return (_spread(t.df, text_col)
                .select(F.explode(_feature_array(c, n)).alias("feat"))
                .select(_bucket_of(F.col("feat"), n_buckets)
                        .alias("bucket"))
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).cast(T.LongType()).alias("cnt")))
    flag = F.when(_as_predicate(target_filter),
                  F.lit(1)).otherwise(F.lit(0))
    return (_spread(t.df, text_col)
            .select(F.explode(_feature_array(c, n)).alias("feat"),
                    flag.alias("is_t"))
            .select(_bucket_of(F.col("feat"), n_buckets).alias("bucket"),
                    "is_t")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast(T.LongType()).alias("cnt"),
                 F.sum("is_t").cast(T.LongType()).alias("target_cnt")))


def model_weights(spark, vocab: dict, n_buckets: int = 4096,
                  scale: int = 1000) -> DataFrame:
    """Import a trained linear model's vocabulary as a
    :func:`quality_classifier` weights table: ``{feature_string:
    float_weight}`` → bounded (bucket LONG, weight_milli LONG) rows.

    Features hash with the family's engine-portable md5 convention
    (first 8 hex digits → LONG, mod ``n_buckets``) — pass the feature
    strings EXACTLY as the model was trained (the classifier tokenizes
    documents with curation's trim/lower/whitespace split, so a
    fastText/sklearn vocabulary trained on that tokenization lines up;
    word-n-gram features are their space-joined token strings).
    Weights quantize to integer milli-units (``round(w · scale)``) so
    scores stay LONG-exact; hash collisions SUM downstream
    (`_normalized_weights` — the hashing-trick contract).  Pass the
    model's intercept separately as
    ``intercept_milli=round(b · scale)``."""
    import hashlib

    _validate_features(n_buckets, 1)
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    rows = [(int(hashlib.md5(f.encode()).hexdigest()[:8], 16)
             % n_buckets, int(round(float(w) * scale)))
            for f, w in vocab.items()]
    return local_frame(spark, rows, "bucket long, weight_milli long")


def _normalized_weights(weights: DataFrame,
                        bucket_col: str, weight_col: str) -> DataFrame:
    # duplicate buckets SUM (hash collisions in a user-exported model
    # land on the same feature — fastText's hashing trick semantics);
    # normalizing here keeps both execution paths and the oracle on one
    # contract instead of map_from_arrays' last-key-wins surprise
    return (weights
            .groupBy(F.col(bucket_col).cast(T.LongType()).alias("bucket"))
            .agg(F.sum(F.col(weight_col).cast(T.LongType()))
                 .alias("weight_milli")))


def _model_weights(weights, bucket_col: str, weight_col: str,
                   n_buckets: int) -> DataFrame:
    """The (bucket, weight_milli) model the classifier reads:
    normalized, and bounded (ADVICE r10) — buckets outside
    [0, n_buckets) can never match a hashed feature, so they drop
    BEFORE sizing: a frame with junk bucket ids must neither inflate
    the literal/broadcast state nor push a ≤10k-real-weight model onto
    the join path."""
    if isinstance(weights, Table):
        weights = weights.df
    return (_normalized_weights(weights, bucket_col, weight_col)
            .filter((F.col("bucket") >= 0) & (F.col("bucket") < n_buckets)))


def _shipped_weights(df, a) -> DataFrame:
    # over the wire the model ships as read, under the caller's names
    return _model_weights(df, a["bucket_col"], a["weight_col"],
                          a["n_buckets"]).select(
        F.col("bucket").alias(a["bucket_col"]),
        F.col("weight_milli").alias(a["weight_col"]))


# sizing memo for quality_classifier: semanticHash(normalized+bounded
# weights plan) -> collected (bucket, weight_milli) rows.  Each entry
# is ≤ _MAX_BUCKETS rows (~1 MB); 8 distinct models bound the memo.
_WEIGHT_ROWS_CACHE: dict = {}
_WEIGHT_ROWS_CACHE_MAX = 8


def _classifier_schema(t, id_col, n_buckets, n, **_):
    _validate_features(n_buckets, n)
    return T.StructType([t.df.schema[id_col],
                         T.StructField("n_tokens", T.IntegerType()),
                         T.StructField("score_milli", T.LongType()),
                         T.StructField("keep", T.IntegerType())])


@wire_op("quality_classifier", tables=("t",),
         relations={"weights": (_MAX_BUCKETS, _shipped_weights)},
         kwargs=("text_col", "id_col", "n_buckets", "intercept_milli",
                 "threshold_milli", "bucket_col", "weight_col",
                 "max_map_literal", "n"),
         schema=_classifier_schema)
def quality_classifier(t: Table, weights: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       n_buckets: int = 4096,
                       intercept_milli: int = 0,
                       threshold_milli: int = 0,
                       bucket_col: str = "bucket",
                       weight_col: str = "weight_milli",
                       max_map_literal: int = 10_000,
                       n: int = 1) -> DataFrame:
    """Linear quality classifier over hashed token features — the
    model-based document filter (fastText-style) that sits next to the
    rule-based :func:`curation.gopher_rules` in a training-data
    pipeline.  The model is a ``weights`` table of (``bucket``,
    ``weight_milli``) rows — integer MILLI-units, e.g. a trained
    logistic-regression/fastText weight vector quantized with
    ``round(w * 1000)`` at export time.

    Output per doc: ``n_tokens``, ``score_milli`` = intercept +
    Σ_tokens weight(bucket(token)) (LONG, exact — a sum of integers is
    order-free, so the score is byte-reproducible in any engine), and
    ``keep`` = score ≥ ``threshold_milli`` (0/1).  Thresholding the raw
    linear score is equivalent to thresholding the sigmoid (monotone),
    so no float ever enters the decision.

    Duplicate buckets in ``weights`` SUM (feature-hashing collision
    semantics); buckets outside [0, n_buckets) never match any token.
    ``n`` picks the feature order the model was trained on (1 =
    tokens, 2 = word bigrams — fastText's word-n-gram form).

    Plan shapes: ≤ ``max_map_literal`` distinct buckets compiles the
    model into a literal map inside ONE shuffle-free codegen projection
    (scoring a 100 TB corpus is then a pure scan); larger models fall
    back to explode → broadcast-join → per-doc aggregation whose
    shuffle carries one row per document.  Both paths are pinned equal
    in tests.

    Sizing the model costs ONE bounded collect per distinct weights
    plan, memoized by Spark semantic hash (VERDICT r11: a loop scoring
    100 corpora against one model must not launch 100 sizing jobs —
    the batched_topk count-hoist discipline).  The usual semantic-hash
    caveat applies (CachedTable's): a weights PLAN whose underlying
    data mutates between calls re-reads only on a fresh plan."""
    _validate_features(n_buckets, n)
    # past _MAX_BUCKETS real weights the broadcast would be unbounded,
    # so raise (the dsir_log_weights counts-frame discipline)
    wts = _model_weights(weights, bucket_col, weight_col, n_buckets)
    c = F.col(text_col)
    n_tokens = F.size(_tokens(c)).cast(T.IntegerType())
    cache_key = wts.semanticHash()  # driver-side analysis, no job
    rows = _WEIGHT_ROWS_CACHE.get(cache_key)
    if rows is None:
        # ≤ _MAX_BUCKETS+1 (bucket, weight_milli) rows ≈ ~1 MB worst
        # case — the same relation the join path broadcasts anyway
        rows = wts.limit(_MAX_BUCKETS + 1).collect()
        if len(rows) > _MAX_BUCKETS:
            # unreachable while _validate_features caps n_buckets at
            # _MAX_BUCKETS (the filter bounds distinct buckets by
            # n_buckets) — kept as the invariant guard so a future
            # bound change cannot silently reopen the unbounded
            # broadcast
            raise ValueError(
                f"quality_classifier: weights has more than "
                f"{_MAX_BUCKETS} distinct in-range buckets — the model "
                "relation is broadcast and must stay bounded")
        _WEIGHT_ROWS_CACHE[cache_key] = rows
        while len(_WEIGHT_ROWS_CACHE) > _WEIGHT_ROWS_CACHE_MAX:
            _WEIGHT_ROWS_CACHE.pop(next(iter(_WEIGHT_ROWS_CACHE)))
    else:
        # LRU touch: re-insert at the back
        _WEIGHT_ROWS_CACHE[cache_key] = _WEIGHT_ROWS_CACHE.pop(cache_key)
    n_weights = len(rows)
    if n_weights <= max_map_literal:
        if rows:
            m = F.map_from_arrays(
                F.lit([r["bucket"] for r in rows]),
                F.lit([r["weight_milli"] for r in rows]))
            score = F.aggregate(
                ngram_buckets(c, n_buckets, n),
                F.lit(intercept_milli).cast(T.LongType()),
                lambda acc, b: acc + F.coalesce(
                    F.try_element_at(m, b), F.lit(0).cast(T.LongType())))
        else:
            score = F.lit(intercept_milli).cast(T.LongType())
        from .dedup import _spread

        # two-step select: `keep` references the scored column, and
        # CollapseProject keeps the non-cheap HOF aggregate from being
        # inlined (and so evaluated) twice per row
        keyed = _spread(t.df, id_col) \
            .select(F.col(id_col), n_tokens.alias("n_tokens"),
                    score.alias("score_milli"))
        return keyed.select(
            F.col(id_col), F.col("n_tokens"), F.col("score_milli"),
            (F.col("score_milli") >= threshold_milli)
            .cast(T.IntegerType()).alias("keep"))
    # raw strings explode, md5 bucket computed post-explode in codegen
    # (the PLANS.md r5 HOF placement rule — see _bucket_of)
    from .dedup import _spread

    exploded = _spread(t.df, id_col).select(
        F.col(id_col), n_tokens.alias("n_tokens"),
        F.explode_outer(_feature_array(c, n)).alias("feat"))
    exploded = exploded.select(
        F.col(id_col), F.col("n_tokens"),
        _bucket_of(F.col("feat"), n_buckets).alias("bucket"))
    scored = (exploded
              .join(F.broadcast(wts), "bucket", "left")
              .groupBy(id_col, "n_tokens")
              .agg((F.lit(intercept_milli)
                    + F.sum(F.coalesce(F.col("weight_milli"),
                                       F.lit(0).cast(T.LongType()))))
                   .cast(T.LongType()).alias("score_milli")))
    return scored.select(
        F.col(id_col), F.col("n_tokens"), F.col("score_milli"),
        (F.col("score_milli") >= threshold_milli)
        .cast(T.IntegerType()).alias("keep"))


def _round_half_away(x: float) -> int:
    # SQL ROUND semantics (Spark doubles and DuckDB both round halves
    # AWAY from zero) — Python's built-in round() is banker's rounding
    # and WOULD diverge: epoch-1 gradients are exact multiples of the
    # residual quantum, so lr·g/(1000·n) lands on exact .5 values in
    # practice, not just in theory
    return (int(math.floor(x + 0.5)) if x >= 0
            else -int(math.floor(-x + 0.5)))


class TrainedQualityModel:
    """A fitted :func:`train_quality_classifier` model: a bounded
    ``{bucket: weight_milli}`` dict plus ``intercept_milli``, both exact
    LONGs.  ``weights_df(spark)`` exports the (bucket, weight_milli)
    relation :func:`quality_classifier` consumes; ``history`` records
    the per-epoch doc-count and summed |residual| (micro units) so a
    caller can see convergence without extra jobs."""

    __slots__ = ("weights", "intercept_milli", "n_buckets", "n",
                 "history", "_wdf_cache")

    def __init__(self, weights: dict, intercept_milli: int,
                 n_buckets: int, n: int, history: list):
        self.weights = weights
        self.intercept_milli = intercept_milli
        self.n_buckets = n_buckets
        self.n = n
        self.history = history
        self._wdf_cache = None

    def weights_df(self, spark) -> DataFrame:
        # memoized per (model, session): repeated classify() calls
        # reuse ONE plan object, so the weights convert once and
        # quality_classifier's semantic-hash sizing memo hits without
        # re-launching the bounded sizing collect (the VERDICT r11
        # one-job-per-model discipline, applied to the trained-model
        # wrapper)
        cached = getattr(self, "_wdf_cache", None)
        if cached is not None and cached[0] is spark:
            return cached[1]
        rows = sorted((int(b), int(w)) for b, w in self.weights.items())
        df = local_frame(spark, rows, "bucket long, weight_milli long")
        self._wdf_cache = (spark, df)
        return df

    def to_rows(self) -> list:
        """The model as a bounded sorted row list with the intercept at
        pseudo-bucket -1 — the wire/persistence encoding (no real
        bucket is negative, so -1 is unambiguous)."""
        return ([[-1, int(self.intercept_milli)]]
                + sorted([int(b), int(w)]
                         for b, w in self.weights.items()))

    @classmethod
    def from_rows(cls, rows, n_buckets: int, n: int = 1
                  ) -> "TrainedQualityModel":
        """Rebuild from :meth:`to_rows` output (or any (bucket,
        weight_milli) iterable; duplicate buckets SUM — the family's
        hash-collision contract).  ``history`` is empty: convergence
        telemetry does not survive serialization."""
        w: dict = {}
        b0 = 0
        for b, wm in rows:
            b, wm = int(b), int(wm)
            if b == -1:
                b0 += wm
            elif wm or b in w:
                w[b] = w.get(b, 0) + wm
        return cls({b: wm for b, wm in w.items() if wm}, b0,
                   n_buckets, n, [])

    def save(self, spark, path: str) -> None:
        """Persist the model as a parquet artifact (fit once, score
        many — the counts-store discipline applied to a model): the
        bounded (bucket, weight_milli) relation with the intercept at
        pseudo-bucket -1 and the geometry SELF-DESCRIBED at
        pseudo-buckets -2 (n_buckets) and -3 (n), plus a
        ``_QCLS_FORMAT`` stamp so a different artifact version (or a
        counts store pointed here by mistake) fails loudly."""
        rows = (self.to_rows()
                + [[-2, int(self.n_buckets)], [-3, int(self.n)]])
        (local_frame(spark, rows, "bucket long, weight_milli long")
         .repartition(1).write.mode("overwrite").parquet(path))
        from ..streaming.store import QCLS_MODEL, check_format
        check_format(spark, QCLS_MODEL, path, _QCLS_FORMAT,
                     has_existing=False)

    @classmethod
    def load(cls, spark, path: str) -> "TrainedQualityModel":
        """Rebuild a :meth:`save`d model; the artifact is
        self-describing (geometry rides at pseudo-buckets -2/-3), so
        no kwargs to mismatch."""
        from ..streaming.store import QCLS_MODEL, check_format
        check_format(spark, QCLS_MODEL, path, _QCLS_FORMAT,
                     has_existing=True)
        rows = spark.read.parquet(path).collect()
        meta = {int(r["bucket"]): int(r["weight_milli"])
                for r in rows if r["bucket"] in (-2, -3)}
        if set(meta) != {-2, -3}:
            raise ValueError(
                f"{path} is not a saved quality-classifier model — "
                "the geometry rows (pseudo-buckets -2/-3) are missing")
        return cls.from_rows(
            [(r["bucket"], r["weight_milli"]) for r in rows
             if r["bucket"] not in (-2, -3)],
            n_buckets=meta[-2], n=meta[-3])

    def classify(self, t: Table, text_col: str = "text",
                 id_col: str = "doc_id",
                 threshold_milli: int = 0) -> DataFrame:
        """Apply this model with :func:`quality_classifier` (keep =
        P(label=1) >= 0.5 at the default threshold: the raw linear
        score is >= 0 exactly when the sigmoid is >= 0.5)."""
        spark = t.df.sparkSession
        return quality_classifier(
            t, self.weights_df(spark), text_col=text_col, id_col=id_col,
            n_buckets=self.n_buckets, n=self.n,
            intercept_milli=self.intercept_milli,
            threshold_milli=threshold_milli)


def _check_fit(n_buckets: int, n: int, epochs: int, lr: float,
               lr_decay: float, **_) -> str:
    """The trainer's argument checks; returns the wire form's result
    schema (the model rows, intercept at pseudo-bucket -1)."""
    _validate_features(n_buckets, n)
    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    if not lr > 0:
        raise ValueError(f"lr must be > 0, got {lr}")
    if not 0.0 < lr_decay <= 1.0:
        raise ValueError(f"lr_decay must be in (0, 1], got {lr_decay}")
    return "bucket long, weight_milli long"


def _model_frame(m: "TrainedQualityModel", spark) -> DataFrame:
    return local_frame(spark, m.to_rows(), "bucket long, weight_milli long")


def _model_from_frame(pdf, a: dict) -> "TrainedQualityModel":
    return TrainedQualityModel.from_rows(
        zip(pdf["bucket"], pdf["weight_milli"]), a["n_buckets"], a["n"])


# the fit is EAGER (a driver epoch loop), so the remote form is eager
# too: ONE round trip runs the whole loop where the corpus lives (each
# epoch's gradient job stays server-side) and only the fitted
# ≤ n_buckets+1 row model crosses back
@wire_op("train_quality_classifier", tables=("t",), exprs=("label",),
         kwargs=("text_col", "n_buckets", "n", "epochs", "lr",
                 "init_intercept", "lr_decay"),
         schema=_check_fit, eager=(_model_frame, _model_from_frame))
def train_quality_classifier(t: Table, label, text_col: str = "text",
                             n_buckets: int = 4096, n: int = 1,
                             epochs: int = 3, lr: float = 4.0,
                             init_intercept: bool = False,
                             lr_decay: float = 1.0
                             ) -> TrainedQualityModel:
    """Fit the :func:`quality_classifier` model IN-ENGINE: a distributed
    full-batch logistic regression over the family's hashed n-gram
    buckets — the one model in the selection family that previously had
    to arrive pre-trained (CCNet/fastText train theirs on
    wiki-vs-crawl labels; this is the same linear form fit on the same
    hashed features, VERDICT r13 #2).

    ``label`` is the supervision: a boolean row predicate (Column /
    ColExpr / SQL string — e.g. ``d.source.isin([...])`` for
    "curated-source vs rest", the CCNet construction) or the name of a
    0/1 integer column; NULL rows count as label 0 (``filter``
    semantics, matching ``hashed_bucket_counts(target_filter=)``).

    Exactness contract (the family's integer discipline): weights live
    in integer MILLI-units and per-doc scores are LONG sums, so the
    forward pass is byte-exact; the only float per epoch is one
    sigmoid per doc, immediately quantized to an integer MICRO-unit
    residual (``round((p - y) * 1e6)``) BEFORE any aggregation — sums
    of integers are order-free, so gradients, the fitted model, and
    every downstream keep decision are byte-reproducible run-to-run
    and engine-to-engine (round-to-integer absorbs last-ulp exp()
    disagreement, the udaf_geomean/dsir precedent).  Epoch 1 starts
    from the zero model, so p = 0.5 exactly for every doc.

    Update rule per epoch (plain gradient descent on mean logistic
    loss): ``w_milli[b] -= round(lr * g_b / (1000 * n_docs))`` where
    ``g_b`` = Σ_docs residual_micro · x_db is the exact integer
    gradient (micro units) and x_db counts bucket b in doc d; the
    intercept uses the same rule with x = 1 (carried as pseudo-bucket
    -1 so the whole gradient is ONE aggregation).  The default
    ``lr=4.0`` suits milli-scale separable text features; tune per
    corpus as usual.

    Convergence aids (r15, VERDICT r14 #4 — both default OFF so
    existing fits stay byte-identical):

    - ``init_intercept=True`` starts the intercept at the label
      BASE-RATE logit, ``round(1000·ln((pos+½)/(neg+½)))`` (the
      Haldane–Anscombe smoothing keeps it finite on pure labels),
      from one bounded count pre-pass over the same ``feats``
      projection.  On an imbalanced corpus (wiki-vs-crawl: few
      positives) plain GD from the zero model spends most of its
      early epochs just pushing the intercept toward the base rate —
      starting there hands every epoch to the FEATURE weights.
    - ``lr_decay`` < 1 decays the step per epoch (epoch *t* uses
      ``lr·lr_decay**t``): open big to clear the integer-quantization
      floor early, anneal so late epochs stop oscillating around the
      optimum.

    Convergence guidance (measured on the fixture corpora): a
    strongly separable label (disjoint vocabularies) separates in 2-3
    epochs; a WEAK signal (one informative token among dozens, ~10%
    positive class) needs ~100 epochs at lr 1-2; a multi-epoch fit
    caches its features, so it costs one tokenization, not one per
    epoch.  Where
    the aids pay (pinned fixture): on the 10%-positive mixture corpus
    the base-rate start reaches a mean-residual at epoch 10 that the
    zero start needs ~3× the epochs to match — at 100 TB each epoch
    is a corpus scan, so starting calibrated buys real scans.  Where
    they DON'T: on corpora with a dense shared vocabulary the zero
    start is already well-conditioned — the common-token weights
    learn a distributed intercept within 2-3 epochs (measured), so
    ``init_intercept`` mostly relocates where the intercept mass
    lives; and keep@0 separation on a SEPARABLE weak signal is
    rate-limited by the feature-weight race, which neither aid
    changes.  Quantization floor: an update smaller than 0.5 milli
    rounds to ZERO, so an lr far below ~0.5 (or an aggressively
    decayed one) can stall the fit entirely rather than converge
    slowly — prefer more epochs over a smaller step.

    Scale shape (100 TB): each epoch is ONE corpus scan — a shuffle-
    free codegen projection scores every doc against the ≤ n_buckets
    literal map (the quality_classifier literal path), then explode +
    ONE map-side-combinable aggregation on ≤ n_buckets+1 keys; the
    driver loop touches only the bounded (bucket, gradient) relation
    (the tokenizer_train.py split applied to a linear model).  Nothing
    driver-side grows with the corpus.  When the fit reads the
    (y, buckets) projection more than once (``epochs + init_intercept
    > 1``) it is cached across the reads — one tokenization total
    instead of one per epoch."""
    _check_fit(n_buckets, n, epochs, lr, lr_decay)
    c = F.col(text_col)
    y = F.coalesce(_as_predicate(label).cast(T.IntegerType()),
                   F.lit(0)).alias("y")
    from .dedup import _spread

    # NULL text still carries label evidence for the intercept: treat
    # it as an empty feature array, not a dropped row.  The tokenize +
    # bucket projection is the per-row-heavy step: spread a small/
    # single-file scan across the cores first (metadata-gated no-op at
    # scale; guide §2.5)
    feats = _spread(t.df, text_col).select(y, F.coalesce(
        ngram_buckets(c, n_buckets, n),
        F.array().cast(T.ArrayType(T.LongType()))).alias("bks"))
    w: dict = {}
    b0 = 0
    history: list = []
    # each epoch (and the init count pass) reads feats: cache it when
    # it is read more than once
    with owned_cache(feats if epochs + init_intercept > 1 else None):
        if init_intercept:
            import math

            row = feats.agg(F.sum("y").alias("pos"),
                            F.count(F.lit(1)).alias("nn")).collect()[0]
            ntot = int(row["nn"])
            if ntot == 0:
                raise ValueError(
                    "train_quality_classifier: the corpus is empty — "
                    "nothing to fit")
            npos = int(row["pos"] or 0)
            b0 = _round_half_away(1000.0 * math.log(
                (npos + 0.5) / (ntot - npos + 0.5)))
        for _epoch in range(epochs):
            if w:
                m = F.map_from_arrays(F.lit(list(w.keys())),
                                      F.lit(list(w.values())))
                score = F.aggregate(
                    F.col("bks"), F.lit(b0).cast(T.LongType()),
                    lambda acc, b: acc + F.coalesce(
                        F.try_element_at(m, b),
                        F.lit(0).cast(T.LongType())))
            else:
                score = F.lit(b0).cast(T.LongType())
            p = F.lit(1.0) / (F.lit(1.0)
                              + F.exp(-score.cast(T.DoubleType())
                                      / F.lit(1000.0)))
            r = F.round((p - F.col("y")) * 1e6).cast(T.LongType())
            # pseudo-bucket -1 carries the intercept gradient and the
            # doc count, so the epoch is exactly ONE aggregation on a
            # <= n_buckets+1 key space (map-side combinable)
            grad = (feats
                    .select(r.alias("r"),
                            F.explode(F.concat(
                                F.array(F.lit(-1).cast(T.LongType())),
                                F.col("bks"))).alias("bucket"))
                    .groupBy("bucket")
                    .agg(F.sum("r").alias("g"),
                         F.count(F.lit(1)).alias("cnt"),
                         F.sum(F.abs(F.col("r"))).alias("ga")))
            rows = grad.limit(n_buckets + 2).collect()
            g = {row["bucket"]: row["g"] for row in rows}
            n_docs = next((row["cnt"] for row in rows
                           if row["bucket"] == -1), 0)
            if n_docs == 0:
                raise ValueError(
                    "train_quality_classifier: the corpus is empty — "
                    "nothing to fit")
            history.append({
                "n_docs": int(n_docs),
                "abs_residual_micro": int(sum(
                    row["ga"] for row in rows if row["bucket"] == -1))})
            denom = 1000.0 * n_docs
            step = lr * (lr_decay ** _epoch)
            b0 -= _round_half_away(step * g.pop(-1) / denom)
            for b, gb in g.items():
                nw = w.get(b, 0) - _round_half_away(step * gb / denom)
                if nw:
                    w[b] = nw
                else:
                    w.pop(b, None)
    return TrainedQualityModel(w, b0, n_buckets, n, history)


def _counts_frame(df, side: str) -> DataFrame:
    """A (bucket, cnt) counts relation as a DataFrame, shape-checked,
    duplicate buckets SUMMED (ADVICE r10): an unaggregated union of two
    stores' partials is a legitimate counts frame, and last-wins dict
    building would silently drop all but one partial — the same
    additive contract as _normalized_weights and read_bucket_counts."""
    df = df.df if isinstance(df, Table) else df
    types = dict(df.dtypes)
    integral = ("tinyint", "smallint", "int", "bigint")
    if (types.get("bucket") not in integral
            or types.get("cnt") not in integral):
        raise ValueError(
            f"dsir_log_weights: {side} must be a (bucket, cnt) "
            f"integer relation (hashed_bucket_counts output), got "
            f"columns {df.dtypes}")
    return (df.groupBy("bucket")
            .agg(F.sum("cnt").cast(T.LongType()).alias("cnt")))


def _check_dsir(target, n_buckets, smoothing, raw_counts, target_counts,
                n, target_filter) -> None:
    _validate_features(n_buckets, n)
    if smoothing < 1:
        raise ValueError(f"smoothing must be a positive integer, got "
                         f"{smoothing} (zero would send unseen-bucket "
                         "ratios to ±inf)")
    if target_filter is not None:
        # one-pass dual-count fit (r11, VERDICT r10 #3): the target is
        # a FILTER of raw, so one tokenization emits (bucket, cnt,
        # target_cnt) — the two-fit form tokenizes the corpus twice
        if (target is not None or raw_counts is not None
                or target_counts is not None):
            raise ValueError(
                "dsir_log_weights: target_filter= replaces target= / "
                "raw_counts= / target_counts= — pass it alone")
    elif target is None and target_counts is None:
        raise ValueError("dsir_log_weights needs a target corpus: pass "
                         "target=, target_counts= or target_filter=")
    for side, c in (("raw_counts", raw_counts),
                    ("target_counts", target_counts)):
        if c is not None:
            _counts_frame(c, side)


def _dsir_schema(raw, target, id_col, n_buckets, smoothing, raw_counts,
                 target_counts, n, target_filter, **_):
    _check_dsir(target, n_buckets, smoothing, raw_counts, target_counts,
                n, target_filter)
    return T.StructType([raw.df.schema[id_col],
                         T.StructField("n_tokens", T.IntegerType()),
                         T.StructField("logw", T.DoubleType())])


@wire_op("dsir_log_weights", tables=("raw", "target"),
         relations={side: (_MAX_BUCKETS,
                           lambda df, a: _counts_frame(df, "counts"))
                    for side in ("raw_counts", "target_counts")},
         exprs=("target_filter",),
         kwargs=("text_col", "id_col", "n_buckets", "smoothing", "n",
                 "max_map_literal"),
         schema=_dsir_schema)
def dsir_log_weights(raw: Table, target: Table | None = None,
                     text_col: str = "text", id_col: str = "doc_id",
                     n_buckets: int = 4096, smoothing: int = 1,
                     raw_counts: DataFrame | None = None,
                     target_counts: DataFrame | None = None,
                     n: int = 1,
                     max_map_literal: int = 10_000,
                     target_filter=None) -> DataFrame:
    """Per-document DSIR importance log-weights (Xie et al. 2023): how
    much more likely each raw document is under the TARGET corpus'
    hashed n-gram distribution than under the raw corpus' own —
    ``logw`` = Σ_features ln(p_target(bucket)/p_raw(bucket)), the score
    a pipeline resamples on to skew a 100 TB crawl toward a quality
    target (e.g. a curated reference corpus).  ``n`` picks the feature
    order (1 = the paper's hashed unigrams, 2 = bigrams, which see
    token ORDER; run both and sum the logw columns for the paper's
    unigram+bigram form).

    Laplace-``smoothing`` (an integer, default 1) keeps unseen buckets
    finite: p(b) = (cnt(b)+s) / (total + s·n_buckets).  With exact
    integer counts on both sides, a doc scored against identical
    corpora gets logw = 0.0 exactly (every ratio is 1) — the contract
    the tests pin.

    Output per doc: ``n_tokens``, ``logw`` (round-4 export; the only
    floats are ln() over exact integers and one per-doc double sum,
    which round-4 absorbs — the ``udaf_geomean`` oracle precedent).

    ``target_filter`` (r11): when the target corpus is simply a FILTER
    of ``raw`` (the usual case), pass the boolean row predicate and the
    fit runs as ONE dual-count tokenization pass instead of two —
    identical weights, half the fit cost (pytest pins the equality).
    Mutually exclusive with ``target=``/``*_counts=``.

    Pass ``raw_counts``/``target_counts`` (from
    :func:`hashed_bucket_counts`, or any (bucket, cnt) frame) to skip
    the fit passes — at corpus scale you fit once per snapshot.  The
    counts are collected driver-side (BOUNDED: ≤ ``n_buckets`` rows by
    construction), so each corpus is tokenized exactly once for the
    fit and once for the scoring — no hidden re-execution of the fit
    subtree for totals or the broadcast build.  With ≤
    ``max_map_literal`` occupied buckets (the common case) the
    log-ratio relation folds into a literal map and scoring is ONE
    shuffle-free projection (measured ~7× over the explode/join form
    at sf0.1 and sf10); past that it falls back to explode →
    broadcast-join → per-doc aggregation.  Both paths are pinned equal
    in tests."""
    _check_dsir(target, n_buckets, smoothing, raw_counts, target_counts,
                n, target_filter)
    if target_filter is None:
        if raw_counts is None:
            raw_counts = hashed_bucket_counts(raw, text_col, n_buckets,
                                              n)
        if target_counts is None:
            target_counts = hashed_bucket_counts(target, text_col,
                                                 n_buckets, n)
    # the counts relations are BOUNDED (≤ n_buckets rows, enforced):
    # collect them once and build totals + the log-ratio relation
    # driver-side, instead of re-executing the fit subtrees three more
    # times (two scalar total jobs + the broadcast build — at corpus
    # scale each re-execution was a full tokenize pass).  The limit+1
    # cap turns a mis-shaped USER-supplied counts frame (e.g. raw
    # per-token rows instead of (bucket, cnt)) into a loud error
    # instead of an unbounded driver collect
    def _bounded(df, side: str) -> dict:
        # duplicate buckets SUM before the bounded collect
        rows = _counts_frame(df, side).limit(_MAX_BUCKETS + 1).collect()
        if len(rows) > _MAX_BUCKETS:
            raise ValueError(
                f"dsir_log_weights: {side} has more than "
                f"{_MAX_BUCKETS} distinct buckets — counts relations "
                "are bounded by n_buckets by construction; was a raw "
                "token-level frame passed instead of "
                "hashed_bucket_counts output?")
        return {r["bucket"]: r["cnt"] for r in rows}

    if target_filter is not None:
        # engine-built dual relation: ≤ n_buckets rows by construction
        dual = hashed_bucket_counts(raw, text_col, n_buckets, n,
                                    target_filter=target_filter)
        rows = dual.collect()
        rc = {r["bucket"]: r["cnt"] for r in rows}
        # zero-target buckets are equivalent to absent ones (tc.get
        # below defaults 0) — dropping them keeps the union loop tight
        tc = {r["bucket"]: r["target_cnt"] for r in rows
              if r["target_cnt"]}
    else:
        rc = _bounded(raw_counts, "raw_counts")
        tc = _bounded(target_counts, "target_counts")
    r_tot, t_tot = sum(rc.values()), sum(tc.values())
    # ln p_t(b) - ln p_r(b) = [ln(tc+s) - ln(rc+s)] + const, with
    # const = ln(R + s·B) - ln(T + s·B) hoisted out of the bounded
    # bucket relation and applied once per feature (n_feats · const);
    # buckets absent from BOTH maps have lr = ln(s) - ln(s) = 0, which
    # is exactly what the scoring join's missing-bucket coalesce(0.0)
    # assigns, so enumerating only the union of seen buckets is exact
    spark = raw.df.sparkSession
    lr_rows = [(int(b), math.log(tc.get(b, 0) + smoothing)
                - math.log(rc.get(b, 0) + smoothing))
               for b in sorted(set(rc) | set(tc))]
    const = (math.log(r_tot + smoothing * n_buckets)
             - math.log(t_tot + smoothing * n_buckets))
    c = F.col(text_col)
    n_tokens = F.size(_tokens(c)).cast(T.IntegerType())
    n_feats = F.size(_feature_array(c, n)).cast(T.IntegerType())
    # the hoisted const applies once per FEATURE (== per token only at
    # n=1; an n-gram doc carries max(n_tokens - n + 1, 0) features)
    if len(lr_rows) <= max_map_literal:
        # the log-ratio relation folds into a LITERAL map and scoring
        # is ONE shuffle-free projection — measured 6.6-7.7× faster
        # than the explode → broadcast-join → re-agg form at sf0.1 AND
        # sf10 (PLANS.md r10: the 42M-row Generate+HashAggregate costs
        # far more than one interpreted map-lookup fold per doc);
        # missing buckets coalesce to 0.0 == lr of an unseen bucket
        if lr_rows:
            m = F.map_from_arrays(
                F.lit([b for b, _ in lr_rows]),
                F.lit([v for _, v in lr_rows]))
            score = F.aggregate(
                ngram_buckets(c, n_buckets, n), F.lit(0.0),
                lambda acc, b: acc + F.coalesce(
                    F.try_element_at(m, b), F.lit(0.0)))
        else:
            score = F.lit(0.0)
        from .dedup import _spread

        keyed = _spread(raw.df, id_col).select(
            F.col(id_col), n_tokens.alias("n_tokens"),
            n_feats.alias("n_feats"), score.alias("s"))
        # second select so CollapseProject cannot inline (and so
        # re-evaluate) the non-cheap HOF fold into the export
        return keyed.select(
            F.col(id_col), F.col("n_tokens"),
            (F.round(F.col("s") + F.col("n_feats") * F.lit(const), 4)
             + F.lit(0.0)).alias("logw"))
    # > max_map_literal occupied buckets: raw feature STRINGS explode
    # and the md5 bucket is computed on the exploded column in codegen
    # (the PLANS.md r5 HOF placement rule — see _bucket_of)
    from .dedup import _spread

    lr = local_frame(spark, lr_rows, "bucket long, lr double")
    exploded = _spread(raw.df, id_col).select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_feats.alias("n_feats"),
        F.explode_outer(_feature_array(c, n)).alias("feat"))
    exploded = exploded.select(
        F.col(id_col), F.col("n_tokens"), F.col("n_feats"),
        _bucket_of(F.col("feat"), n_buckets).alias("bucket"))
    return (exploded
            .join(F.broadcast(lr), "bucket", "left")
            .groupBy(id_col, "n_tokens", "n_feats")
            .agg((F.round(F.sum(F.coalesce(F.col("lr"), F.lit(0.0)))
                          + F.col("n_feats") * F.lit(const), 4)
                  + F.lit(0.0)).alias("logw"))
            .select(F.col(id_col), F.col("n_tokens"), F.col("logw")))


def _gumbel_key(score_col: str, id_col: str, temperature: float,
                seed: int) -> Column:
    """The Gumbel-top-k ranking key (round-6): score/T + Gumbel noise
    seeded from the engine-portable md5-uniform convention.  ONE
    definition shared by :func:`weighted_sample` and
    :func:`calibrate_key_threshold` so calibration can never drift
    from the sampler."""
    u = ((F.conv(F.substring(
            F.md5(F.concat(
                F.coalesce(F.col(id_col).cast("string"),
                           F.lit("__null__")),
                F.lit(f"-{seed}"))), 1, 8), 16, 10)
          .cast(T.LongType()) + F.lit(1)) / F.lit(float(2 ** 32 + 1)))
    gumbel = -F.log(-F.log(u))
    return F.round(F.col(score_col) / F.lit(float(temperature))
                   + gumbel, 6)


@local_only
def calibrate_key_threshold(t: Table | DataFrame, score_col: str,
                            target_n: int, id_col: str = "doc_id",
                            temperature: float = 1.0, seed: int = 42,
                            max_sample: int = 200_000,
                            n_rows: int | None = None) -> float:
    """Calibrate ``key_threshold`` for :func:`weighted_sample`'s
    unbounded filter form so that E[rows kept] ≈ ``target_n`` — the
    missing step between the bounded top-n mode (guarded by ``max_n``)
    and the 100 TB shuffle-free filter mode (VERDICT r10 #4).

    Method: compute the SAME round-6 ranking key the sampler uses
    (:func:`_gumbel_key` — shared code, so no drift), on a BOUNDED
    deterministic hash-sample of ≤ ~``max_sample`` rows (md5 of
    ``id || '-cal<seed>'`` — a DIFFERENT salt string than the Gumbel
    noise's ``id || '-<seed>'``, so sample membership is independent
    of the ranking key), then return the k-th largest sampled key
    with ``k = round(target_n · m / N)``.  Rows with key ≥ the
    returned threshold then number ≈ ``target_n`` (exact when the
    sample is the full corpus, binomial-noise-accurate otherwise —
    tighten with a larger ``max_sample``).

    Driver state is ≤ ~``max_sample`` floats; the corpus is read once
    (pass ``n_rows`` to skip the sizing count and make it once
    total).  Returns ``-inf`` when ``target_n`` ≥ the corpus size
    (the filter then keeps everything)."""
    if target_n < 1:
        raise ValueError(f"target_n must be >= 1, got {target_n}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    if max_sample < 1:
        raise ValueError(f"max_sample must be >= 1, got {max_sample}")
    df = t.df if isinstance(t, Table) else t
    n = n_rows if n_rows is not None else df.count()
    if n == 0:
        raise ValueError("calibrate_key_threshold: corpus is empty")
    if target_n >= n:
        return float("-inf")
    frac = min(1.0, max_sample / n)
    sdf = df
    if frac < 1.0:
        # deterministic decorrelated membership: first 8 md5 hex of
        # id||'-cal<seed>' as a uniform in [0, 1)
        u_cal = (F.conv(F.substring(
            F.md5(F.concat(
                F.coalesce(F.col(id_col).cast("string"),
                           F.lit("__null__")),
                F.lit(f"-cal{seed}"))), 1, 8), 16, 10)
            .cast(T.LongType()) / F.lit(float(2 ** 32)))
        sdf = df.filter(u_cal < F.lit(frac))
    keys = [r["k"] for r in
            sdf.select(_gumbel_key(score_col, id_col, temperature,
                                   seed).alias("k"))
            .filter(F.col("k").isNotNull()).collect()]
    m = len(keys)
    if m == 0:
        raise ValueError(
            "calibrate_key_threshold: the calibration sample is empty "
            "— raise max_sample (or check id_col/score_col for NULLs)")
    k = min(m, max(1, round(target_n * m / n)))
    keys.sort(reverse=True)
    return float(keys[k - 1])


@local_only
def calibrate_score_threshold(scored: Table | DataFrame,
                              keep_frac: float | None = None,
                              target_n: int | None = None,
                              score_col: str = "score_milli",
                              id_col: str = "doc_id",
                              max_sample: int = 200_000,
                              seed: int = 42,
                              n_rows: int | None = None) -> int:
    """Pick ``threshold_milli`` for :func:`quality_classifier` /
    :meth:`TrainedQualityModel.classify` so that ``keep`` retains ≈
    ``keep_frac`` of the corpus (or ``target_n`` documents) — the
    CCNet "keep the top X% by model quality" move, calibrated the
    same way :func:`calibrate_key_threshold` calibrates the sampler:
    the k-th largest score on a BOUNDED deterministic md5
    hash-sample (≤ ~``max_sample`` rows; membership salt
    ``-cal<seed>`` is independent of everything the family hashes).
    Exact when the sample covers the corpus, binomial-noise-accurate
    otherwise.  Scores are integers and tie: ``score >= threshold``
    keeps AT LEAST the target (every tied doc survives — retention
    never silently undershoots on a spiky score distribution).
    Driver state ≤ ~``max_sample`` longs; one corpus read (plus the
    sizing count unless ``n_rows`` is passed)."""
    if (keep_frac is None) == (target_n is None):
        raise ValueError(
            "calibrate_score_threshold: pass exactly one of "
            "keep_frac= or target_n=")
    if keep_frac is not None and not 0.0 < keep_frac <= 1.0:
        raise ValueError(
            f"keep_frac must be in (0, 1], got {keep_frac}")
    if target_n is not None and target_n < 1:
        raise ValueError(f"target_n must be >= 1, got {target_n}")
    if max_sample < 1:
        raise ValueError(f"max_sample must be >= 1, got {max_sample}")
    df = scored.df if isinstance(scored, Table) else scored
    n = n_rows if n_rows is not None else df.count()
    if n == 0:
        raise ValueError("calibrate_score_threshold: corpus is empty")
    want = target_n if target_n is not None \
        else max(1, _round_half_away(keep_frac * n))
    frac = min(1.0, max_sample / n)
    sdf = df
    if frac < 1.0:
        u_cal = (F.conv(F.substring(
            F.md5(F.concat(
                F.coalesce(F.col(id_col).cast("string"),
                           F.lit("__null__")),
                F.lit(f"-cal{seed}"))), 1, 8), 16, 10)
            .cast(T.LongType()) / F.lit(float(2 ** 32)))
        sdf = df.filter(u_cal < F.lit(frac))
    scores = [r["s"] for r in
              sdf.select(F.col(score_col).cast(T.LongType())
                         .alias("s"))
              .filter(F.col("s").isNotNull()).collect()]
    m = len(scores)
    if m == 0:
        raise ValueError(
            "calibrate_score_threshold: the calibration sample is "
            "empty — raise max_sample (or check score_col for NULLs)")
    k = min(m, max(1, _round_half_away(want * m / n)))
    scores.sort(reverse=True)
    return int(scores[k - 1])


@wire_op("weighted_sample", tables=("t",),
         kwargs=("score_col", "n", "key_threshold", "id_col",
                 "temperature", "seed", "max_n"))
def weighted_sample(t: Table | DataFrame, score_col: str,
                    n: int | None = None,
                    key_threshold: float | None = None,
                    id_col: str = "doc_id", temperature: float = 1.0,
                    seed: int = 42, max_n: int = 1_000_000) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    resample step that turns :func:`dsir_log_weights` scores into a
    training subset (DSIR's importance resampling), and a general
    "keep n docs ∝ exp(score/T)" operator.

    Uses the Gumbel-top-k construction: taking the ``n`` largest
    ``score/T + Gumbel(u)`` keys IS sampling without replacement with
    probability proportional to exp(score/T) (Efraimidis-Spirakis /
    Gumbel-max).  The Gumbel noise is seeded from the repo's
    engine-portable md5 convention (`Table.hash_sample`): ``u`` = (int
    of the first 8 md5 hex digits of ``id || '-' || seed`` + 1) /
    (2^32 + 1) ∈ (0, 1), so the SAME rows are selected across
    retries, re-runs, and engines — the auditable-build requirement —
    and the DuckDB oracle value-checks exactly which documents
    survive.  Keys are rounded to 6 decimals before comparison so the
    order (and hence membership) never hinges on a last-ulp ln()
    disagreement between engines; ties break on ``id_col``.

    Two modes (exactly one of ``n`` / ``key_threshold``):

    - ``n=``: the n largest keys via orderBy + limit — Spark lowers
      this to TakeOrderedAndProject (per-partition top-n, bounded
      merge), but the merge task materializes n rows, so ``n`` is
      guarded by ``max_n`` (RAISES past it — the ``max_queries``
      discipline: degrade loudly, not silently).
    - ``key_threshold=``: keep every row with key ≥ threshold — a pure
      shuffle-free projection+filter with NO size bound: the 100 TB
      form (Poisson-style: membership independent per row, E[kept]
      set by the threshold; :func:`calibrate_key_threshold` computes
      one with E[kept] ≈ a target count from a bounded hash-sample).

    Output: the input columns plus ``sample_key`` (the rounded
    ranking key, exported so a kept set is auditable)."""
    if (n is None) == (key_threshold is None):
        raise ValueError("pass exactly one of n= (bounded top-n) or "
                         "key_threshold= (unbounded filter form)")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    df = t.df if isinstance(t, Table) else t
    key = _gumbel_key(score_col, id_col, temperature, seed)
    keyed = df.withColumn("sample_key", key + F.lit(0.0))
    if n is not None:
        if not 1 <= n <= max_n:
            raise ValueError(
                f"n must be in [1, {max_n}]: the top-n merge "
                "materializes n rows in one task — for larger samples "
                "use key_threshold= (unbounded filter form, calibrate "
                "the threshold on a bounded exact-n run)")
        return keyed.orderBy(F.col("sample_key").desc(),
                             F.col(id_col)).limit(n)
    return keyed.filter(F.col("sample_key") >= float(key_threshold))
