"""Hashed n-gram language-model scoring — CCNet-style perplexity
filtering for training-data pipelines (Wenzek et al. 2020: score every
crawled document under an LM fit on a trusted reference corpus, keep
the low-perplexity band).

The reference has no LM scorer; this extends the model-based selection
family (``pipeline/selection.py``) with the third classic model-based
filter: rule battery (curation.gopher_rules) → linear classifier
(selection.quality_classifier) → LM perplexity (here).  It shares the
family's engine-portable feature identity (curation's trim/lower/
whitespace tokens, space-joined n-grams, md5 first-8-hex → LONG mod
n_buckets buckets) so fits and scores line up bucket-for-bucket with
DuckDB oracles and with the selection family's counts stores.

Model: a bucketized add-α n-gram LM.  For an n-gram g with context c
(its first n-1 tokens; the empty string when n == 1),

    ln P(g | c) = ln(cnt[bucket(g)] + α) − ln(ctx_cnt[bucket(c)] + α·B)

where ``cnt`` counts n-gram occurrences, ``ctx_cnt`` counts
context-as-context occurrences (the number of n-grams whose context is
c — the exact conditional denominator, NOT the raw (n−1)-gram count,
which would also count each document's final (n−1)-gram that never
precedes a token), and B = ``n_buckets`` is the bucketized vocabulary
size.  Both relations are exact integer counts bounded by n_buckets;
the only floats are ln() over those integers and the per-doc round-4
exports (the dsir_log_weights / udaf_geomean oracle precedent).

Plan shapes — measured, and DIFFERENT from DSIR's (PLANS.md r11):

- ``ngram_lm_fit`` is ONE tokenization pass: the n-gram START INDEX
  explodes (not the gram string), and gram/context strings slice out
  of the carried token array post-explode in whole-stage codegen —
  n-gram construction, the context strip, and both md5 buckets all
  stay JVM-side (the PLANS.md r5 HOF placement rule, applied to the
  gram builder itself).  Rows double pre-shuffle into (kind, bucket)
  pairs and aggregate on a ≤ 2·n_buckets key space with map-side
  combine.  Run once per reference snapshot and reuse (``counts=``).
- ``ngram_lm_logprob`` scoring defaults to the SAME positioned-index
  explode → broadcast-join of two bounded ln() relations → per-doc
  re-aggregation.  DSIR's literal-map-fold verdict does NOT carry
  over: an LM gram evaluates concat_ws(slice(...)) + two md5 families
  per element INTERPRETED inside the fold lambda, so the codegen
  explode wins (2.05 vs 2.48 s at sf0.1) — and, decisively, the fold
  form is NOT safe to filter over (next bullet), so it was removed.
- ``perplexity_filter`` applies the band ABOVE the scoring aggregation,
  where Catalyst cannot push the predicate through the projection by
  substitution.  On the fold form that substitution re-evaluated the
  ENTIRE scoring expression (map literal included) once per band
  clause inside an interpreted Filter: 28.3 → 2.1 s at sf0.1 from
  this restructure + the positioned-index builders (PLANS.md r11).
- No driver state is unbounded: fits collect ≤ 2·n_buckets rows and
  raise loudly past ``_MAX_BUCKETS`` (mis-shaped user counts frames
  fail, never silently spill).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import carry, owned_cache
from ..core import Table
from ..sources import local_frame
from ..wire import wire_op
from .curation import _tokens
from .selection import _MAX_BUCKETS, _bucket_of, _validate_features


def _gram_index(tk, n: int):
    """1-based n-gram start positions of a token-array column: an empty
    array (never a backwards sequence) for documents shorter than n."""
    return F.when(
        F.size(tk) >= n,
        F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1))).otherwise(
        F.array().cast(T.ArrayType(T.IntegerType())))


def _gram_at(tk, i, n: int):
    """The n-gram starting at position ``i`` — identical string identity
    to curation.ngram_array (space-joined token slice), but built from a
    MATERIALIZED token array so explode callers get it in codegen."""
    return F.concat_ws(" ", F.slice(tk, i, n))


def _ctx_at(tk, i, n: int):
    """Its context: the (n−1)-token prefix at the same position; the
    empty string when n == 1 (every unigram shares one context)."""
    if n == 1:
        return F.lit("")
    return F.concat_ws(" ", F.slice(tk, i, n - 1))


def _positioned(df: DataFrame, text_col: str, n: int,
                *keep: str, tokenizer=None) -> DataFrame:
    """One row per n-gram start position: ``(*keep, n_grams, tk, i)``
    with the token array carried so gram/context strings slice out in
    whole-stage codegen post-explode.  ``explode_outer``: documents
    shorter than ``n`` keep one row with ``i`` NULL (their evidence-free
    marker) so no re-join is needed to preserve them.  ``tokenizer=``
    (r13) swaps the whitespace token array for the tokenizer's pieces
    — the n-grams are then over TRUE tokens (note the default path
    lowercases via ``_tokens``; a tokenizer's casing is its own
    ``lowercase=`` knob)."""
    from .dedup import _spread

    tk = (_tokens(F.col(text_col)) if tokenizer is None
          else tokenizer.pieces(F.col(text_col)))
    # tokenize + positioned explode is the family's per-row-heavy step:
    # spread a small/single-file scan across the cores first (metadata-
    # gated no-op at scale; guide §2.5 input-skew fix).  Key on the
    # first carried column (the id in every scoring call) or the text
    # itself for id-less fit passes — both deterministic.
    base = _spread(df, keep[0] if keep else text_col) \
        .select(*keep, tk.alias("tk"))
    n_grams = F.greatest(F.size(F.col("tk")) - F.lit(n - 1),
                         F.lit(0)).cast(T.IntegerType())
    return base.select(*keep, n_grams.alias("n_grams"), F.col("tk"),
                       F.explode_outer(_gram_index(F.col("tk"), n))
                       .alias("i"))


def _uni_at(tk, i, n: int):
    """The PREDICTED token of the n-gram at position ``i`` — its last
    token, the thing the backoff distribution is over."""
    return F.element_at(tk, i + F.lit(n - 1))


# stupid-backoff orders beyond this are pointless (Brants et al. use
# n ≤ 5) and each order adds 2·n_buckets rows to the bounded fit
_MAX_BACKOFF_ORDER = 8

# the scorers' four exports after the id column
_LM_SCHEMA = ("n_grams", T.IntegerType()), ("logp", T.DoubleType()), \
    ("avg_logp", T.DoubleType()), ("ppl", T.DoubleType())

# the optional fit arguments every scorer passes through
_LM_KWARGS = ("text_col", "id_col", "n_buckets", "n", "smoothing",
              "backoff", "tokenizer", "interpolate", "kneser_ney")


@wire_op("ngram_lm_fit", tables=("t",),
         kwargs=("text_col", "n_buckets", "n", "unigrams", "tokenizer",
                 "continuations"))
def ngram_lm_fit(t: Table, text_col: str = "text",
                 n_buckets: int = 4096, n: int = 2,
                 unigrams: bool = False, tokenizer=None,
                 continuations: bool = False) -> DataFrame:
    """Fit the bucketized n-gram LM in ONE tokenization pass: a
    ``(kind STRING, bucket LONG, cnt LONG)`` relation with ≤ n_buckets
    rows per kind — kind ``'gram'`` counts n-gram buckets, ``'ctx'``
    counts context-as-context buckets (see the module docstring for why
    that is the exact conditional denominator).

    ``unigrams=True`` (requires ``2 <= n <= _MAX_BACKOFF_ORDER``)
    additionally emits the lower-order relations stupid-backoff
    scoring recurses through (``backoff=`` in
    :func:`ngram_lm_logprob`):

    - kind ``'uni'``: counts of each gram's PREDICTED (last) token's
      bucket.  Σ uni-cnt equals Σ gram-cnt exactly (each gram
      contributes its final token), so the backoff normalizer needs
      no extra pass;
    - for ``n >= 3`` (r13, VERDICT r12 #2 — multi-order recursion),
      kinds ``'gram{k}'``/``'ctx{k}'`` for each intermediate order
      ``k`` in ``2..n-1``: the bucket of the k-token SUFFIX of each
      n-gram (``gram{k}``) and of that suffix's (k−1)-token context
      (``ctx{k}``).  Counting suffixes AT n-gram positions (rather
      than re-indexing k-grams from scratch) keeps the fit one pass
      and makes each order's MLE a proper conditional over the same
      event set: Σ gram{k}-cnt == Σ gram-cnt.

    A ``unigrams=True`` fit remains a valid add-α counts frame (the
    extra kinds are ignored there), and an ``n=2`` fit emits exactly
    the r12 three kinds — byte-identical.

    ``continuations=True`` (r13 second half — Kneser–Ney) additionally
    emits the TYPE-count relations interpolated KN scoring needs
    (``kneser_ney=`` in :func:`ngram_lm_logprob`), counted over the
    SAME suffix-at-n-gram-position event set:

    - ``tcont{k}`` (k in 1..n−1): N1+(·u) — distinct (k+1)-suffix
      types per k-suffix bucket u (the continuation counts; tcont1 is
      Kneser–Ney's unigram continuation distribution);
    - ``tden{k}`` (k in 2..n−1): N1+(·c·) — distinct (k+1)-suffix
      types per k-suffix-CONTEXT bucket (the middle-order
      denominators);
    - ``tfol{k}`` (k in 2..n): N1+(c·) — distinct k-suffix types per
      their context bucket (each order's backoff-weight numerator;
      ``tfol{n}`` keys the top order's raw-count denominator space).

    Type counts are DISTINCT counts and therefore NOT additive across
    partial fits: a union of two snapshots' continuation relations is
    NOT a valid KN fit (unlike every event-count kind, which sums).
    Fit KN counts per corpus snapshot; the incremental LM store
    deliberately has no ``continuations`` knob for this reason.  The
    type rows FUSE into the same single tokenization scan as the
    event rows (event rows carry a NULL ``sub`` and sum; type rows
    carry the (k+1)-suffix identity and distinct-count through a
    two-stage aggregation), so a continuations fit still reads the
    corpus exactly once.

    One scan; gram construction, context strips and the md5 buckets
    run post-explode in codegen; the (kind, bucket) row fan-out
    (2 kinds add-α, 2n−1 kinds full backoff) happens pre-shuffle and
    aggregates with map-side combine.  The result is small enough to
    collect or broadcast; persist it and rescore any number of corpora
    against one reference snapshot (``counts=``)."""
    _validate_features(n_buckets, n)
    if unigrams and n < 2:
        raise ValueError(
            "ngram_lm_fit: unigrams=True requires n >= 2 — a unigram "
            "LM has no lower-order relation to back off to")
    if unigrams and n > _MAX_BACKOFF_ORDER:
        raise ValueError(
            f"ngram_lm_fit: unigrams=True bounds n at "
            f"{_MAX_BACKOFF_ORDER} (each backoff order adds "
            f"2·n_buckets rows to the bounded fit), got n={n}")
    if continuations and not 2 <= n <= _MAX_BACKOFF_ORDER:
        raise ValueError(
            f"ngram_lm_fit: continuations=True requires 2 <= n <= "
            f"{_MAX_BACKOFF_ORDER} (Kneser–Ney needs a lower order "
            f"to interpolate with), got n={n}")
    ex = _positioned(t.df, text_col, n,
                     tokenizer=tokenizer).filter(F.col("i").isNotNull())
    kinds = [
        F.struct(F.lit("gram").alias("kind"),
                 _bucket_of(_gram_at(F.col("tk"), F.col("i"), n),
                            n_buckets).alias("bucket")),
        F.struct(F.lit("ctx").alias("kind"),
                 _bucket_of(_ctx_at(F.col("tk"), F.col("i"), n),
                            n_buckets).alias("bucket")),
    ]
    if unigrams:
        for k in range(n - 1, 1, -1):
            # order-k suffix of the n-gram starts at position i+(n−k)
            off = F.col("i") + F.lit(n - k)
            kinds.append(F.struct(
                F.lit(f"gram{k}").alias("kind"),
                _bucket_of(_gram_at(F.col("tk"), off, k),
                           n_buckets).alias("bucket")))
            kinds.append(F.struct(
                F.lit(f"ctx{k}").alias("kind"),
                _bucket_of(_ctx_at(F.col("tk"), off, k),
                           n_buckets).alias("bucket")))
        kinds.append(
            F.struct(F.lit("uni").alias("kind"),
                     _bucket_of(_uni_at(F.col("tk"), F.col("i"), n),
                                n_buckets).alias("bucket")))
    if not continuations:
        pairs = ex.select(F.explode(F.array(*kinds)).alias("kb"))
        return (pairs.select("kb.kind", "kb.bucket")
                .groupBy("kind", "bucket")
                .agg(F.count(F.lit(1)).cast(T.LongType()).alias("cnt")))
    # Kneser–Ney type counts, fused into the SAME tokenization scan:
    # event rows ride with sub=NULL (their multiplicity sums), type
    # rows carry the (k+1)-suffix TYPE identity in sub (their
    # distinct set is what gets counted).  Stage 1 collapses
    # duplicates per (kind, bucket, sub) — map-side combinable, and
    # for type rows it IS the distinct — stage 2 folds to the final
    # (kind, bucket, cnt): Σ multiplicity for event kinds, row count
    # for type kinds.  One corpus scan instead of two; both shuffles
    # are on combined/bounded key spaces.
    tk, i = F.col("tk"), F.col("i")
    null_sub = F.lit(None).cast(T.LongType())
    trip = [F.struct(kb["kind"].alias("kind"),
                     kb["bucket"].alias("bucket"),
                     null_sub.alias("sub")) for kb in kinds]

    def _type_row(kind, lo, hi):
        trip.append(F.struct(F.lit(kind).alias("kind"),
                             lo.alias("bucket"), hi.alias("sub")))

    for k in range(1, n):
        # the k-suffix of the n-gram at i starts at i+(n−k); its
        # one-longer (k+1)-suffix — the TYPE identity whose distinct
        # set all three relations count — starts one token earlier
        off_k = i + F.lit(n - k)
        off_k1 = i + F.lit(n - k - 1)
        hi = _bucket_of(_gram_at(tk, off_k1, k + 1), n_buckets)
        _type_row(f"tcont{k}",
                  _bucket_of(_gram_at(tk, off_k, k), n_buckets), hi)
        if k >= 2:
            loc = _bucket_of(_ctx_at(tk, off_k, k), n_buckets)
            _type_row(f"tden{k}", loc, hi)
            _type_row(f"tfol{k}", loc,
                      _bucket_of(_gram_at(tk, off_k, k), n_buckets))
    _type_row(f"tfol{n}", _bucket_of(_ctx_at(tk, i, n), n_buckets),
              _bucket_of(_gram_at(tk, i, n), n_buckets))
    stage1 = (ex.select(F.explode(F.array(*trip)).alias("kb"))
              .select("kb.kind", "kb.bucket", "kb.sub")
              .groupBy("kind", "bucket", "sub")
              .agg(F.count(F.lit(1)).alias("c1")))
    return (stage1.groupBy("kind", "bucket")
            .agg(F.sum(F.when(F.col("sub").isNull(),
                              F.col("c1"))).alias("ec"),
                 F.count(F.when(F.col("sub").isNotNull(),
                                F.lit(1))).alias("tc"))
            .select("kind", "bucket",
                    F.coalesce(F.col("ec"), F.col("tc"))
                    .cast(T.LongType()).alias("cnt")))


def _score_frame(df: DataFrame, text_col: str, id_col: str,
                 n_buckets: int, n: int, ladder, with_ub: bool,
                 tokenizer) -> DataFrame:
    """The scoring-position frame both explode-path scorers consume:
    one row per n-gram start with every order's suffix/context md5
    bucket sliced out in codegen — ``(id, n_grams, ev, gb, cb[,
    gb{k}, cb{k}…][, ub])``.  ``ladder`` lists the intermediate
    orders (n−1..2) whose bucket columns ride along (backoff/interp/
    KN); ``with_ub`` adds the predicted-token bucket."""
    ex = _positioned(df, text_col, n, id_col, tokenizer=tokenizer)
    tk, i = F.col("tk"), F.col("i")
    cols = [
        F.col(id_col), F.col("n_grams"),
        # i NULL == the document's single evidence-free marker row
        i.isNotNull().alias("ev"),
        _bucket_of(_gram_at(tk, i, n), n_buckets).alias("gb"),
        _bucket_of(_ctx_at(tk, i, n), n_buckets).alias("cb")]
    for k in ladder:
        off = i + F.lit(n - k)
        cols.append(_bucket_of(_gram_at(tk, off, k),
                               n_buckets).alias(f"gb{k}"))
        cols.append(_bucket_of(_ctx_at(tk, off, k),
                               n_buckets).alias(f"cb{k}"))
    if with_ub:
        cols.append(_bucket_of(_uni_at(tk, i, n),
                               n_buckets).alias("ub"))
    return ex.select(*cols)


def _suffix_bucket_col(j: int, n: int):
    """The already-computed bucket column of the order-``j`` suffix in
    a scoring frame: the full gram at j == n, the predicted-token
    bucket at j == 1, the intermediate ladder column otherwise."""
    if j == n:
        return F.col("gb")
    if j == 1:
        return F.col("ub")
    return F.col(f"gb{j}")


def _self_fit_counts(ex: DataFrame, n: int, unigrams: bool,
                     continuations: bool) -> DataFrame:
    """Derive the ``ngram_lm_fit`` relation FROM the scoring-position
    frame (r15, guide §2.4 — remove a whole corpus pass): when the
    model fits on the corpus it scores, the fit's every (kind, bucket)
    row is a re-hash of a bucket the scoring frame already carries, so
    a second tokenize+md5 scan computes nothing new.  This reads the
    persisted frame's bucket columns instead; the expressions are the
    identical ``_bucket_of`` slices, so every count — event kinds AND
    the Kneser–Ney distinct-type kinds — matches the two-scan fit
    exactly and the resolved model is byte-identical."""
    ev = ex.filter(F.col("ev"))
    kinds = [
        F.struct(F.lit("gram").alias("kind"),
                 F.col("gb").alias("bucket")),
        F.struct(F.lit("ctx").alias("kind"),
                 F.col("cb").alias("bucket")),
    ]
    if unigrams:
        for k in range(n - 1, 1, -1):
            kinds.append(F.struct(F.lit(f"gram{k}").alias("kind"),
                                  F.col(f"gb{k}").alias("bucket")))
            kinds.append(F.struct(F.lit(f"ctx{k}").alias("kind"),
                                  F.col(f"cb{k}").alias("bucket")))
        kinds.append(F.struct(F.lit("uni").alias("kind"),
                              F.col("ub").alias("bucket")))
    if not continuations:
        pairs = ev.select(F.explode(F.array(*kinds)).alias("kb"))
        return (pairs.select("kb.kind", "kb.bucket")
                .groupBy("kind", "bucket")
                .agg(F.count(F.lit(1)).cast(T.LongType()).alias("cnt")))
    # Kneser–Ney type kinds: the k-suffix / (k+1)-suffix TYPE identity
    # pairs are all bucket columns the frame already carries (the
    # ngram_lm_fit fusion, re-read instead of re-hashed)
    null_sub = F.lit(None).cast(T.LongType())
    trip = [F.struct(kb["kind"].alias("kind"),
                     kb["bucket"].alias("bucket"),
                     null_sub.alias("sub")) for kb in kinds]

    def _type_row(kind, lo, hi):
        trip.append(F.struct(F.lit(kind).alias("kind"),
                             lo.alias("bucket"), hi.alias("sub")))

    for k in range(1, n):
        hi = _suffix_bucket_col(k + 1, n)
        _type_row(f"tcont{k}", _suffix_bucket_col(k, n), hi)
        if k >= 2:
            loc = F.col(f"cb{k}")
            _type_row(f"tden{k}", loc, hi)
            _type_row(f"tfol{k}", loc, _suffix_bucket_col(k, n))
    _type_row(f"tfol{n}", F.col("cb"), F.col("gb"))
    stage1 = (ev.select(F.explode(F.array(*trip)).alias("kb"))
              .select("kb.kind", "kb.bucket", "kb.sub")
              .groupBy("kind", "bucket", "sub")
              .agg(F.count(F.lit(1)).alias("c1")))
    return (stage1.groupBy("kind", "bucket")
            .agg(F.sum(F.when(F.col("sub").isNull(),
                              F.col("c1"))).alias("ec"),
                 F.count(F.when(F.col("sub").isNotNull(),
                                F.lit(1))).alias("tc"))
            .select("kind", "bucket",
                    F.coalesce(F.col("ec"), F.col("tc"))
                    .cast(T.LongType()).alias("cnt")))


import re as _re

# 'gram'/'ctx' (order n), 'uni', an intermediate backoff order
# 'gram{k}'/'ctx{k}' with 2 <= k < n (multi-order fits, r13), or a
# Kneser–Ney TYPE-count kind 'tcont{k}'/'tden{k}'/'tfol{k}'
# (continuations fits, r13 second half)
_KIND_RE = _re.compile(
    r"^(?:gram|ctx)(?:[2-9])?$|^uni$|^t(?:cont|den|fol)[1-8]$")
# events (2n−1) + KN types (3n−4) at n = _MAX_BACKOFF_ORDER
_MAX_LM_KINDS = (2 * _MAX_BACKOFF_ORDER - 1) + \
    (3 * _MAX_BACKOFF_ORDER - 4)


def _lm_counts_frame(counts, fn_name: str) -> DataFrame:
    """A fit relation as a DataFrame, shape-checked, duplicate
    (kind, bucket) rows SUMMED (a union of two snapshots' partials is a
    legitimate counts frame; the selection family's additive
    contract)."""
    counts = counts.df if isinstance(counts, Table) else counts
    types = dict(counts.dtypes)
    integral = ("tinyint", "smallint", "int", "bigint")
    if (types.get("kind") != "string"
            or types.get("bucket") not in integral
            or types.get("cnt") not in integral):
        raise ValueError(
            f"{fn_name}: counts must be a (kind STRING, bucket, "
            f"cnt) integer relation (ngram_lm_fit output), got columns "
            f"{counts.dtypes}")
    return (counts.groupBy("kind", "bucket")
            .agg(F.sum("cnt").cast(T.LongType()).alias("cnt")))


# the scorers' counts relation: over the wire a local fit ships summed,
# so the bound counts distinct (kind, bucket) rows
_COUNTS_RELATION = {"counts": (_MAX_LM_KINDS * _MAX_BUCKETS,
                               lambda df, a: _lm_counts_frame(df,
                                                              "counts"))}


def _bounded_lm_counts(counts,
                       fn_name: str = "ngram_lm_logprob"
                       ) -> dict[str, dict]:
    """Collect a fit relation driver-side, validated, summed
    (:func:`_lm_counts_frame`) and bounded.  ``fn_name`` names the
    actual entry point in every error (ADVICE r11: perplexity_filter
    reaches this too).
    Returns kind → {bucket: cnt}; kinds beyond 'gram'/'ctx' ('uni' and
    the intermediate 'gram{k}'/'ctx{k}' orders) are present only for
    ``unigrams=True`` (backoff) fits."""
    agg = _lm_counts_frame(counts, fn_name)
    cap = _MAX_LM_KINDS * _MAX_BUCKETS
    rows = agg.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{fn_name}: counts has more than {cap} rows — fit "
            "relations are bounded by (#kinds)·n_buckets by "
            "construction; was a raw token-level frame passed instead "
            "of ngram_lm_fit output?")
    kinds: dict[str, dict] = {}
    for r in rows:
        if not _KIND_RE.match(r["kind"] or ""):
            raise ValueError(
                f"{fn_name}: unknown kind {r['kind']!r} in counts "
                "(expected 'gram'/'ctx'/'uni', an intermediate "
                "'gram{k}'/'ctx{k}' backoff order, or a Kneser–Ney "
                "'tcont{k}'/'tden{k}'/'tfol{k}' type kind)")
        kinds.setdefault(r["kind"], {})[r["bucket"]] = r["cnt"]
    return kinds


def _validate_kn(kneser_ney, n: int, fn_name: str) -> None:
    if kneser_ney is not True and not (
            isinstance(kneser_ney, (int, float))
            and 0.0 < float(kneser_ney) <= 1.0):
        raise ValueError(
            f"{fn_name}: kneser_ney must be True (estimate the "
            "discount as n1/(n1+2·n2), Chen & Goodman 1999 eq. 26) "
            f"or an absolute discount D in (0, 1], got {kneser_ney!r}")
    if not 2 <= n <= _MAX_BACKOFF_ORDER:
        raise ValueError(
            f"{fn_name}: kneser_ney requires 2 <= n <= "
            f"{_MAX_BACKOFF_ORDER} (the unigram base is the "
            f"continuation distribution), got n={n}")


def _kn_model(kinds: dict, n: int, n_buckets: int, smoothing,
              kneser_ney, fn_name: str):
    """Resolve a continuations fit into the interpolated Kneser–Ney
    model (Kneser & Ney 1995; Chen & Goodman 1999's interpolated
    form): raw event counts at the top order, continuation TYPE
    counts below, one absolute discount D whose freed mass
    (D·N1+(c·)/den) interpolates each lower order.  Returns
    ``("kn", gram, top, levels, t1, T, D)`` with ``top[b] = (ctx_cnt,
    tfol_n)`` merged on the shared ctx-bucket key, ``levels`` =
    ``[(k, tcont_k, {b: (tden_k, tfol_k)}), ...]`` for orders
    n−1..2, and the unigram base ``(tcont1 + α)/(T + α·B)`` add-α
    smoothed so the floor stays finite (the family's convention)."""
    gram, ctx = kinds.get("gram", {}), kinds.get("ctx", {})

    def need(kind):
        m = kinds.get(kind, {})
        if not m:
            raise ValueError(
                f"{fn_name}: kneser_ney= needs {kind!r} rows in the "
                "counts relation — refit with ngram_lm_fit(..., "
                "continuations=True)")
        return m

    tfoln, t1 = need(f"tfol{n}"), need("tcont1")
    if kneser_ney is True:
        n1 = sum(1 for c in gram.values() if c == 1)
        n2 = sum(1 for c in gram.values() if c == 2)
        if n1 == 0:
            raise ValueError(
                f"{fn_name}: kneser_ney=True cannot estimate the "
                "discount — no singleton gram buckets (heavy bucket "
                "collisions, or a tiny/repetitive corpus); pass an "
                "explicit discount, e.g. kneser_ney=0.75")
        D = n1 / (n1 + 2.0 * n2)
    else:
        D = float(kneser_ney)

    def merged(cnts, types, label):
        out = {}
        for b, c in cnts.items():
            f = types.get(b)
            if f is None:
                raise ValueError(
                    f"{fn_name}: counts relation is inconsistent — "
                    f"bucket {b} has {label} counts but no matching "
                    "type row.  KN type counts are per-snapshot "
                    "(distinct counts do NOT sum): refit with "
                    "continuations=True instead of unioning partial "
                    "fits")
            out[b] = (float(c), float(f))
        return out

    top = merged(ctx, tfoln, "ctx event")
    levels = []
    for k in range(n - 1, 1, -1):
        tc = {b: float(c) for b, c in need(f"tcont{k}").items()}
        mid = merged(need(f"tden{k}"), need(f"tfol{k}"),
                     f"tden{k} type")
        levels.append((k, tc, mid))
    T = float(sum(t1.values()))
    return ("kn", {b: float(c) for b, c in gram.items()}, top,
            levels, {b: float(c) for b, c in t1.items()}, T, D)


def _check_lm(fn_name, n_buckets, n, smoothing, backoff, interpolate,
              kneser_ney, reference, counts) -> None:
    """The scorers' argument checks (no job: a counts relation is
    shape-checked, not collected)."""
    _validate_features(n_buckets, n)
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    if sum(x is not None for x in (backoff, interpolate,
                                   kneser_ney)) > 1:
        raise ValueError(
            f"{fn_name}: backoff=, interpolate= and kneser_ney= are "
            "alternative smoothing schemes — pass one")
    if kneser_ney is not None:
        _validate_kn(kneser_ney, n, fn_name)
    if interpolate is not None:
        if not 0.0 < interpolate < 1.0:
            raise ValueError(
                f"{fn_name}: interpolate must be in (0, 1) — the "
                "Jelinek–Mercer λ; 1 is pure MLE (ln 0 on unseen "
                f"grams), 0 ignores the n-gram evidence — got "
                f"{interpolate}")
    lower_lam = backoff if backoff is not None else interpolate
    if lower_lam is not None:
        which = "backoff" if backoff is not None else "interpolate"
        if backoff is not None and not 0.0 < backoff <= 1.0:
            raise ValueError(
                f"{fn_name}: backoff must be in (0, 1] (Brants et "
                f"al.'s λ, typically 0.4), got {backoff}")
        if n < 2:
            raise ValueError(
                f"{fn_name}: {which} requires n >= 2 — a unigram LM "
                "has no lower-order relation to fall back on")
        if n > _MAX_BACKOFF_ORDER:
            raise ValueError(
                f"{fn_name}: {which} bounds n at {_MAX_BACKOFF_ORDER} "
                f"(each order adds 2·n_buckets rows to the bounded "
                f"fit), got n={n}")
    if counts is not None and reference is not None:
        raise ValueError(
            f"{fn_name}: pass either reference= (fit here) or "
            "counts= (precomputed ngram_lm_fit output), not both")
    if counts is not None:
        _lm_counts_frame(counts, fn_name)


def _lm_model(t: Table, reference, counts, text_col, n_buckets, n,
              smoothing, backoff=None, fn_name="ngram_lm_logprob",
              tokenizer=None, interpolate=None, kneser_ney=None):
    """Resolve the fit → per-bucket ln() tables (hoisted driver-side:
    the hot path below does lookups and one subtraction — or one
    NULL-skipping greatest() over the order ladder for backoff, or the
    Jelinek–Mercer mixture chain for interpolate — per gram).  Returns
    ``("add_alpha", ln_g, ln_c, miss_g, miss_c)``, ``("backoff", ln_g,
    ln_c, ln_u, miss_u, levels)`` or ``("interp", ln_g, ln_c, ln_u,
    miss_u, levels, lam)``; ``levels`` is ``[(k, ln_gk, ln_ck), ...]``
    for the intermediate orders n−1..2 (empty when n == 2) — for
    backoff each order's ``(n−k)·ln λ`` multiplier is folded into
    ``ln_gk`` driver-side, for interp the tables are raw (the mixture
    weights apply in the scoring expression)."""
    _check_lm(fn_name, n_buckets, n, smoothing, backoff, interpolate,
              kneser_ney, reference, counts)
    lower_lam = backoff if backoff is not None else interpolate
    which = "backoff" if backoff is not None else "interpolate"
    if counts is None:
        counts = ngram_lm_fit(reference if reference is not None else t,
                              text_col, n_buckets, n,
                              unigrams=lower_lam is not None,
                              tokenizer=tokenizer,
                              continuations=kneser_ney is not None)
    kinds = _bounded_lm_counts(counts, fn_name)
    if kneser_ney is not None:
        return _kn_model(kinds, n, n_buckets, smoothing, kneser_ney,
                         fn_name)
    gram, ctx = kinds.get("gram", {}), kinds.get("ctx", {})
    if lower_lam is not None:
        uni = kinds.get("uni", {})
        if not uni:
            raise ValueError(
                f"{fn_name}: {which}= needs 'uni' rows in the counts "
                "relation — refit with ngram_lm_fit(..., "
                "unigrams=True)")
        # stupid backoff (Brants et al. 2007), multi-order since r13:
        # per-gram score ln max over the order ladder
        #   MLE_n, λ·MLE_{n−1}, ..., λ^{n−2}·MLE_2, λ^{n−1}·P_uni
        # — each order's MLE ratio is raw (its discriminative power IS
        # the point; unseen/collision-orphaned buckets contribute NULL
        # and fall out of the max), the unigram base distribution is
        # add-α smoothed so the floor stays finite.  N = Σ uni-cnt =
        # total grams (each gram contributes its final token) — no
        # extra normalizer pass.  NOTE the deliberate max()-vs-Brants
        # deviation: Brants scores the raw MLE whenever gram evidence
        # exists; here a seen-but-rare gram takes the BACKOFF value
        # when that is larger, a floor against hash-collision noise
        # (pinned by test_lm.py::test_backoff_greatest_deviation).
        interp = interpolate is not None
        lam = 0.0 if interp else math.log(backoff)
        n_total = sum(uni.values())
        den = math.log(n_total + smoothing * n_buckets)
        ln_g = {b: math.log(c) for b, c in gram.items()}
        ln_c = {b: math.log(c) for b, c in ctx.items()}
        # backoff folds each hop's λ-multiplier in driver-side; interp
        # keeps raw conditionals (the mixture weights apply per gram
        # in the scoring expression, where the SUM needs linear space)
        ln_u = {b: (0 if interp else (n - 1) * lam)
                + math.log(c + smoothing) - den
                for b, c in uni.items()}
        levels = []
        for k in range(n - 1, 1, -1):
            gk = kinds.get(f"gram{k}", {})
            ck = kinds.get(f"ctx{k}", {})
            if not gk or not ck:
                raise ValueError(
                    f"{fn_name}: multi-order {which} (n={n}) needs "
                    f"'gram{k}'/'ctx{k}' rows in the counts relation "
                    "— refit with ngram_lm_fit(..., unigrams=True) on "
                    "this client version")
            mult = 0.0 if interp else (n - k) * lam
            levels.append((k,
                           {b: mult + math.log(c)
                            for b, c in gk.items()},
                           {b: math.log(c) for b, c in ck.items()}))
        miss_u = ((0 if interp else (n - 1) * lam)
                  + math.log(smoothing) - den)  # unseen predicted tok
        if interp:
            return ("interp", ln_g, ln_c, ln_u, miss_u, levels,
                    float(interpolate))
        return ("backoff", ln_g, ln_c, ln_u, miss_u, levels)
    ln_g = {b: math.log(c + smoothing) for b, c in gram.items()}
    ln_c = {b: math.log(c + smoothing * n_buckets)
            for b, c in ctx.items()}
    return ("add_alpha", ln_g, ln_c,
            math.log(smoothing),              # unseen gram bucket
            math.log(smoothing * n_buckets))  # unseen ctx bucket


def _scores_schema(t, fn_name, keep_columns: bool, id_col, n_buckets, n,
                   smoothing, backoff, interpolate, kneser_ney, reference,
                   counts, **_) -> list:
    """Validate a scorer call; its output fields: the id (then, for the
    filters, the corpus' remaining columns) and the four exports."""
    _check_lm(fn_name, n_buckets, n, smoothing, backoff, interpolate,
              kneser_ney, reference, counts)
    rest = [f for f in t.df.schema.fields
            if f.name != id_col] if keep_columns else []
    return ([t.df.schema[id_col], *rest]
            + [T.StructField(c, dt) for c, dt in _LM_SCHEMA])


def _logprob_schema(t, _fn_name, **a):
    return T.StructType(_scores_schema(t, _fn_name, False, **a))


@wire_op("ngram_lm_logprob", tables=("t", "reference"),
         relations=_COUNTS_RELATION,
         kwargs=_LM_KWARGS, schema=_logprob_schema)
def ngram_lm_logprob(t: Table, reference: Table | None = None,
                     counts: DataFrame | None = None,
                     text_col: str = "text", id_col: str = "doc_id",
                     n_buckets: int = 4096, n: int = 2,
                     smoothing: float = 1.0,
                     backoff: float | None = None,
                     tokenizer=None,
                     interpolate: float | None = None,
                     kneser_ney=None,
                     _fn_name: str = "ngram_lm_logprob") -> DataFrame:
    """Score every document of ``t`` under the bucketized add-α n-gram
    LM: ``(id_col, n_grams INT, logp, avg_logp, ppl)`` with

    - ``logp``     = Σ_i ln P(gram_i | ctx_i)      (round-4)
    - ``avg_logp`` = logp / n_grams                (round-4; NULL when
      the document is shorter than ``n`` tokens — no evidence)
    - ``ppl``      = exp(−avg_logp) per-gram perplexity (round-4)

    The model fits on ``reference`` (CCNet's trusted corpus; defaults
    to ``t`` itself — self-scoring flags outlier documents), or pass a
    precomputed/persisted ``ngram_lm_fit`` relation as ``counts=`` —
    the fit-once-per-snapshot 100 TB form.  Exactly one of
    reference-fitting and ``counts=`` is used; passing both raises.

    Plan: positioned-index explode → two broadcast-hash joins of the
    bounded ln() relations → per-doc re-aggregation, everything
    per-gram in codegen.

    ``backoff=λ`` (λ ∈ (0, 1], Brants et al.'s 0.4) switches the model
    to STUPID BACKOFF — CCNet's discriminative power lives in the
    smoothing, and add-α flattens sparse bigrams where backoff does
    not.  Per-gram the score is the max over the full order ladder
    (multi-order recursion since r13, VERDICT r12 #2):

        ln P = max(MLE_n, λ·MLE_{n−1}, ..., λ^{n−2}·MLE_2,
                   λ^{n−1}·(cnt_u+α)/(N+α·B))

    where ``MLE_k`` is the raw ratio of the k-token SUFFIX's counts
    (evidence-less orders fall out of the max) and the floor is the
    add-α unigram probability of the PREDICTED token.  The fit must
    carry the lower-order kinds — ``unigrams=True``; a reference-fit
    here does so automatically.  Distributable with no
    renormalization; 'ppl' is then a score-perplexity (stupid backoff
    is unnormalized — bucket collisions can even push an MLE ratio
    above 1).  Deliberate deviation from Brants et al.: a SEEN gram
    still takes a backoff value when that is larger (max, not the
    first-seen-order conditional) — a floor against hash-collision
    noise, pinned by ``test_backoff_greatest_deviation``.  Backoff
    scores with 2n−1 broadcast ln() joins.

    ``interpolate=λ`` (λ ∈ (0, 1), Jelinek & Mercer 1980; CCNet's
    KenLM default is interpolated KN — this is the JM member of the
    same family) is the NORMALIZED alternative: per-gram

        P = λ·MLE_n + (1−λ)·(λ·MLE_{n−1} + (1−λ)·(... P_uni))

    recursing through the same order ladder down to the add-α unigram
    base.  Each level mixes a properly normalized conditional
    (Σ_grams cnt_g/cnt_c = 1 per context bucket over the gram-event
    decomposition; Σ_tokens (c+α)/(N+αB) = 1), so the mixture is
    normalized and 'ppl' is a TRUE perplexity — comparable across
    models and corpora, which unnormalized stupid backoff scores are
    not.  (Up to hash-bucketing: a cross-bucket collision can still
    push one per-gram ratio above 1, the same caveat the whole
    bucketized family carries — but unlike backoff there is no
    by-construction mass inflation.)  Evidence-less orders contribute
    0 to the mixture (their λ-mass falls through to the lower
    orders); the chain is bounded below by (1−λ)^{n−1}·P_uni > 0.
    Same plan shape as backoff (2n−1 broadcast ln() joins, mixture
    arithmetic in codegen); the three smoothing knobs are mutually
    exclusive.

    ``kneser_ney=D`` (D ∈ (0, 1], or ``True`` to estimate D as
    n1/(n1+2·n2) from the gram counts-of-counts; Kneser & Ney 1995,
    Chen & Goodman 1999's interpolated form — KenLM's and therefore
    CCNet's actual default) is the strongest member: absolute
    discounting at the top order frees exactly D per seen gram type,
    and the freed mass interpolates LOWER-order CONTINUATION
    distributions — P_cont(w) ∝ how many distinct contexts w
    follows, not how often w occurs ("San Francisco" makes
    "Francisco" frequent but a terrible novel-context prediction).
    Per gram, with c the context and u the predicted token:

        P = max(cnt(cw)−D, 0)/cnt(c) + D·N1+(c·)/cnt(c) · P_lower
        P_lower(k) = max(N1+(·u_k)−D, 0)/N1+(·c_k·)
                     + D·N1+(c_k·)/N1+(·c_k·) · P_lower(k−1)
        P_base = (N1+(·u) + α)/(N1+(··) + α·B)

    All the N1+ relations are the TYPE counts a
    ``continuations=True`` fit emits (a reference-fit here does so
    automatically); scoring is the same positioned-index explode with
    3 + 2·(n−2) + 1 broadcast joins of bounded count relations and
    the mixture chain in codegen.  The model is normalized (up to the
    family's bucket-collision caveat), so 'ppl' is a true perplexity.
    An unseen context bucket defers its whole level (num 0, weight
    1); the add-α continuation base keeps the floor finite.  KN fits
    are PER-SNAPSHOT: type counts are distinct counts and do not sum
    across partial fits (the incremental LM store deliberately cannot
    carry them)."""
    _validate_features(n_buckets, n)
    # self-scoring (reference defaults to t, no precomputed counts):
    # ONE tokenize+bucket corpus scan serves BOTH the fit and the
    # scoring pass — the fit's every (kind, bucket) row re-hashes a
    # bucket the scoring frame already computes, so derive the counts
    # from the persisted frame instead of a second scan (r15, guide
    # §2.4; the cache is owned by the result via owned_cache).
    # Streaming frames keep the two-pass plan: persist() needs a
    # batch plan, and the streaming entry points score via counts=.
    ladder_args = backoff is not None or interpolate is not None
    kn_args = kneser_ney is not None
    ex = None
    if counts is None and reference is None and not t.df.isStreaming:
        ex = _score_frame(
            t.df, text_col, id_col, n_buckets, n,
            range(n - 1, 1, -1) if (ladder_args or kn_args) else (),
            ladder_args or kn_args, tokenizer)
    with owned_cache(ex) as c:
        if ex is not None:
            counts = _self_fit_counts(ex, n, ladder_args, kn_args)
        model = _lm_model(t, reference, counts, text_col, n_buckets, n,
                          smoothing, backoff, _fn_name, tokenizer,
                          interpolate, kneser_ney)
        if model[0] == "kn":
            return c.transfer(_logprob_kn(
                t, model, text_col, id_col, n_buckets, n, smoothing,
                tokenizer, _ex=ex))

        spark = t.df.sparkSession
        kind = model[0]
        ln_g, ln_c = model[1], model[2]
        lng = local_frame(
            spark, [(int(b), v) for b, v in ln_g.items()],
            "bucket long, lng double")
        lnc = local_frame(
            spark, [(int(b), v) for b, v in ln_c.items()],
            "bucket long, lnc double")
        laddered = kind in ("backoff", "interp")
        levels = model[5] if laddered else []
        if ex is None:
            ex = _score_frame(t.df, text_col, id_col, n_buckets, n,
                              [k for k, _, _ in levels], laddered,
                              tokenizer)
        joined = (ex
                  .join(F.broadcast(lng), ex["gb"] == lng["bucket"], "left")
                  .drop(lng["bucket"])
                  .join(F.broadcast(lnc), ex["cb"] == lnc["bucket"], "left")
                  .drop(lnc["bucket"]))
        if laddered:
            ln_u, miss_u = model[3], model[4]
            for k, ln_gk, ln_ck in levels:
                lgk = local_frame(
                    spark, [(int(b), v) for b, v in ln_gk.items()],
                    f"bucket long, lng{k} double")
                lck = local_frame(
                    spark, [(int(b), v) for b, v in ln_ck.items()],
                    f"bucket long, lnc{k} double")
                joined = (joined
                          .join(F.broadcast(lgk),
                                joined[f"gb{k}"] == lgk["bucket"], "left")
                          .drop(lgk["bucket"])
                          .join(F.broadcast(lck),
                                joined[f"cb{k}"] == lck["bucket"], "left")
                          .drop(lck["bucket"]))
            lnu = local_frame(
                spark, [(int(b), v) for b, v in ln_u.items()],
                "bucket long, lnu double")
            joined = (joined
                      .join(F.broadcast(lnu),
                            joined["ub"] == lnu["bucket"], "left")
                      .drop(lnu["bucket"]))
            back = F.coalesce(F.col("lnu"), F.lit(miss_u))
            if kind == "interp":
                # Jelinek–Mercer mixture chain, lowest order first: the
                # unigram base is always present; an evidence-less order
                # mixes in 0 (its λ-mass falls through).  exp/ln per gram
                # — still codegen, and the ln() tables stay shared with
                # backoff so the two schemes cannot drift.
                lam = model[6]
                p = F.exp(back)
                for k, _, _ in reversed(levels):      # ascending 2..n−1
                    mle = F.when(
                        F.col(f"lng{k}").isNotNull()
                        & F.col(f"lnc{k}").isNotNull(),
                        F.exp(F.col(f"lng{k}") - F.col(f"lnc{k}"))
                    ).otherwise(F.lit(0.0))
                    p = F.lit(lam) * mle + F.lit(1.0 - lam) * p
                mle_n = F.when(
                    F.col("lng").isNotNull() & F.col("lnc").isNotNull(),
                    F.exp(F.col("lng") - F.col("lnc"))
                ).otherwise(F.lit(0.0))
                per_gram = F.log(F.lit(lam) * mle_n
                                 + F.lit(1.0 - lam) * p)
            elif not levels:
                # n == 2: the r12 expression, verbatim
                per_gram = F.when(
                    F.col("lng").isNotNull() & F.col("lnc").isNotNull(),
                    F.greatest(F.col("lng") - F.col("lnc"), back)
                ).otherwise(back)
            else:
                # the order ladder: greatest() SKIPS NULL operands, so an
                # evidence-less order simply falls out of the max; the
                # unigram floor is always non-null.  Each level's λ-hop
                # multiplier is already folded into its gram table.
                cand = [F.when(
                    F.col("lng").isNotNull() & F.col("lnc").isNotNull(),
                    F.col("lng") - F.col("lnc"))]
                for k, _, _ in levels:
                    cand.append(F.when(
                        F.col(f"lng{k}").isNotNull()
                        & F.col(f"lnc{k}").isNotNull(),
                        F.col(f"lng{k}") - F.col(f"lnc{k}")))
                cand.append(back)
                per_gram = F.greatest(*cand)
        else:
            _, _, _, miss_g, miss_c = model
            per_gram = (F.coalesce(F.col("lng"), F.lit(miss_g))
                        - F.coalesce(F.col("lnc"), F.lit(miss_c)))
        scored = (joined
                  .groupBy(id_col, "n_grams")
                  .agg(F.sum(F.when(F.col("ev"), per_gram)
                             .otherwise(F.lit(0.0))).alias("s")))

        out = scored.select(F.col(id_col), F.col("n_grams"),
                            *_lm_exports())
        return c.transfer(out)


def _logprob_kn(t: Table, model, text_col: str, id_col: str,
                n_buckets: int, n: int, alpha, tokenizer,
                _ex: DataFrame | None = None) -> DataFrame:
    """Interpolated Kneser–Ney scoring: the positioned-index explode →
    per-order broadcast joins of the bounded count/type relations
    (the two ctx-keyed relations of each order ride MERGED as one
    two-column join, so the join count is 3 + 2·(n−2) + 1) → the
    discount/interpolation chain per gram in whole-stage codegen →
    per-doc re-aggregation.  Counts join as raw doubles (the mixture
    is linear; one ln() per gram at the end)."""
    _, gram, top, levels, t1, T, D = model
    spark = t.df.sparkSession
    ex = _ex if _ex is not None else _score_frame(
        t.df, text_col, id_col, n_buckets, n,
        [k for k, _, _ in levels], True, tokenizer)
    gdf = local_frame(
        spark, [(int(b), v) for b, v in gram.items()],
        "bucket long, cg double")
    cdf = local_frame(
        spark, [(int(b), cc, tf) for b, (cc, tf) in top.items()],
        "bucket long, cc double, tfn double")
    joined = (ex
              .join(F.broadcast(gdf), ex["gb"] == gdf["bucket"], "left")
              .drop(gdf["bucket"])
              .join(F.broadcast(cdf), ex["cb"] == cdf["bucket"], "left")
              .drop(cdf["bucket"]))
    for k, tc, mid in levels:
        tcdf = local_frame(
            spark, [(int(b), v) for b, v in tc.items()],
            f"bucket long, tc{k} double")
        middf = local_frame(
            spark, [(int(b), td, tf) for b, (td, tf) in mid.items()],
            f"bucket long, td{k} double, tf{k} double")
        joined = (joined
                  .join(F.broadcast(tcdf),
                        joined[f"gb{k}"] == tcdf["bucket"], "left")
                  .drop(tcdf["bucket"])
                  .join(F.broadcast(middf),
                        joined[f"cb{k}"] == middf["bucket"], "left")
                  .drop(middf["bucket"]))
    t1df = local_frame(
        spark, [(int(b), v) for b, v in t1.items()],
        "bucket long, t1 double")
    joined = (joined
              .join(F.broadcast(t1df),
                    joined["ub"] == t1df["bucket"], "left")
              .drop(t1df["bucket"]))
    # the chain, lowest order first: the continuation-unigram base is
    # always present (add-α floor); an unseen context bucket defers
    # its whole level — numerator 0, interpolation weight 1
    p = (F.coalesce(F.col("t1"), F.lit(0.0)) + F.lit(float(alpha))) \
        / F.lit(T + float(alpha) * n_buckets)
    for k, _, _ in reversed(levels):          # ascending 2..n−1
        num = F.when(
            F.col(f"tc{k}").isNotNull() & F.col(f"td{k}").isNotNull(),
            F.greatest(F.col(f"tc{k}") - F.lit(D), F.lit(0.0))
            / F.col(f"td{k}")).otherwise(F.lit(0.0))
        gam = F.when(
            F.col(f"td{k}").isNotNull(),
            (F.lit(D) * F.col(f"tf{k}")) / F.col(f"td{k}")
        ).otherwise(F.lit(1.0))
        p = num + gam * p
    num_t = F.when(
        F.col("cg").isNotNull() & F.col("cc").isNotNull(),
        F.greatest(F.col("cg") - F.lit(D), F.lit(0.0)) / F.col("cc")
    ).otherwise(F.lit(0.0))
    gam_t = F.when(F.col("cc").isNotNull(),
                   (F.lit(D) * F.col("tfn")) / F.col("cc")
                   ).otherwise(F.lit(1.0))
    per_gram = F.log(num_t + gam_t * p)
    scored = (joined
              .groupBy(id_col, "n_grams")
              .agg(F.sum(F.when(F.col("ev"), per_gram)
                         .otherwise(F.lit(0.0))).alias("s")))
    return scored.select(F.col(id_col), F.col("n_grams"),
                         *_lm_exports())


def _lm_exports():
    """The three float exports from the raw per-doc sum ``s`` — shared
    by both execution paths so they cannot drift: round-4 + 0.0 (the
    byte-hash -0.0 canonicalization, _fprobe convention)."""
    s, ng = F.col("s"), F.col("n_grams")
    avg = s / ng.cast(T.DoubleType())
    return (
        (F.round(s, 4) + F.lit(0.0)).alias("logp"),
        F.when(ng > 0, F.round(avg, 4) + F.lit(0.0)).alias("avg_logp"),
        F.when(ng > 0, F.round(F.exp(-avg), 4) + F.lit(0.0)).alias("ppl"),
    )


def _check_band(max_ppl, min_ppl) -> None:
    if max_ppl is None and min_ppl is None:
        raise ValueError(
            "perplexity_filter: pass max_ppl and/or min_ppl — an "
            "unbounded band keeps everything")


def _filter_schema(t, max_ppl, min_ppl, **a):
    _check_band(max_ppl, min_ppl)
    return T.StructType(_scores_schema(t, "perplexity_filter", True, **a))


@wire_op("perplexity_filter", tables=("t", "reference"),
         relations=_COUNTS_RELATION,
         kwargs=("max_ppl", "min_ppl", *_LM_KWARGS),
         schema=_filter_schema)
def perplexity_filter(t: Table, reference: Table | None = None,
                      counts: DataFrame | None = None,
                      max_ppl: float | None = None,
                      min_ppl: float | None = None,
                      text_col: str = "text", id_col: str = "doc_id",
                      n_buckets: int = 4096, n: int = 2,
                      smoothing: float = 1.0,
                      backoff: float | None = None,
                      tokenizer=None,
                      interpolate: float | None = None,
                      kneser_ney=None) -> DataFrame:
    """CCNet-style perplexity band filter: keep the documents of ``t``
    whose per-gram perplexity under the reference LM lies in
    ``[min_ppl, max_ppl]`` (either bound optional, at least one
    required).  Returns ``t``'s columns plus the three LM exports.

    Membership compares on the round-4 exported ``ppl`` itself (the
    Gumbel-top-k round-key precedent: band edges never hinge on a
    last-ulp ln()/exp() disagreement between engines).  Documents
    shorter than ``n`` tokens carry no evidence and are DROPPED (NULL
    ppl — the same posture as a NULL-predicate filter).

    The band sits ABOVE the scorer's per-doc aggregation, which is a
    pushdown barrier: Catalyst cannot substitute the predicate into the
    scoring expression (on the fold form it re-evaluated the whole
    scorer once per band clause inside an interpreted Filter — 28.3 →
    2.1 s at sf0.1 with this structure, PLANS.md r11).  The kept
    scores then broadcast-hash-join back onto ``t`` on ``id_col``."""
    _check_band(max_ppl, min_ppl)
    scores = ngram_lm_logprob(
        t, reference=reference, counts=counts, text_col=text_col,
        id_col=id_col, n_buckets=n_buckets, n=n, smoothing=smoothing,
        backoff=backoff, tokenizer=tokenizer, interpolate=interpolate,
        kneser_ney=kneser_ney, _fn_name="perplexity_filter")
    key = F.col("ppl")
    cond = F.lit(True)
    if max_ppl is not None:
        cond = cond & (key <= max_ppl)
    if min_ppl is not None:
        cond = cond & (key >= min_ppl)
    kept = scores.filter(F.col("ppl").isNotNull() & cond)
    return carry(t.df.join(kept, id_col, "inner"), scores)


def _check_buckets(t, quantiles, labels, by_col, id_col) -> None:
    qs = [float(q) for q in quantiles]
    if not qs or any(not 0.0 < q < 1.0 for q in qs) \
            or any(b <= a for a, b in zip(qs, qs[1:])):
        raise ValueError(
            f"perplexity_buckets: quantiles must be strictly "
            f"increasing within (0, 1), got {tuple(quantiles)}")
    if len(labels) != len(qs) + 1:
        raise ValueError(
            f"perplexity_buckets: {len(qs)} quantile cut(s) define "
            f"{len(qs) + 1} buckets but {len(labels)} label(s) were "
            "passed")
    if len(set(labels)) != len(labels):
        raise ValueError(
            f"perplexity_buckets: duplicate bucket labels {labels}")
    if by_col is not None and by_col not in t.df.columns:
        raise ValueError(
            f"perplexity_buckets: by_col {by_col!r} is not a column of "
            f"the corpus ({t.df.columns})")
    if by_col == id_col:
        raise ValueError(
            f"perplexity_buckets: by_col == id_col ({id_col!r}) — "
            "per-document groups would make every document its own "
            "tercile; group on a coarser column (e.g. lang)")
    # loud guard instead of an opaque ambiguous-column analysis error
    # (the assign_clusters posture, ADVICE r14)
    taken = {"__thr", "ppl_bucket"} & set(t.df.columns)
    if taken:
        raise ValueError(
            f"perplexity_buckets: the corpus already carries "
            f"{sorted(taken)} — rename or drop before bucketing")


def _buckets_schema(t, quantiles, labels, by_col, **a):
    _check_buckets(t, quantiles, labels, by_col, a["id_col"])
    return T.StructType(
        _scores_schema(t, "perplexity_buckets", True, **a)
        + [T.StructField("ppl_bucket", T.StringType())])


@wire_op("perplexity_buckets", tables=("t", "reference"),
         relations=_COUNTS_RELATION,
         kwargs=("quantiles", "labels", "by_col", *_LM_KWARGS),
         schema=_buckets_schema)
def perplexity_buckets(t: Table, reference: Table | None = None,
                       counts: DataFrame | None = None,
                       quantiles: tuple = (1.0 / 3.0, 2.0 / 3.0),
                       labels: tuple = ("head", "middle", "tail"),
                       by_col: str | None = None,
                       text_col: str = "text", id_col: str = "doc_id",
                       n_buckets: int = 4096, n: int = 2,
                       smoothing: float = 1.0,
                       backoff: float | None = None,
                       tokenizer=None,
                       interpolate: float | None = None,
                       kneser_ney=None) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): score every
    document's perplexity under the reference LM, then bucket by the
    corpus' own ppl quantiles — ``by_col="lang"`` reproduces the paper's
    PER-LANGUAGE terciles (each language is ranked against itself, so a
    morphologically complex language's naturally higher perplexities
    don't banish its whole corpus to "tail").  Unlike
    :func:`perplexity_filter`'s fixed band, the thresholds are
    data-derived: exact interpolated percentiles of the round-4 ``ppl``
    export, computed per group and broadcast back.

    Output: ``t``'s columns + the four LM exports + ``ppl_bucket``
    (first label = lowest-perplexity slice).  Documents shorter than
    ``n`` tokens carry no evidence and are DROPPED (NULL ppl — the
    :func:`perplexity_filter` posture).

    Scale shape: the scorer's one corpus scan produces a SKINNY
    (id, exports) relation that is persisted (owned by the result,
    released with it) because two consumers read it — the
    per-group percentile aggregation (shuffles only (group, ppl) pairs
    onto a ≤ #groups key space) and the final join back onto ``t``.
    The thresholds relation is #groups rows and broadcasts; bucketing
    itself is a projection.  Nothing driver-side grows with the corpus.

    Byte-strict oracle parity: the thresholds interpolate over the
    SAME round-4 ppl multiset on both engines (Spark ``percentile`` ≙
    DuckDB ``quantile_cont``, the percentile_prices precedent), and the
    bucket comparisons then see identical doubles on both sides."""
    _check_buckets(t, quantiles, labels, by_col, id_col)
    qs = [float(q) for q in quantiles]
    scores = ngram_lm_logprob(
        t, reference=reference, counts=counts, text_col=text_col,
        id_col=id_col, n_buckets=n_buckets, n=n, smoothing=smoothing,
        backoff=backoff, tokenizer=tokenizer, interpolate=interpolate,
        kneser_ney=kneser_ney, _fn_name="perplexity_buckets")
    scored = scores.filter(F.col("ppl").isNotNull())
    with owned_cache(scored) as owner:
        if by_col is not None:
            keyed = t.df.select(id_col, by_col).join(scored, id_col)
            thr = (keyed.groupBy(by_col)
                   .agg(F.percentile("ppl", qs).alias("__thr")))
        else:
            thr = scored.groupBy().agg(
                F.percentile("ppl", qs).alias("__thr"))
        joined = t.df.join(scored, id_col, "inner")
        joined = (joined.join(F.broadcast(thr), by_col)
                  if by_col is not None
                  else joined.crossJoin(F.broadcast(thr)))
        bucket = F.when(F.col("ppl") <= F.col("__thr")[0],
                        F.lit(labels[0]))
        for i in range(1, len(qs)):
            bucket = bucket.when(F.col("ppl") <= F.col("__thr")[i],
                                 F.lit(labels[i]))
        bucket = bucket.otherwise(F.lit(labels[-1]))
        # pin the output order (joins reorder around their keys): the id,
        # the corpus' remaining columns, the four LM exports, the bucket —
        # the perplexity_filter convention + ppl_bucket
        cols = ([id_col]
                + [c for c in t.df.columns if c != id_col]
                + [name for name, _ in _LM_SCHEMA] + ["ppl_bucket"])
        out = joined.withColumn("ppl_bucket", bucket).select(*cols)
        return owner.transfer(carry(out, scores))
