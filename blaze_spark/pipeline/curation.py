"""Corpus-curation operators for LLM training-data pipelines: repetition
filters (Gopher-style), benchmark-contamination checks, PII scrubbing, and
source-mix reporting.

These extend the reference's text/dedup surface the same way
``pipeline/text.py`` does: every formula is deliberately expressible in
ANSI SQL so the DuckDB oracle can mirror it exactly, and every per-row
signal is a built-in Column expression (whole-stage codegen — a 100 TB
documents scan stays in the JVM with only the columns each operator reads).

Scale notes, per operator:

- ``repetition_features`` is a pure projection — no shuffle at all.
- ``top_ngram_share`` shuffles on (doc_id, ngram): high-cardinality,
  near-uniform keys (a single document's n-grams land in one task only if
  they hash together, and the per-doc group is bounded by document length),
  then a second map-side-combinable aggregation keyed by doc_id.
- ``contamination_report`` broadcasts the *benchmark* side (test sets are
  KB-to-MB against a 100 TB corpus) so the train scan joins without a
  shuffle; per-doc counts are a map-side-combinable aggregation.
- ``pii_scrub`` is a pure projection.
- ``source_mix`` aggregates to ~#sources rows before the window step, so
  the non-partitioned window runs over a tiny relation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import Table, _unary_pass
from ..wire import wire_op
from .text import quality_features

# Bounded driver/broadcast state: counts tables, literal maps and DSIR
# log-ratio tables are all O(n_buckets).  64k buckets ≈ the largest
# hashed-feature models in published pipelines (DSIR uses 10k).  A
# mixture plan (one row per source) ships under the same bound.
_MAX_BUCKETS = 65_536


def _tokens(col: Column) -> Column:
    # identical tokenization to pipeline/text.py so signals compose
    return F.split(F.trim(F.lower(col)), r"\s+")


def ngram_array(col: Column, n: int) -> Column:
    """Token n-grams of ``col`` as an array of space-joined strings.

    Pure Column expression (sequence + slice + concat_ws — no explode, so
    callers choose where the explode happens, which is the expensive
    placement decision; see PLANS.md on interpreted-HOF placement).
    Documents with fewer than ``n`` tokens yield an empty array — NOT a
    descending ``sequence(1, 0)`` (Spark's sequence steps backwards when
    start > stop, which would fabricate a bogus n-gram).
    """
    toks = _tokens(col)
    sz = F.size(toks)
    idx = F.sequence(F.lit(1), sz - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(sz >= n, grams).otherwise(
        F.array().cast(T.ArrayType(T.StringType())))


def repetition_features(t: Table, text_col: str = "text") -> Table:
    """Gopher-style repetition signals (Rae et al. 2021, table A1) as a
    shuffle-free projection: ``dup_token_frac`` (1 − distinct/total
    tokens), ``dup_line_frac`` (same over non-blank lines), and
    ``max_token_run`` (longest immediate same-token run, the degenerate
    repetition LLM scrapes hit).  Rows are typically filtered with
    ``dup_token_frac > 0.x`` — the predicate pushes into the scan.
    """
    c = F.col(text_col)
    toks = _tokens(c)
    n_tok = F.size(toks)
    lines = F.filter(F.split(c, "\n"), lambda x: F.length(F.trim(x)) > 0)
    n_lines = F.size(lines)
    # longest run of the SAME token: fold (best, cur, prev) over the tokens
    run = F.aggregate(
        toks,
        F.struct(F.lit(0).alias("best"), F.lit(0).alias("cur"),
                 F.lit("").alias("prev")),
        lambda acc, x: F.struct(
            F.greatest(acc["best"],
                       F.when(x == acc["prev"], acc["cur"] + 1)
                        .otherwise(F.lit(1))).alias("best"),
            F.when(x == acc["prev"], acc["cur"] + 1)
             .otherwise(F.lit(1)).alias("cur"),
            x.alias("prev")),
        lambda acc: acc["best"])
    return _unary_pass(
        t,
        t.df.withColumns({
            "n_tokens": n_tok.cast(T.IntegerType()),
            "dup_token_frac": F.round(
                1.0 - F.size(F.array_distinct(toks)) / n_tok, 4),
            "dup_line_frac": F.round(
                F.when(n_lines > 0,
                       1.0 - F.size(F.array_distinct(lines)) / n_lines)
                 .otherwise(F.lit(0.0)), 4),
            "max_token_run": run.cast(T.IntegerType()),
        }),
        "repetition_features", text_col,
    )


@wire_op("top_ngram_share", tables=("t",),
         kwargs=("n", "text_col", "id_col"))
def top_ngram_share(t: Table, n: int = 2, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Most frequent token ``n``-gram per document and the fraction of
    tokens it covers (Gopher's top-n-gram filter: drop documents whose
    single most common 2-gram covers >20% of the text).

    Two aggregations, both map-side combinable: count by (doc, ngram),
    then per-doc argmax via ``min_by`` on a (−count, ngram) struct — the
    same skew-safe lowering keep-first dedup uses (a row_number window
    would route every n-gram of a pathological doc to one task; min_by
    partial-merges).  Ties break on the lexicographically smallest n-gram
    so results are deterministic and oracle-reproducible.  Documents with
    fewer than ``n`` tokens are absent from the output (they have no
    n-gram), mirroring the SQL semantics of unnesting an empty list.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    c = F.col(text_col)
    base = t.df.select(
        F.col(id_col),
        F.size(_tokens(c)).alias("n_tokens"),
        F.explode(ngram_array(c, n)).alias("ngram"),
    )
    counts = base.groupBy(id_col, "n_tokens", "ngram").agg(
        F.count(F.lit(1)).alias("cnt"))
    pick = F.min_by(
        F.struct(F.col("cnt").alias("cnt"), F.col("ngram").alias("ngram")),
        F.struct((-F.col("cnt")).alias("o1"), F.col("ngram").alias("o2")))
    top = counts.groupBy(id_col, "n_tokens").agg(pick.alias("top"))
    return top.select(
        F.col(id_col),
        F.col("top.ngram").alias("top_ngram"),
        F.col("top.cnt").cast(T.LongType()).alias("ngram_count"),
        F.round(F.col("top.cnt") * n / F.col("n_tokens"), 4)
         .alias("top_ngram_frac"),
    )


@wire_op("contamination_report", tables=("train", "test"),
         kwargs=("n", "text_col", "id_col", "threshold"))
def contamination_report(train: Table, test: Table, n: int = 3,
                         text_col: str = "text", id_col: str = "doc_id",
                         threshold: float = 0.2) -> DataFrame:
    """Benchmark-contamination check: for every training document, how many
    of its distinct token ``n``-grams appear anywhere in the ``test``
    corpus (the standard decontamination scheme — GPT-3 appendix C /
    PaLM's 13-gram overlap, scaled down to the synthetic corpus).

    The test side collapses to DISTINCT n-grams and is explicitly
    broadcast: real benchmark suites are a few MB of text against a
    100 TB corpus, so the train scan never shuffles — each task probes the
    broadcast hash set and the per-doc counts partial-aggregate map-side.
    Output: (doc_id, n_ngrams, n_contaminated, contamination_rate,
    contaminated) with ``contaminated`` as 0/1 on ``rate >= threshold``.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from .dedup import _spread

    c = F.col(text_col)

    def distinct_grams(df: DataFrame) -> DataFrame:
        # tokenize + n-gram is per-row-heavy (interpreted HOFs): spread
        # a small/single-file scan across the cores first (metadata-
        # gated no-op at scale; guide §2.5)
        return _spread(df, id_col).select(
            F.col(id_col),
            F.explode(F.array_distinct(ngram_array(c, n))).alias("ngram"))

    test_grams = distinct_grams(test.df).select("ngram").distinct()
    hits = distinct_grams(train.df).join(
        F.broadcast(test_grams.withColumn("hit", F.lit(1))),
        "ngram", "left")
    return (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_ngrams"),
             F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"))
        .select(
            F.col(id_col),
            F.col("n_ngrams").cast(T.LongType()).alias("n_ngrams"),
            F.col("n_contaminated").cast(T.LongType()).alias("n_contaminated"),
            F.round(F.col("n_contaminated") / F.col("n_ngrams"), 4)
             .alias("contamination_rate"),
            (F.col("n_contaminated") / F.col("n_ngrams") >= threshold)
            .cast(T.IntegerType()).alias("contaminated"),
        )
    )


# PII patterns — RE2- and java.util.regex-compatible (no lookarounds) so
# Spark and the DuckDB oracle agree byte-for-byte.
PII_PATTERNS = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ip": (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
}


def pii_scrub(t: Table, text_col: str = "text",
              kinds: tuple[str, ...] = ("email", "ip", "phone", "ssn")) -> Table:
    """Redact PII spans and count them: adds ``n_<kind>`` per requested
    kind and ``clean_text`` with every span replaced by its placeholder.

    Pure projection — chained ``regexp_replace`` (replace-all in both
    Spark and, with the 'g' flag, DuckDB) plus ``regexp_extract_all``
    counts, all inside whole-stage codegen.  Replacement order is the
    ``kinds`` tuple order; the defaults are non-overlapping (email before
    ip before phone before ssn — an SSN's ddd-dd-dddd never matches the
    phone's ddd-ddd-dddd and vice versa).
    """
    c = F.col(text_col)
    cols: dict[str, Column] = {}
    clean = c
    for kind in kinds:
        pat, repl = PII_PATTERNS[kind]
        cols[f"n_{kind}"] = F.size(
            F.regexp_extract_all(c, F.lit(pat), F.lit(0))
        ).cast(T.IntegerType())
        clean = F.regexp_replace(clean, pat, repl)
    cols["clean_text"] = clean
    return _unary_pass(t, t.df.withColumns(cols),
                       "pii_scrub", text_col, list(kinds))


# the Gopher rules' required-stopword set (Rae et al. 2021, A1.1) —
# membership is tested with array_contains on the shared tokenization so
# Spark and the DuckDB oracle agree without any regex subtleties
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(t: Table, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_word_ratio: float = 0.1,
                 max_bullet_line_frac: float = 0.9,
                 max_ellipsis_line_frac: float = 0.3,
                 min_alpha_word_frac: float = 0.8,
                 min_stop_hits: int = 2) -> Table:
    """The full Gopher quality-rule battery (Rae et al. 2021, table A1) as
    ONE shuffle-free projection — the standard web-corpus document filter
    the repetition signals (:func:`repetition_features`) complement.

    Adds the raw signals plus ``gopher_pass`` (0/1, every rule holds):

    - ``n_words`` in [``min_words``, ``max_words``];
    - ``mean_word_len`` (chars per whitespace token) in [3, 10];
    - ``symbol_word_ratio`` — '#' or '...' occurrences per word, <= 0.1;
    - ``bullet_line_frac`` — non-blank lines starting with a bullet
      glyph, <= 0.9; ``ellipsis_line_frac`` — lines ending in '...'/'…',
      <= 0.3;
    - ``alpha_word_frac`` — words containing a letter, >= 0.8;
    - ``n_stop_hits`` — how many of the 8 required stopwords appear,
      >= 2 (paper's "contains at least 2 of ...").

    Every signal is a built-in Column expression over the shared
    tokenization, so the scan stays in whole-stage codegen and the
    predicate (`gopher_pass = 1`) pushes into the parquet scan.  The
    pass/fail comparisons run on the UNROUNDED doubles (both engines do
    the same exact-int divisions, so the decision is byte-reproducible);
    only the exported ratios are rounded.  Blank-only documents define
    their line fractions as 0 (no non-blank lines to judge)."""
    c = F.col(text_col)
    toks = _tokens(c)
    n_words = F.size(toks)
    word_len_sum = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0),
        lambda acc, x: acc + x)
    mean_wl = word_len_sum / n_words
    n_symbols = (F.size(F.regexp_extract_all(c, F.lit("#"), F.lit(0)))
                 + F.size(F.regexp_extract_all(c, F.lit(r"\.\.\.|…"),
                                               F.lit(0))))
    sym_ratio = n_symbols / n_words
    lines = F.filter(F.split(c, "\n"), lambda x: F.length(F.trim(x)) > 0)
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda x: F.ltrim(x).rlike("^[-*•‣▪]")))
    n_ellipsis = F.size(F.filter(
        lines, lambda x: F.rtrim(x).rlike(r"(\.\.\.|…)$")))
    bullet_frac = F.when(n_lines > 0, n_bullet / n_lines).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(n_lines > 0,
                           n_ellipsis / n_lines).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    alpha_frac = n_alpha / n_words
    stop_hits = None
    for w in GOPHER_STOPWORDS:
        hit = F.array_contains(toks, w).cast(T.IntegerType())
        stop_hits = hit if stop_hits is None else stop_hits + hit
    ok = ((n_words >= min_words) & (n_words <= max_words)
          & (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
          & (sym_ratio <= max_symbol_word_ratio)
          & (bullet_frac <= max_bullet_line_frac)
          & (ellipsis_frac <= max_ellipsis_line_frac)
          & (alpha_frac >= min_alpha_word_frac)
          & (stop_hits >= min_stop_hits))
    return _unary_pass(
        t,
        t.df.withColumns({
            "n_words": n_words.cast(T.IntegerType()),
            "mean_word_len": F.round(mean_wl, 4),
            "symbol_word_ratio": F.round(sym_ratio, 4),
            "bullet_line_frac": F.round(bullet_frac, 4),
            "ellipsis_line_frac": F.round(ellipsis_frac, 4),
            "alpha_word_frac": F.round(alpha_frac, 4),
            "n_stop_hits": stop_hits,
            "gopher_pass": ok.cast(T.IntegerType()),
        }),
        "gopher_rules", text_col,
        [min_words, max_words, min_mean_word_len, max_mean_word_len,
         max_symbol_word_ratio, max_bullet_line_frac,
         max_ellipsis_line_frac, min_alpha_word_frac, min_stop_hits],
    )


def c4_clean(t: Table, text_col: str = "text",
             min_line_words: int = 3,
             min_sentences: int = 5) -> Table:
    """The C4 line-level cleaning pass (Raffel et al. 2020, §2.2 — the
    rules that built the T5 pre-training corpus), complementing the
    document-level batteries (:func:`gopher_rules`,
    :func:`repetition_features`): C4 is the one standard filter that
    REWRITES the text rather than just scoring it, so it gets its own
    pass with the cleaned text as a first-class output column.

    Line rules (a line survives iff ALL hold, judged on the trimmed
    line):

    - ends in a terminal punctuation mark — period, exclamation mark,
      question mark, or closing double quote (the paper's list);
    - has at least ``min_line_words`` whitespace words;
    - does not contain the word "javascript" (case-insensitive) — the
      boilerplate "enable Javascript" banner rule.

    Document signals: ``text_clean`` (surviving trimmed lines re-joined
    with newlines), ``n_lines`` (non-blank input lines),
    ``n_kept_lines``, ``n_sentences`` (terminal ``.!?`` marks in the
    cleaned text — the paper's sentence proxy), ``has_lorem_ipsum`` and
    ``has_brace`` (the "lorem ipsum" placeholder-text and '{' code-page
    drops), and ``c4_pass`` (0/1: no lorem ipsum, no brace, and the
    CLEANED page keeps at least ``min_sentences`` sentences).  The
    badword rule is deliberately NOT duplicated here — compose with
    :func:`blocklist_filter`, which already implements the
    word-boundary matching C4's list needs.

    Everything is one shuffle-free projection of built-in Column
    expressions (split / filter / array_join / regexp counts), so a
    100 TB scan stays in whole-stage codegen and ``c4_pass = 1`` pushes
    down.  All exports are ints/strings — no float drift surface — and
    every regex is anchored-simple so Java and RE2/DuckDB agree."""
    if min_line_words < 1:
        raise ValueError(
            f"c4_clean: min_line_words must be >= 1, got {min_line_words}")
    if min_sentences < 0:
        raise ValueError(
            f"c4_clean: min_sentences must be >= 0, got {min_sentences}")
    c = F.col(text_col)
    trimmed = F.transform(F.split(c, "\n"), lambda x: F.trim(x))
    n_lines = F.size(F.filter(trimmed, lambda x: F.length(x) > 0))
    kept = F.filter(
        trimmed,
        lambda x: (x.rlike('[.!?"]$')
                   & (F.size(F.split(x, r"\s+")) >= min_line_words)
                   & ~F.lower(x).contains("javascript")))
    text_clean = F.array_join(kept, "\n")
    n_sent = F.size(F.regexp_extract_all(text_clean, F.lit("[.!?]"),
                                         F.lit(0)))
    has_lorem = F.lower(c).contains("lorem ipsum")
    has_brace = c.contains("{")
    ok = (~has_lorem & ~has_brace & (n_sent >= min_sentences))
    return _unary_pass(
        t,
        t.df.withColumns({
            "text_clean": text_clean,
            "n_lines": n_lines.cast(T.IntegerType()),
            "n_kept_lines": F.size(kept).cast(T.IntegerType()),
            "n_sentences": n_sent.cast(T.IntegerType()),
            "has_lorem_ipsum": has_lorem.cast(T.IntegerType()),
            "has_brace": has_brace.cast(T.IntegerType()),
            "c4_pass": ok.cast(T.IntegerType()),
        }),
        "c4_clean", text_col, [min_line_words, min_sentences],
    )


@wire_op("source_mix", tables=("t",),
         kwargs=("text_col", "source_col", "tokenizer"))
def source_mix(t: Table, text_col: str = "text",
               source_col: str = "source",
               tokenizer=None) -> DataFrame:
    """Per-source corpus composition and uniform-mix downsampling weights:
    (source, n_docs, total_tokens, avg_quality, token_share,
    sample_weight) where ``sample_weight`` is the keep-probability that
    equalizes the token mix across sources WITHOUT upsampling
    (min(1, target_share / actual_share) — the over-represented sources
    are thinned to the level of an even split; :func:`apply_source_mix`
    then executes the plan with a DETERMINISTIC md5-keyed keep decision,
    never ``rand()``).

    ``tokenizer=`` (r13) accounts ``total_tokens`` (and hence the
    shares and weights) in TRUE tokenizer tokens — a mixture plan
    should balance the tokens the trainer will see, not whitespace
    words; ``None`` keeps the whitespace count byte-identical.

    The expensive part is one map-side-combinable aggregation on the
    (low-cardinality) source key; the two non-partitioned windows after it
    run over ~#sources rows, so the single-task window stage is trivially
    small — the standard shape for mixture accounting at corpus scale.
    """
    feats = quality_features(t, text_col).df
    if tokenizer is not None:
        feats = feats.withColumn(
            "n_tokens", tokenizer.n_tokens(F.col(text_col)))
    per_source = feats.groupBy(source_col).agg(
        F.count(F.lit(1)).cast(T.LongType()).alias("n_docs"),
        F.sum("n_tokens").cast(T.LongType()).alias("total_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )
    from pyspark.sql.window import Window
    w = Window.partitionBy()
    share = F.col("total_tokens") / F.sum("total_tokens").over(w)
    target = 1.0 / F.count(F.lit(1)).over(w)
    return per_source.select(
        source_col, "n_docs", "total_tokens", "avg_quality",
        F.round(share, 4).alias("token_share"),
        F.round(F.least(F.lit(1.0), target / share), 4).alias("sample_weight"),
    )


@wire_op("temperature_source_mix", tables=("t",),
         kwargs=("alpha", "text_col", "source_col", "allow_upsample",
                 "tokenizer"))
def temperature_source_mix(t: Table, alpha: float = 0.3,
                           text_col: str = "text",
                           source_col: str = "source",
                           allow_upsample: bool = False,
                           tokenizer=None) -> DataFrame:
    """Temperature-flattened mixture weights — the multilingual /
    multi-source α-sampling of mT5 and XLM-R (sample sources
    ∝ share^α): target token share ∝ actual_share^α, and
    ``sample_weight = min(1, target_share / actual_share)`` thins the
    over-represented sources toward the flattened mix WITHOUT
    upsampling.  ``alpha=1`` keeps the natural mix (every weight 1);
    ``alpha=0`` is :func:`source_mix`'s uniform plan.  Output schema
    composes directly with :func:`apply_source_mix` (deterministic
    md5-keyed execution — the whole chain stays oracle-checkable).

    ``allow_upsample=True`` (r12, VERDICT r11 #2) drops the min(1, ·)
    cap: ``sample_weight = target_share / actual_share`` can exceed 1
    for under-represented sources — mT5's actual regime, where
    low-resource languages REPEAT across epochs.  Execute such a plan
    with ``apply_source_mix(..., allow_upsample=True)`` (weights > 1
    explode into deterministic copies there; the default executor
    CLAMPS them at 1 — its long-documented weight≥1-keeps-all
    semantics — so the duplicates only materialize when the executor
    opts in too).

    ``tokenizer=`` (r13) accounts the shares in TRUE tokenizer tokens
    (the :func:`source_mix` semantics); ``None`` keeps the whitespace
    count byte-identical.

    Same topology as :func:`source_mix`: one map-side-combinable
    aggregation on the low-cardinality source key, then two
    non-partitioned windows over ~#sources rows."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(
            f"alpha must be in [0, 1], got {alpha}: sampling "
            "temperatures flatten toward uniform as alpha drops; "
            "above 1 they would sharpen the natural skew instead")
    feats = quality_features(t, text_col).df
    if tokenizer is not None:
        feats = feats.withColumn(
            "n_tokens", tokenizer.n_tokens(F.col(text_col)))
    per_source = feats.groupBy(source_col).agg(
        F.count(F.lit(1)).cast(T.LongType()).alias("n_docs"),
        F.sum("n_tokens").cast(T.LongType()).alias("total_tokens"),
    )
    from pyspark.sql.window import Window
    w = Window.partitionBy()
    share = F.col("total_tokens") / F.sum("total_tokens").over(w)
    powered = F.pow(share, F.lit(float(alpha)))
    target = powered / F.sum(powered).over(w)
    weight = (target / share if allow_upsample
              else F.least(F.lit(1.0), target / share))
    return per_source.select(
        source_col, "n_docs", "total_tokens",
        F.round(share, 4).alias("token_share"),
        F.round(target, 4).alias("target_share"),
        F.round(weight, 4).alias("sample_weight"),
    )


@wire_op("unimax_source_mix", tables=("t",),
         kwargs=("budget_tokens", "max_epochs", "text_col", "source_col",
                 "tokenizer"))
def unimax_source_mix(t: Table, budget_tokens: int,
                      max_epochs: float = 1.0,
                      text_col: str = "text",
                      source_col: str = "lang",
                      tokenizer=None) -> DataFrame:
    """UniMax mixture weights (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): distribute a total token ``budget_tokens`` across
    sources (languages) as UNIFORMLY as possible subject to a per-source
    repetition cap of ``max_epochs`` passes over its own data.  Unlike
    temperature sampling (:func:`temperature_source_mix`), which still
    over-samples head languages and over-repeats tail ones, UniMax is
    the water-filling solution: every source gets the same token
    allocation θ except those too small to absorb it, which saturate at
    ``max_epochs`` epochs — ``alloc_s = min(total_tokens_s·E, θ)`` with
    θ chosen so Σ alloc = budget.

    The closed form needs no iteration: with sources sorted by cap
    ascending, θ is the first rank i where
    ``(budget − Σ_{j<i} cap_j) / (n − i + 1) ≤ cap_i`` — computable with
    two global windows over the ~#sources-row relation, exactly the
    :func:`source_mix` topology (one map-side-combinable aggregation on
    the low-cardinality key, windows over a bounded relation; the corpus
    scan never shuffles on anything else).  If the budget exceeds the
    total available under the epoch cap (Σ cap ≤ budget) every source
    saturates and the budget is simply unreachable — allocations report
    what the cap permits, mirroring the paper's N > |D|·E regime.

    Output: ``(source, n_docs, total_tokens, cap_tokens, alloc_tokens,
    sample_weight)`` with ``sample_weight = alloc/total_tokens`` ∈
    (0, max_epochs] — round-4 exports like the temperature plan, and the
    same contract: execute with :func:`apply_source_mix` (pass
    ``allow_upsample=True`` whenever ``max_epochs > 1``, since tail
    sources then repeat).  ``tokenizer=`` accounts shares in true
    tokenizer tokens; ``None`` keeps the whitespace count.

    Every arithmetic step (long token counts, an ordered running sum,
    one division per rank) is IEEE-deterministic in a DuckDB window
    twin, so the whole plan — and its md5-keyed execution — stays
    oracle-checkable byte-for-byte.
    """
    if budget_tokens <= 0:
        raise ValueError(
            f"budget_tokens must be positive, got {budget_tokens}")
    if not 0.0 < float(max_epochs) <= _MAX_UPSAMPLE:
        raise ValueError(
            f"max_epochs must be in (0, {_MAX_UPSAMPLE}], got "
            f"{max_epochs}: the cap bounds how often a tail source "
            "repeats — 0 allocates nothing, and anything past the "
            "upsample bound is a corrupt plan, not a mixture")
    feats = quality_features(t, text_col).df
    if tokenizer is not None:
        feats = feats.withColumn(
            "n_tokens", tokenizer.n_tokens(F.col(text_col)))
    per_source = feats.groupBy(source_col).agg(
        F.count(F.lit(1)).cast(T.LongType()).alias("n_docs"),
        F.sum("n_tokens").cast(T.LongType()).alias("total_tokens"),
    )
    from pyspark.sql.window import Window
    cap = F.col("total_tokens") * F.lit(float(max_epochs))
    ranked = per_source.withColumn("cap", cap)
    # sorted-by-cap windows; ties broken on the source name so the
    # running sum visits rows in the same order on every engine
    order = Window.partitionBy().orderBy("cap", source_col)
    glob = Window.partitionBy()
    cum_before = F.coalesce(
        F.sum("cap").over(order.rowsBetween(Window.unboundedPreceding,
                                            -1)),
        F.lit(0.0))
    i = F.row_number().over(order)
    n = F.count(F.lit(1)).over(glob)
    theta_i = (F.lit(float(budget_tokens)) - cum_before) / (n - i + 1)
    staged = ranked.select(
        source_col, "n_docs", "total_tokens", "cap",
        i.alias("i"), theta_i.alias("theta_i"),
        (theta_i <= F.col("cap")).alias("valid"))
    first_valid = F.min(F.when(F.col("valid"), F.col("i"))).over(glob)
    with_fi = staged.withColumn("fi", first_valid)
    theta = F.max(F.when(F.col("i") == F.col("fi"),
                         F.col("theta_i"))).over(glob)
    with_theta = with_fi.withColumn("theta", theta)
    alloc = F.when(F.col("theta").isNull(), F.col("cap")) \
             .otherwise(F.least(F.col("cap"), F.col("theta")))
    return with_theta.select(
        source_col, "n_docs", "total_tokens",
        F.round(F.col("cap"), 4).alias("cap_tokens"),
        F.round(alloc, 4).alias("alloc_tokens"),
        F.round(alloc / F.col("total_tokens"), 4).alias("sample_weight"),
    )


URL_PATTERN = r"https?://[^\s]+"
DOMAIN_PATTERN = r"https?://([^/\s:?#]+)"


@wire_op("extract_urls", tables=("t",), kwargs=("text_col",))
def extract_urls(t: Table, text_col: str = "text") -> Table:
    """URL/domain signals (the CommonCrawl-style curation inputs): adds
    ``n_urls``, ``domains`` (lowercased host per URL, document order) and
    ``primary_domain`` (first URL's host, NULL when none).  Pure
    projection — regexp_extract_all + transform, RE2-and-Java-compatible
    patterns so the DuckDB oracle matches byte-for-byte."""
    c = F.col(text_col)
    urls = F.regexp_extract_all(c, F.lit(URL_PATTERN), F.lit(0))
    domains = F.transform(
        F.regexp_extract_all(c, F.lit(DOMAIN_PATTERN), F.lit(1)),
        F.lower)
    return Table(
        t.df.withColumns({
            "n_urls": F.size(urls).cast(T.IntegerType()),
            "domains": domains,
            "primary_domain": F.when(F.size(domains) > 0,
                                     F.element_at(domains, 1)),
        }),
        t._name,
    )


@wire_op("domain_mix", tables=("t",), kwargs=("text_col", "id_col"))
def domain_mix(t: Table, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-domain corpus composition: (domain, n_docs, n_mentions,
    doc_share) over every URL mention.  Explode -> one map-side
    combinable aggregation keyed by domain (near-uniform key space on a
    web corpus: hot domains are exactly what the report is FOR, and a
    count aggregation partial-merges, so they cost one row per task),
    then a broadcast of the scalar doc total for the share.

    Distinct domains on a crawl are O(1e8), so the share denominator is
    NOT computed with an unpartitioned window (that would funnel the
    whole per-domain relation through one task): it's a 1-row scalar
    aggregate broadcast-nested-loop-joined back.  Both branches share
    the groupBy("domain") exchange, which AQE/ReusedExchange dedupes,
    so the corpus is still scanned once."""
    ex = extract_urls(t, text_col).df.select(
        id_col, F.explode("domains").alias("domain"))
    agg = ex.groupBy("domain").agg(
        F.countDistinct(id_col).cast(T.LongType()).alias("n_docs"),
        F.count(F.lit(1)).cast(T.LongType()).alias("n_mentions"))
    total = agg.agg(F.sum("n_docs").alias("__total_docs"))
    return agg.crossJoin(F.broadcast(total)).select(
        "domain", "n_docs", "n_mentions",
        F.round(F.col("n_docs") / F.col("__total_docs"), 4)
         .alias("doc_share"))


@wire_op("blocklist_filter", tables=("t",),
         kwargs=("terms", "text_col", "mode"))
def blocklist_filter(t: Table, terms: list[str], text_col: str = "text",
                     mode: str = "drop") -> Table:
    """Drop (or keep-only, ``mode="keep"``) documents containing ANY
    blocklisted term, word-boundary matched and case-insensitive — the
    standard domain/word blocklist pass of a web-corpus build.

    Small lists compile into ONE alternation regex evaluated scan-side
    (pushable filter, no join, no explode); the terms are
    regex-escaped so blocklist entries are literals, not patterns.
    Blocklists are KBs even in production (the large-membership path is
    ``isin``'s broadcast semi-join on an exploded token column — use
    that when the list stops fitting a regex)."""
    import re as _re

    if mode not in ("drop", "keep"):
        raise ValueError("mode must be 'drop' or 'keep'")
    if not terms:
        return t
    if not all(isinstance(w, str) for w in terms):
        raise TypeError("blocklist_filter: terms must be strings")

    def _word(w: str) -> str:
        # \b only binds next to a WORD character: 'c++' needs no trailing
        # boundary (and \+\+\b would never match), 'spark' needs both
        p = _re.escape(w)
        if w and (w[0].isalnum() or w[0] == "_"):
            p = r"\b" + p
        if w and (w[-1].isalnum() or w[-1] == "_"):
            p = p + r"\b"
        return p

    pat = "(?i)(" + "|".join(_word(w) for w in terms) + ")"
    hit = F.col(text_col).rlike(pat)
    return Table(t.df.filter(~hit if mode == "drop" else hit), t._name)


def _commonness_schema(t, id_col, vocab_size, **_):
    """The remote form's schema: the local path runs an eager
    vocabulary-total collect, which must not fire at plan-construction
    time (it runs server-side at replay)."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    return T.StructType(
        [t.df.schema[id_col],
         T.StructField("n_tokens", T.IntegerType()),
         T.StructField("oov_rate", T.DoubleType()),
         T.StructField("commonness", T.DoubleType())])


@wire_op("token_commonness", tables=("t", "vocab"),
         kwargs=("text_col", "id_col", "vocab_size"),
         schema=_commonness_schema)
def token_commonness(t: Table, text_col: str = "text",
                     id_col: str = "doc_id", vocab_size: int = 50_000,
                     vocab: DataFrame | None = None) -> DataFrame:
    """Corpus-frequency commonness score per document — the integer-exact
    stand-in for CCNet-style LM-perplexity filtering: gibberish/boilerplate
    documents are dominated by tokens that are RARE (or absent) in the
    corpus-wide vocabulary, so a low mean corpus frequency / high OOV
    rate flags them without a language model.

    Output per doc: ``n_tokens``, ``oov_rate`` (tokens outside the
    top-``vocab_size`` vocabulary), ``commonness`` = Σ count(tok) /
    (n_tokens × total_vocab_tokens) — the mean in-vocabulary relative
    frequency of the doc's tokens, OOV counting 0 (the denominator is
    the vocabulary's own count total, so a supplied ``vocab`` is fully
    self-describing).

    Engine-portability by construction: the only floating-point step is
    ONE division of exact 64-bit integers per doc (the numerator is a
    sum of LONG counts — order-free, unlike a sum of doubles), so the
    DuckDB oracle reproduces every byte.  Vocabulary ties break on
    (count desc, token asc) — deterministic.

    Scale: two corpus scans (vocabulary build + scoring) — at 100 TB
    the vocabulary is built once per corpus snapshot and reused; pass
    ``vocab`` (a (tok, cnt) DataFrame) to skip the build.  The
    vocabulary (≤ ``vocab_size`` rows) broadcasts, so scoring adds NO
    shuffle beyond the per-doc aggregation; the token explode partial-
    aggregates map-side in both passes."""
    c = F.col(text_col)
    toks = t.df.select(F.col(id_col), F.explode(_tokens(c)).alias("tok"))
    if isinstance(vocab, Table):
        vocab = vocab.df
    if vocab is None:
        counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        # top-N via orderBy().limit() — Spark executes this as
        # TakeOrderedAndProject (per-partition top-N, then a bounded
        # merge), never a single-task sort of the full counts relation;
        # distinct tokens on a web corpus are O(1e9) (UUIDs, typos,
        # code identifiers), so an unpartitioned row_number window here
        # would be the straggler.  (cnt desc, tok asc) fully orders the
        # relation, so ties stay deterministic.
        vocab = (counts.orderBy(F.col("cnt").desc(), F.col("tok"))
                 .limit(vocab_size))
    total = vocab.agg(F.sum("cnt")).collect()[0][0] or 1
    scored = (toks.join(F.broadcast(vocab), "tok", "left")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.sum(F.when(F.col("cnt").isNull(), 1).otherwise(0))
                   .alias("n_oov"),
                   F.sum(F.coalesce(F.col("cnt"), F.lit(0)))
                   .cast(T.LongType()).alias("cnt_sum")))
    return scored.select(
        F.col(id_col),
        F.col("n_tokens").cast(T.IntegerType()).alias("n_tokens"),
        (F.round(F.col("n_oov") / F.col("n_tokens"), 4) + F.lit(0.0))
        .alias("oov_rate"),
        (F.round(F.col("cnt_sum")
                 / (F.col("n_tokens") * F.lit(float(total))), 8)
         + F.lit(0.0)).alias("commonness"),
    )


@wire_op("corpus_report", tables=("t",),
         kwargs=("text_col", "source_col"))
def corpus_report(t: Table, text_col: str = "text",
                  source_col: str = "source") -> DataFrame:
    """One-row corpus profile — the first thing anyone runs on a new
    crawl: doc/source counts, token totals, English share (language-ID),
    exact-duplicate rate (normalized fingerprints), median quality and
    p90 token count (exact percentiles, matching DuckDB quantile_cont).

    One scan feeds one global aggregation: every input to the agg
    (language, quality, fingerprint) is a scan-side projection, and the
    multi-DISTINCT aggregate (fingerprints, sources) lowers to Catalyst's
    Expand — a single-row result, so the final exchange is trivial."""
    from .text import fingerprint, language_id, quality_features

    feats = fingerprint(quality_features(language_id(t, text_col),
                                         text_col), text_col).df
    return feats.agg(
        F.count(F.lit(1)).cast(T.LongType()).alias("n_docs"),
        F.countDistinct(source_col).cast(T.LongType()).alias("n_sources"),
        F.sum("n_tokens").cast(T.LongType()).alias("total_tokens"),
        F.round(F.avg((F.col("pred_lang") == "en").cast("double")), 4)
         .alias("en_share"),
        F.round(1.0 - F.countDistinct("fingerprint") / F.count(F.lit(1)), 4)
         .alias("dup_rate"),
        F.round(F.percentile("quality", F.lit(0.5)), 4)
         .alias("median_quality"),
        F.round(F.percentile("n_tokens", F.lit(0.9)), 4)
         .alias("p90_tokens"),
    )


def _checked_plan(weights, source_col: str, bound: float, over: str):
    """The plan relation with its weights validated executor-side: a
    NULL weight or one above ``bound`` raises during the broadcast
    build (assert_true inside a predicate is never pruned, unlike an
    unused projected column)."""
    if isinstance(weights, Table):
        weights = weights.df
    w = F.col("sample_weight")
    return weights.select(source_col, "sample_weight").filter(
        F.assert_true(w.isNotNull(), F.concat(
            F.lit("apply_source_mix: weights row for source "),
            F.coalesce(F.col(source_col).cast("string"), F.lit("NULL")),
            F.lit(" has NULL sample_weight — a mixture plan must carry "
                  "a weight for every listed source"))).isNull()
        & F.assert_true(w.isNull() | (w <= F.lit(bound)), F.concat(
            F.lit("apply_source_mix: sample_weight "),
            w.cast("string"), F.lit(over))).isNull())


@wire_op("apply_source_mix", tables=("t",),
         relations={"weights": (
             _MAX_BUCKETS,
             lambda df, a: df.select(a["source_col"], "sample_weight"))},
         kwargs=("source_col", "id_col", "seed", "allow_upsample"))
def apply_source_mix(t: Table, weights: DataFrame,
                     source_col: str = "source", id_col: str = "doc_id",
                     seed: int = 42,
                     allow_upsample: bool = False) -> Table:
    """Execute a mixture plan: keep each document with its source's
    ``sample_weight`` probability (the output of :func:`source_mix`, or
    any (source, sample_weight) relation).

    ``allow_upsample=True`` (r12, VERDICT r11 #2) additionally REPEATS
    documents whose source weight exceeds 1 — the mT5 regime where
    low-resource sources recur across epochs.  Weight w explodes into
    ``floor(w)`` unconditional copies plus one fractional copy kept by
    the same deterministic md5 decision, so E[copies] = w exactly; the
    output gains a 0-based ``copy_idx`` INT column (the epoch index a
    packing stage can shuffle on) and remains a pure deterministic
    projection — same hash, same multiset, on every re-run and engine.
    The explode is doc-bounded (``floor(w)+1`` rows per doc) and the
    plan relation is validated executor-side: any weight above
    ``_MAX_UPSAMPLE`` raises during the broadcast build rather than
    quietly exploding a corpus by six orders of magnitude.  With the
    default ``allow_upsample=False`` the schema and semantics are
    byte-identical to r11 for CAPPED plans (weights of exactly 1 keep
    all rows, once) — but a plan carrying any ``sample_weight > 1``
    now RAISES (r13, VERDICT r12 #2): an upsampling plan
    (``temperature_source_mix(allow_upsample=True)`` output) hitting
    the clamping executor used to silently keep-once, a distribution
    shift the caller never asked for.  The raise is executor-side in
    the same broadcast-build filter as the upsample bound, and names
    the ``allow_upsample=`` knob.

    The weights relation is ~#sources rows and is explicitly broadcast, so
    the corpus scan filters in place — no shuffle.  The keep decision is
    a hash of the id, NOT ``F.rand()``: hashing makes the sample a pure
    deterministic projection — reproducible across retries, re-runs and
    executors, exactly what an auditable training-data build needs
    (rand() re-rolls per task attempt, so a recomputed partition would
    keep a different subset).  The hash is the same engine-portable md5
    scheme as ``Table.hash_sample`` (first 8 hex chars against the
    weight's share of the hex space, compared as strings), so the whole
    mixture execution is DuckDB-oracle-checkable.

    NULL ids hash through the same ``__null__`` sentinel as
    ``Table.hash_sample`` (ADVICE r6): they form one key group that is
    kept or dropped together, instead of ``md5(NULL) -> NULL`` silently
    dropping every null-id row at fractional weights.  Documents whose
    source has no row in ``weights`` are DROPPED (inner join) — the
    mixture plan is the allowlist; pass a weights relation with a
    ``sample_weight=1.0`` catch-all row if unlisted sources should
    pass through.
    """
    u = F.substring(
        F.md5(F.concat(
            F.coalesce(F.col(id_col).cast("string"), F.lit("__null__")),
            F.lit(f"-{seed}"))),
        1, 8)
    # weight >= 1 keeps unconditionally: its hex threshold would be 9
    # chars ("100000000"), which string-compares BELOW letter-leading
    # hashes — the same cliff Table.hash_sample short-circuits
    # explicit floor(): Spark's double->long cast truncates but DuckDB's
    # CAST rounds — floor() agrees everywhere.  Weights <= 0 must drop
    # everything: hex() of floor()'s negative long is a 16-char
    # two's-complement string that lpad TRUNCATES to 'ffffffff', which
    # would silently invert a corrupt mixture plan into keep-all.
    w = F.col("sample_weight")
    if not allow_upsample:
        # fail-loud on an upsampling plan (VERDICT r12 #2): silently
        # clamping a >1 weight to keep-once is a distribution shift,
        # not an execution.  1 + 1e-9 tolerates round-4 plan exports
        # of exactly 1; executor-side assert_true in the broadcast
        # relation's filter (the _MAX_UPSAMPLE pattern) so corrupt
        # plans raise at the broadcast build, never prune away.
        checked = _checked_plan(
            weights, source_col, 1.0 + 1e-9,
            " exceeds 1 — this is an UPSAMPLING plan; execute it with "
            "apply_source_mix(..., allow_upsample=True) instead of "
            "letting the default executor clamp it to keep-once")
        thr = F.lpad(F.lower(F.hex(F.floor(w * F.lit(float(16 ** 8))))),
                     8, "0")
        joined = t.df.join(F.broadcast(checked), source_col)
        kept = joined.filter(
            (w >= 1.0) | ((w > 0.0) & (u < thr))).drop("sample_weight")
        return Table(kept, t._name)
    # upsampling path: floor(w) unconditional copies + one fractional
    # copy under the SAME md5 keep decision.  The fractional threshold
    # is over w − floor(w), so frac == 0 yields "00000000", which no
    # 8-hex hash sorts below — sequence(0, floor(w)) is then uniform
    # (the last candidate simply never survives).  Weight sanity runs
    # executor-side in the plan relation's filter (assert_true inside
    # a predicate is never pruned, unlike an unused projected column),
    # ~#sources rows, so a corrupt plan raises at the broadcast build.
    checked = _checked_plan(
        weights, source_col, float(_MAX_UPSAMPLE),
        f" exceeds the upsample bound {_MAX_UPSAMPLE} — is this a "
        "mixture plan?")
    frac = w - F.floor(w)
    thr = F.lpad(F.lower(F.hex(F.floor(frac * F.lit(float(16 ** 8))))),
                 8, "0")
    joined = t.df.join(F.broadcast(checked), source_col)
    cand = joined.filter(w > 0.0).withColumn(
        "copy_idx",
        F.explode(F.sequence(F.lit(0),
                             F.floor(w).cast(T.IntegerType()))))
    kept = cand.filter((F.col("copy_idx") < F.floor(w)) | (u < thr)) \
        .drop("sample_weight")
    return Table(kept, t._name)


# any weight above this is a corrupt plan, not a mixture: even mT5's
# most aggressive low-resource rebalances repeat sources O(100)×
_MAX_UPSAMPLE = 10_000
