"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of these at 100 TB):

- **Exact / normalized**: hash-groupBy on an md5 fingerprint — one shuffle
  keyed by a uniformly distributed 128-bit hash (no skew), map-side partial
  aggregation free from Catalyst.
- **MinHash+LSH**: shingle hashes explode into a codegen'd 32-min hash
  aggregation (map-side partial agg collapses back to one row per doc
  before the shuffle).  Candidate generation is bucket-local: degenerate
  buckets (boilerplate shared by millions of docs) are blacklisted via a
  BROADCAST anti join (the count pass shuffles only the bucket keys), then
  ONE groupBy gathers each bucket (size capped by ``max_bucket``) and the
  i<j pairs are generated inside the array — no self-join, no second big
  shuffle.
- **SimHash**: one explode over tokens, then the 64 per-bit set-counts
  packed as 16 lane-sums (4x16-bit counters per long, branchless; shuffle
  carries 17 longs per doc); pairs via pigeonhole banding on 16-bit chunks
  with the same broadcast-blacklist + in-bucket pairing as MinHash.
- **n-gram Jaccard**: exact verification on candidate pairs only — never
  all-pairs.

All-pairs anything is absent by construction.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import carry, owned_cache
from ..core import Table
from ..wire import local_only, wire_op


# Mersenne prime 2^31-1: (a*h+b) stays under 2^62 — no 64-bit overflow,
# safe under ANSI arithmetic.
_P = 2_147_483_647


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition by ``key`` ONLY when the scan would under-parallelize
    (small/single-file inputs — one task does all the per-row-heavy work).

    Metadata-only estimate: file list + local file sizes vs
    ``maxPartitionBytes``.  Deliberately avoids ``df.rdd.getNumPartitions()``
    — the RDD conversion compiles the physical plan on the driver (~1s per
    call).  At scale (many files, or files larger than maxPartitionBytes)
    the scan already parallelizes and no shuffle is added.
    """
    import os

    if df.isStreaming:
        # streaming logical plans have no resolvable file list
        # (inputFiles() raises) and micro-batch parallelism is the
        # source's concern — pass through untouched
        return df
    spark = df.sparkSession
    npart = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        # no file scan under this plan (in-memory relation, empty wire
        # schema frame): nothing to respread — local relations evaluate
        # where they are, and adding an Exchange only breaks the
        # shuffle-free pins of literal-map scoring paths (r15)
        return df
    if len(files) >= npart:
        return df
    try:
        mpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes")
                  .removesuffix("b"))
    except Exception:
        mpb = 128 * 1024 * 1024
    est = len(files)
    for f in files:
        if f.startswith("file:"):
            try:
                sz = os.path.getsize(f.split(":", 1)[1])
                est += max(0, (sz - 1) // mpb)
            except OSError:
                pass
        else:
            # remote store: real size via the Hadoop FS (VERDICT r2 #6 —
            # a guessed constant made many-small-remote-file stores skip
            # the respread).  At most npart-1 stat calls by construction.
            from ..fsutil import file_len

            sz = file_len(spark, f)
            if sz is not None:
                est += max(0, (sz - 1) // mpb)
            else:
                # no FS handle (Connect): assume the planner splits it
                est += 7
    if est < npart:
        return df.repartition(npart, key)
    return df


def _shingle_hash_parts(df: DataFrame, text_col: str, k: int,
                        reduce_mod_p: bool = True,
                        max_tokens: int | None = None
                        ) -> tuple[DataFrame, Column]:
    """Distinct k-shingle hashes per doc, as (step_df, array_expr) — the
    caller composes the expression into its OWN select (inline into an
    explode(), or alias it as an array column).

    Two placement rules, both measured at sf1 (50k docs, warm, local[32];
    PLANS.md "Shingle-hash placement"):

    1. The TOKEN-hash array must be its own projection (``step_df``):
       array higher-order functions are interpreted and Catalyst does not
       CSE a transform() referenced five times inside the outer lambda —
       inlined, the token hashes are re-derived per shingle and the plan
       runs 4x slower than the k-word-string form it replaces.
    2. The SHINGLE array expression must be composed inline into the
       consuming select: projecting it to a column first and feeding
       ``explode(col)`` measured 26 s vs 0.5 s for the identical inline
       generator — 50x.

    With both respected this is 3.8x faster than string shingles
    (2.3 s -> 0.6 s): each token is hashed ONCE, and k consecutive
    token-hashes combine as one xxhash64 TUPLE — no k-word string is ever
    built.  Docs shorter than k tokens fall back to one whole-row hash.

    ``reduce_mod_p`` applies ``pmod(_, _P)`` so values fit the universal
    hash family the minhash permutations need.  Consumers that COMPARE
    shingle sets directly (exact-Jaccard verification) must pass False:
    reducing 64-bit hashes to 2^31-1 space materially raises collision
    probability — two ~10k-shingle docs would see ~50 expected spurious
    intersections, inflating Jaccard scores (ADVICE r5).

    ``max_tokens`` (opt-in, r9) shingles only the first N tokens — the
    standard giant-document bound: shingle count (and the explode that
    follows) stops growing with doc length, leveling doc-size skew
    across scan tasks.  Signatures over docs shorter than the cap are
    IDENTICAL to the uncapped form, so the default (None) preserves
    every stored signature."""
    tokens = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    if max_tokens is not None:
        tokens = F.slice(tokens, 1, max_tokens)
    step = df.select(
        "doc_id",
        F.transform(tokens, lambda t: F.xxhash64(t)).alias("__th"))
    th = F.col("__th")
    n = F.size(th) - F.lit(k - 1)

    def _h(c: Column) -> Column:
        return F.pmod(c, F.lit(_P)) if reduce_mod_p else c

    shingle = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: _h(F.xxhash64(*[th[i + j] for j in range(k)]))),
    ).otherwise(F.array(_h(F.xxhash64(
        F.concat_ws(",", F.transform(th, lambda x: x.cast("string")))))))
    return step, F.array_distinct(shingle)


def _shingle_hash_df(df: DataFrame, text_col: str, k: int,
                     out: str = "sh") -> DataFrame:
    """(doc_id, <out>: array<long>) — column form of the UNREDUCED 64-bit
    shingle hashes, for consumers that compare/intersect the sets (ngram
    Jaccard verification — full 64-bit space keeps spurious-intersection
    probability negligible).  Explode consumers must inline via
    :func:`_shingle_hash_parts` (rule 2)."""
    step, sh = _shingle_hash_parts(df, text_col, k, reduce_mod_p=False)
    return step.select("doc_id", sh.alias(out))


@wire_op("exact_dedup", tables=("t",), kwargs=("text_col", "id_col"))
def exact_dedup(t: Table, text_col: str = "text", id_col: str = "doc_id") -> Table:
    """Exact dedup: hash-groupBy on md5(text); keeper = min id per group."""
    return Table(
        t.df.groupBy(F.md5(F.encode(F.col(text_col), "UTF-8")).alias("fingerprint"))
        .agg(F.min(id_col).alias("keeper_id"),
             F.count(F.lit(1)).alias("n_copies")),
        t._name,
    )


@wire_op("normalized_dedup", tables=("t",),
         kwargs=("text_col", "id_col"))
def normalized_dedup(t: Table, text_col: str = "text", id_col: str = "doc_id") -> Table:
    """Exact dedup after canonicalization (lowercase, collapse whitespace)."""
    canon = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return Table(
        t.df.groupBy(F.md5(F.encode(canon, "UTF-8")).alias("fingerprint"))
        .agg(F.min(id_col).alias("keeper_id"),
             F.count(F.lit(1)).alias("n_copies")),
        t._name,
    )


@wire_op("cross_doc_dup_lines", tables=("t",),
         kwargs=("text_col", "id_col", "min_chars", "scrub"))
def cross_doc_dup_lines(t: Table, text_col: str = "text",
                        id_col: str = "doc_id", min_chars: int = 1,
                        scrub: bool = False) -> Table:
    """Cross-document LINE dedup — the Spark-friendly granularity of
    Lee et al. 2021's exact-substring deduplication ("Deduplicating
    Training Data Makes Language Models Better"): boilerplate
    (headers, footers, license blocks, navigation) repeats VERBATIM
    across documents line-by-line, and removing it measurably improves
    LMs.  Suffix arrays don't distribute; line granularity catches the
    dominant share of verbatim repetition with two hash-aggregations.

    Scoring mode (default): per document adds ``n_lines`` (non-blank,
    ≥ ``min_chars`` after trim), ``n_dup_lines`` (lines whose trimmed
    text appears in MORE THAN ONE distinct document), ``dup_line_frac``
    — the corpus-wide complement of ``repetition_features``'s
    within-document ``dup_line_frac``.

    ``scrub=True`` instead RETURNS the cleaned corpus: ``clean_text``
    rebuilt from each document's non-cross-duplicated lines in original
    order (blank/short lines are kept — they carry formatting, not
    boilerplate).  A document consisting ENTIRELY of cross-duplicated
    lines disappears from the scrubbed output — it was pure boilerplate
    (anti-join the input on ``id_col`` to enumerate the dropped docs).

    Topology (100 TB): explode lines with position → distinct (line
    md5, doc) pairs → count per hash (both aggregations partial-combine
    map-side; keys are high-cardinality line hashes, no skew) →
    equi-join the per-hash doc-counts back on the hash (shuffle on the
    same key — co-partitioned with the counts) → per-doc aggregate, or
    for scrub a per-DOC window ordered by line position (bounded by
    document length).  No driver materialization anywhere.
    """
    if min_chars < 0:
        raise ValueError(f"min_chars must be >= 0, got {min_chars}")
    # no _spread here: the line split is cheap string work (no
    # interpreted HOFs) — r15 measured the respread LOSING 0.3 s at
    # sf0.1 (1.01 -> 1.34 s); the gram-explode siblings keep theirs
    pos_lines = (t.df
                 .select(F.col(id_col), F.col(text_col),
                         F.posexplode(F.split(F.col(text_col), "\n"))
                         .alias("__pos", "__line"))
                 .withColumn("__key", F.md5(F.encode(
                     F.trim(F.col("__line")), "UTF-8")))
                 .withColumn("__scored",
                             F.length(F.trim(F.col("__line")))
                             >= min_chars))
    counts = (pos_lines.filter("__scored")
              .select("__key", F.col(id_col).alias("__doc"))
              .distinct()
              .groupBy("__key")
              .agg(F.count(F.lit(1)).alias("__ndocs")))
    joined = (pos_lines.join(counts, "__key", "left")
              .withColumn("__dup", F.col("__scored")
                          & (F.coalesce(F.col("__ndocs"), F.lit(0)) > 1)))
    if not scrub:
        out = (joined.groupBy(id_col)
               .agg(F.sum(F.col("__scored").cast("int"))
                    .cast("int").alias("n_lines"),
                    F.sum(F.col("__dup").cast("int"))
                    .cast("int").alias("n_dup_lines"))
               .withColumn("dup_line_frac",
                           F.round(F.when(F.col("n_lines") > 0,
                                          F.col("n_dup_lines")
                                          / F.col("n_lines"))
                                   .otherwise(F.lit(0.0)), 4) + F.lit(0.0)))
        return Table(out, t._name)
    # original order restored via array_sort over (pos, line) structs —
    # the same doc-bounded reassembly pattern as ivf._cell_means; the
    # per-doc group is bounded by document length, never corpus size
    kept = (joined.filter(~F.col("__dup"))
            .groupBy(id_col)
            .agg(F.array_sort(F.collect_list(
                F.struct("__pos", "__line"))).alias("__pl"))
            .select(F.col(id_col),
                    F.array_join(
                        F.transform("__pl", lambda s: s["__line"]), "\n")
                    .alias("clean_text")))
    return Table(kept, t._name)


@wire_op("cross_doc_dup_ngrams", tables=("t",),
         kwargs=("n", "min_docs", "text_col", "id_col", "scrub"))
def cross_doc_dup_ngrams(t: Table, n: int = 5, min_docs: int = 2,
                         text_col: str = "text", id_col: str = "doc_id",
                         scrub: bool = False) -> Table:
    """Cross-document duplicated n-gram SPANS — Lee et al. 2021's
    exact-substring deduplication at token-window granularity, the step
    between :func:`cross_doc_dup_lines` (verbatim whole lines) and
    MinHash (whole-document near-dups): a span that repeats across
    documents is counted/removed even when it sits mid-line inside
    otherwise-unique text (inlined licenses, quoted passages, templated
    sentences).  Suffix arrays don't distribute; fixed-width n-gram
    windows catch every verbatim repeat of ≥ n tokens with two
    hash-aggregations and one co-partitioned join.

    Scoring mode (default): per document ``n_tokens``, ``dup_tokens``
    (distinct token positions covered by ANY n-gram window whose md5
    appears in ≥ ``min_docs`` distinct documents), and
    ``dup_token_frac`` (round-4) — the Lee et al. "fraction of tokens
    in a duplicated span" signal a pipeline thresholds on.

    ``scrub=True`` RETURNS the cleaned corpus instead: ``clean_text``
    rebuilt from each document's uncovered tokens in original order
    (single-space joined — the family's whitespace-normalized token
    identity).  A document whose every token is covered disappears from
    the scrubbed output, like a pure-boilerplate document in
    :func:`cross_doc_dup_lines`.

    Topology (100 TB): n-gram START INDEX explode with gram strings
    sliced from the carried token array in codegen (the lm.py builders)
    → distinct (gram md5, doc) pairs → per-hash distinct-doc counts
    (both aggregations partial-combine map-side) → the ≥ min_docs keys
    only equi-join back on the hash (co-partitioned with the counts)
    → window positions explode → per-doc aggregate (scoring) or a
    (doc, pos) anti-join + doc-bounded reassembly (scrub — the same
    array_sort pattern as the line scrub).  No driver materialization.
    """
    from .curation import _tokens
    from .lm import _gram_at, _gram_index

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 2:
        raise ValueError(
            f"min_docs must be >= 2 (cross-document), got {min_docs}")
    tk = _tokens(F.col(text_col))
    base = _spread(t.df, id_col).select(F.col(id_col), tk.alias("__tk"))
    pos = base.select(
        F.col(id_col), F.col("__tk"),
        F.explode(_gram_index(F.col("__tk"), n)).alias("__i"))
    pos = pos.select(
        F.col(id_col), F.col("__tk"), F.col("__i"),
        F.md5(F.encode(_gram_at(F.col("__tk"), F.col("__i"), n),
                       "UTF-8")).alias("__key"))
    dup_keys = (pos.select("__key", F.col(id_col).alias("__doc"))
                .distinct()
                .groupBy("__key")
                .agg(F.count(F.lit(1)).alias("__ndocs"))
                .filter(F.col("__ndocs") >= min_docs)
                .select("__key"))
    covered = (pos.join(dup_keys, "__key")
               .select(F.col(id_col),
                       F.explode(F.sequence(
                           F.col("__i"),
                           F.col("__i") + F.lit(n - 1))).alias("__p")))
    if not scrub:
        per_doc = (covered.groupBy(id_col)
                   .agg(F.count_distinct(F.col("__p"))
                        .cast("int").alias("dup_tokens")))
        out = (base
               .select(F.col(id_col),
                       F.size(F.col("__tk")).cast("int")
                       .alias("n_tokens"))
               .join(per_doc, id_col, "left")
               .select(F.col(id_col), F.col("n_tokens"),
                       F.coalesce(F.col("dup_tokens"), F.lit(0))
                       .alias("dup_tokens"))
               .withColumn("dup_token_frac",
                           F.round(F.when(F.col("n_tokens") > 0,
                                          F.col("dup_tokens")
                                          / F.col("n_tokens"))
                                   .otherwise(F.lit(0.0)), 4)
                           + F.lit(0.0)))
        return Table(out, t._name)
    toks = base.select(
        F.col(id_col),
        F.posexplode(F.col("__tk")).alias("__p0", "__tok"))
    # positions are 1-based window starts; posexplode is 0-based
    toks = toks.select(F.col(id_col),
                       (F.col("__p0") + 1).alias("__p"), F.col("__tok"))
    kept = (toks.join(covered.distinct(), [id_col, "__p"], "anti")
            .groupBy(id_col)
            .agg(F.array_sort(F.collect_list(
                F.struct("__p", "__tok"))).alias("__pt"))
            .select(F.col(id_col),
                    F.concat_ws(" ",
                                F.transform("__pt", lambda s: s["__tok"]))
                    .alias("clean_text")))
    return Table(kept, t._name)


@wire_op("cross_doc_dup_spans", tables=("t",),
         kwargs=("n", "min_docs", "text_col", "id_col"))
def cross_doc_dup_spans(t: Table, n: int = 5, min_docs: int = 2,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> Table:
    """MAXIMAL cross-document duplicated spans — the auditor's view of
    :func:`cross_doc_dup_ngrams` (VERDICT r13 missing #2): instead of
    one per-doc coverage fraction, report each contiguous duplicated
    REGION as a row, the granularity Lee et al. 2021's suffix-array
    form reports (maximal duplicated substrings ≥ a token threshold).
    Fixed-n windows whose md5 repeats in ≥ ``min_docs`` distinct
    documents are merged per document when their coverage overlaps or
    touches (gaps-and-islands), so a verbatim 300-token license block
    surfaces as ONE (span_start, span_len = 300) row, not 296
    anonymous windows folded into a fraction.

    Output per span: ``span_start`` (1-based token position),
    ``span_len`` (tokens), ``n_windows`` (constituent duplicated
    windows), and ``n_docs`` — the EXACT number of distinct documents
    carrying this same maximal region (r15, VERDICT r14 #3; previously
    the min window multiplicity, an upper bound).  Each span gets a
    FINGERPRINT — the ordered (relative window offset, window md5)
    sequence of its island, which determines the span text exactly:
    same fingerprint ⟺ same duplicated region — and ``n_docs`` counts
    distinct documents per fingerprint.  A document that embeds this
    region inside a strictly LONGER duplicated region reports the
    longer span instead (popularity mass is partitioned across span
    rows, never double-counted).  Sorted consumers get a deterministic
    ORDER BY (doc, span_start) from the caller.

    Topology (100 TB): the same two map-side-combinable hash
    aggregations and co-partitioned join-back as the scoring mode,
    then ONE window function partitioned BY DOCUMENT (running max of
    window end → island ids → per-island aggregate; the island
    aggregate reuses the doc partitioning — no extra exchange), and
    ONE exchange on the span fingerprint for the distinct-doc count —
    a window over the BOUNDED span relation (partition size = carriers
    of one span), never the token-window relation.  No global sort, no
    driver materialization.
    """
    from pyspark.sql import Window

    from .curation import _tokens
    from .lm import _gram_at, _gram_index

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 2:
        raise ValueError(
            f"min_docs must be >= 2 (cross-document), got {min_docs}")
    tk = _tokens(F.col(text_col))
    pos = (_spread(t.df, id_col)
           .select(F.col(id_col), tk.alias("__tk"))
           .select(F.col(id_col), F.col("__tk"),
                   F.explode(_gram_index(F.col("__tk"), n)).alias("__i"))
           .select(F.col(id_col), F.col("__i"),
                   F.md5(F.encode(
                       _gram_at(F.col("__tk"), F.col("__i"), n),
                       "UTF-8")).alias("__key")))
    dup_keys = (pos.select("__key", F.col(id_col).alias("__doc"))
                .distinct()
                .groupBy("__key")
                .agg(F.count(F.lit(1)).alias("__ndocs"))
                .filter(F.col("__ndocs") >= min_docs)
                .select("__key"))
    hits = (pos.join(dup_keys, "__key")
            .select(F.col(id_col), F.col("__i"), F.col("__key")))
    w = Window.partitionBy(id_col).orderBy("__i")
    prev_end = F.max(F.col("__i") + F.lit(n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    # a window extends the island when its coverage overlaps or
    # TOUCHES the running covered end (start <= end + 1: adjacent
    # windows produce contiguous covered positions)
    flagged = hits.select(
        F.col(id_col), F.col("__i"), F.col("__key"),
        F.when(prev_end.isNull()
               | (F.col("__i") > prev_end + 1), 1)
        .otherwise(0).alias("__new"))
    islands = flagged.select(
        F.col(id_col), F.col("__i"), F.col("__key"),
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__island"))
    agged = (islands.groupBy(id_col, "__island")
             .agg(F.min("__i").alias("__s"),
                  F.max("__i").alias("__e"),
                  F.count(F.lit(1)).cast("int").alias("n_windows"),
                  F.array_sort(F.collect_list(
                      F.struct("__i", "__key"))).alias("__wk")))
    # fingerprint = md5 over the ordered (relative offset, window md5)
    # sequence — identical fingerprint ⟺ identical span text (the
    # window hashes at their relative offsets determine every token)
    spans = agged.select(
        F.col(id_col),
        F.col("__s").cast("int").alias("span_start"),
        (F.col("__e") + F.lit(n) - F.col("__s")).cast("int")
        .alias("span_len"),
        F.col("n_windows"),
        F.md5(F.concat_ws("|", F.transform(
            "__wk",
            lambda s: F.concat_ws(
                ":", (s["__i"] - F.col("__s")).cast("string"),
                s["__key"])))).alias("__fp"))
    out = (spans.withColumn(
               "n_docs",
               F.size(F.collect_set(F.col(id_col))
                      .over(Window.partitionBy("__fp"))).cast("int"))
           .drop("__fp"))
    return Table(out, t._name)


@wire_op("dup_span_popularity", tables=("t",),
         kwargs=("n", "text_col", "id_col"))
def dup_span_popularity(t: Table, n: int = 5, text_col: str = "text",
                        id_col: str = "doc_id") -> Table:
    """The ``min_docs`` threshold sweep for the exact-substring family
    (ROADMAP #10) — ONE corpus pass answering "what would each
    popularity threshold remove?" so an auditor picks ``min_docs``
    from the mass curve instead of guessing: one row per observed
    duplication level with the CUMULATIVE-at-threshold view —
    ``n_dup_grams`` (distinct duplicated n-grams repeating in ≥
    min_docs documents), ``n_dup_windows`` (their window occurrences)
    and ``n_docs`` (documents containing at least one such window).

    Shape: the family's two hash aggregations once, then three tiny
    histograms (per-gram level, per-window level, per-doc MAX level —
    a doc counts at threshold k iff its strongest duplication level
    reaches k, which makes the distinct-doc count summable) and one
    reverse-running-sum window over the merged histogram.  That final
    window is a single partition ON PURPOSE: its input is one row per
    DISTINCT duplication level — bounded by the corpus' multiplicity
    spectrum, thousands at worst — never a per-document or per-gram
    relation."""
    from pyspark.sql import Window

    from .curation import _tokens
    from .lm import _gram_at, _gram_index

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    tk = _tokens(F.col(text_col))
    pos = (_spread(t.df, id_col)
           .select(F.col(id_col), tk.alias("__tk"))
           .select(F.col(id_col), F.col("__tk"),
                   F.explode(_gram_index(F.col("__tk"), n)).alias("__i"))
           .select(F.col(id_col),
                   F.md5(F.encode(
                       _gram_at(F.col("__tk"), F.col("__i"), n),
                       "UTF-8")).alias("__key")))
    # SCOPED caches keep this at the family's two corpus scans: three
    # histograms consume dup_keys/hits, and without the cache each
    # branch re-derives the tokenize+explode subtree (measured: FIVE
    # parquet scans in the naive plan).  dup_keys caches the one-row-
    # per-duplicated-gram relation; the per-(doc, level) window counts
    # cache is ≤ one row per (doc, level) — both far below the
    # token-window relation, and both released with the result.
    dup_keys = (pos.select("__key", F.col(id_col).alias("__doc"))
                .distinct()
                .groupBy("__key")
                .agg(F.count(F.lit(1)).alias("__ndocs"))
                .filter(F.col("__ndocs") >= 2))
    per_doc_level = (pos.join(dup_keys, "__key")
                     .groupBy(id_col, "__ndocs")
                     .agg(F.count(F.lit(1)).alias("__w")))
    with owned_cache(dup_keys) as keys_c, \
            owned_cache(per_doc_level) as level_c:
        gram_h = (dup_keys.groupBy("__ndocs")
                  .agg(F.count(F.lit(1)).alias("__g")))
        win_h = (per_doc_level.groupBy("__ndocs")
                 .agg(F.sum("__w").alias("__w")))
        doc_h = (per_doc_level.groupBy(id_col)
                 .agg(F.max("__ndocs").alias("__ndocs"))
                 .groupBy("__ndocs")
                 .agg(F.count(F.lit(1)).alias("__d")))
        merged = (gram_h
                  .join(win_h, "__ndocs", "full")
                  .join(doc_h, "__ndocs", "full")
                  .select(F.col("__ndocs"),
                          F.coalesce("__g", F.lit(0)).alias("__g"),
                          F.coalesce("__w", F.lit(0)).alias("__w"),
                          F.coalesce("__d", F.lit(0)).alias("__d")))
        w = (Window.orderBy(F.col("__ndocs").desc())
             .rowsBetween(Window.unboundedPreceding, 0))
        out = merged.select(
            F.col("__ndocs").cast("int").alias("min_docs"),
            F.sum("__g").over(w).cast("long").alias("n_dup_grams"),
            F.sum("__w").over(w).cast("long").alias("n_dup_windows"),
            F.sum("__d").over(w).cast("long").alias("n_docs"))
        return level_c.transfer(keys_c.transfer(Table(out, t._name)))


@local_only
def minhash_signatures(t: Table, text_col: str = "text", id_col: str = "doc_id",
                       num_perm: int = 32, shingle_k: int = 5,
                       seed: int = 42,
                       max_tokens: int | None = None) -> Table:
    """MinHash signature per document: token-hash tuples → shingle hashes
    (see :func:`_shingle_hash_parts`) → num_perm universal-hash
    permutations → per-permutation min.  The shingle set never leaves the
    row: the explode's generator is inlined, and map-side partial
    aggregation collapses it back to one row per doc before the shuffle."""
    rng = random.Random(seed)
    a = [rng.randrange(1, _P) for _ in range(num_perm)]
    b = [rng.randrange(0, _P) for _ in range(num_perm)]

    # explode distinct shingle hashes, then one hash-aggregate computing all
    # num_perm mins — fully whole-stage-codegen'd (array higher-order
    # functions are interpreted per element and were ~10x slower here).
    # Scale: rows of one doc are colocated in the scan partition, so
    # Catalyst's map-side partial aggregation collapses the explosion back
    # to one row per doc before the shuffle; the shuffle carries
    # num_perm longs per doc.
    # spread the per-row-heavy shingling across all cores: a small file
    # scans as one partition, and at scale this also levels doc-size skew
    src = _spread(
        t.df.select(F.col(id_col).alias("doc_id"), F.col(text_col)), "doc_id")
    step, sh = _shingle_hash_parts(src, text_col, shingle_k,
                                   max_tokens=max_tokens)
    ex = step.select("doc_id", F.explode(sh).alias("h"))
    # SQL-string expressions: one Py4J call per permutation (driver-side
    # plan-build cost; see simhash note).  Each min is < _P = 2^31-1 so it
    # FITS A SIGNED INT — casting here halves every downstream byte the
    # signature touches (the LSH band explode ships bands copies of it
    # into the bucket shuffle: measured 3.7 s -> 3.2 s for the sf3 band
    # stage locally, and at cluster scale the win is network bytes).
    # Numeric values are unchanged, so band hashes, est_jaccard and found
    # pairs are identical; the incremental store's _SIG_FORMAT is bumped
    # because the store parquet schema changes.
    mins = [F.expr(f"cast(min(((h * {a[j]}) + {b[j]}) % {_P}) as int)")
            .alias(f"m{j}")
            for j in range(num_perm)]
    agg = ex.groupBy("doc_id").agg(*mins)
    sig = F.expr("array(" + ", ".join(f"m{j}" for j in range(num_perm)) + ")")
    return Table(
        agg.select("doc_id", sig.alias("signature")),
        t._name,
    )


@local_only
def minhash_candidates(t: Table, text_col: str = "text", id_col: str = "doc_id",
                       num_perm: int = 32, bands: int = 8, shingle_k: int = 5,
                       seed: int = 42, max_bucket: int = 1000,
                       max_tokens: int | None = None) -> Table:
    """LSH banding: split the signature into ``bands`` rows of
    ``num_perm//bands``, bucket-join on (band, hash(rows)).  Returns
    candidate pairs (doc_a < doc_b) with the fraction of matching signature
    components as ``est_jaccard``.

    ``max_bucket`` drops degenerate buckets before the self-join — the
    skew guard that keeps a hot bucket from going quadratic at scale.
    """
    # persist: the signature pipeline (shingle -> hash -> 32 mins) feeds both
    # the hot-bucket count pass and the pair generation — without this the
    # whole corpus pass runs twice (at 100 TB: one pass vs two)
    sigs = minhash_signatures(t, text_col, id_col, num_perm, shingle_k,
                              seed, max_tokens=max_tokens).df
    with owned_cache(sigs) as c:
        return c.transfer(Table(
            lsh_band_pairs(sigs, num_perm, bands, max_bucket),
            "minhash_candidates"))


def lsh_band_pairs(sigs: DataFrame, num_perm: int, bands: int,
                   max_bucket: int) -> DataFrame:
    """Shared LSH candidate stage over (doc_id, signature) rows — used by
    word-shingle MinHash, cross-lingual concept MinHash, and the
    incremental in-batch path.

    Topology (the no-self-join design): band entries explode narrowly from
    the signatures; the skew guard is a BROADCAST blacklist (the count
    pass shuffles only the (band, bhash) keys — map-side partial agg —
    and buckets larger than ``max_bucket`` are by construction rare, so
    the blacklist broadcasts and the entries side never shuffles for the
    anti join); then ONE groupBy gathers each bucket and the i<j pairs
    are generated inside the doc_id-sorted array with bounded
    (max_bucket^2/2) fan-out per task.  Returns (doc_a, doc_b,
    est_jaccard) with est = matching-component fraction."""
    r = num_perm // bands
    band_entries = sigs.select(
        "doc_id", "signature",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.xxhash64(F.concat_ws(
                        ",", F.transform(F.slice("signature", bi * r + 1, r),
                                         lambda x: x.cast("string"))
                    )).alias("bhash"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "signature", F.col("bk.band").alias("band"),
             F.col("bk.bhash").alias("bhash"))

    hot = (band_entries.groupBy("band", "bhash")
           .agg(F.count(F.lit(1)).alias("n"))
           .filter(F.col("n") > max_bucket).select("band", "bhash"))
    cold = band_entries.join(F.broadcast(hot), ["band", "bhash"], "left_anti")

    grouped = (cold.groupBy("band", "bhash")
               .agg(F.array_sort(F.collect_list(
                   F.struct("doc_id", "signature"))).alias("docs"))
               .filter(F.size("docs") >= 2))

    def _pair(x, y):
        matches = F.size(F.filter(
            F.zip_with(x["signature"], y["signature"],
                       lambda p, q: (p == q).cast("int")),
            lambda eq: eq == 1))
        return F.struct(
            x["doc_id"].alias("doc_a"), y["doc_id"].alias("doc_b"),
            (matches / F.lit(float(num_perm))).alias("est_jaccard"))

    pair_arr = F.flatten(F.transform(
        F.col("docs"),
        lambda x, i: F.transform(
            F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
            lambda y: _pair(x, y))))
    return (
        grouped.select(F.explode(pair_arr).alias("pr"))
        .select("pr.doc_a", "pr.doc_b", "pr.est_jaccard")
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


@local_only
def ngram_jaccard_pairs(t: Table, candidates: Table, text_col: str = "text",
                        id_col: str = "doc_id", shingle_k: int = 5) -> Table:
    """Exact shingle-set Jaccard for candidate pairs only (verification
    stage after LSH) — array_intersect/array_union on distinct shingle
    hashes, joined twice against the docs table."""
    src = _spread(
        t.df.select(F.col(id_col).alias("doc_id"), F.col(text_col)), "doc_id")
    docs = _shingle_hash_df(src, text_col, shingle_k)
    c = candidates.df
    out = (
        c.join(docs.withColumnsRenamed({"doc_id": "doc_a", "sh": "sh_a"}), "doc_a")
        .join(docs.withColumnsRenamed({"doc_id": "doc_b", "sh": "sh_b"}), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")), 4
            ).alias("jaccard"),
        )
    )
    # the candidate side may carry a scoped signature cache — keep it
    # alive until THIS result is dropped (chained-op propagation)
    return Table(carry(out, c), "ngram_jaccard_pairs")


# local-only DELIBERATELY: the candidates input comes from the
# approximate generators (MinHash/SimHash), which are not
# wire-expressible — a remote verify over locally generated candidates
# would silently mix engines
@local_only
def edit_distance_pairs(t: Table, candidates: Table,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_chars: int = 10_000,
                        max_dist: int | None = None) -> Table:
    """Exact Levenshtein verification for candidate pairs only — the
    character-level verifier next to :func:`ngram_jaccard_pairs`'s
    token-set one: near-dups that differ by small in-token edits
    (typos, number substitutions, template fills) score near-identical
    here even when token-set Jaccard dilutes them.

    Output: (doc_a, doc_b, edit_distance LONG, edit_similarity) with
    ``edit_similarity = 1 − dist / max(len_a, len_b)`` (round-4; two
    empty texts are identical → 1.0).  ``max_dist`` (optional) keeps
    only pairs within the bound — Spark's ``levenshtein(l, r, k)``
    short-circuits its O(len²) DP once the running distance exceeds k,
    which at 100 TB is the difference between verifying candidates and
    quadratic-scanning long documents; unbounded distance is computed
    only when ``max_dist`` is None.  Texts are hard-capped at
    ``max_chars`` (the DP is quadratic in LENGTH, not corpus size —
    a single pathological 1 MB document pair would cost 10¹² cells;
    the prefix is compared and the cap recorded in ``truncated``).

    Topology: two broadcast-or-shuffle equi-joins of the candidate ids
    against the docs table (the same shape as the Jaccard verifier) —
    never all-pairs; the DP runs once per CANDIDATE pair."""
    if max_chars < 1:
        raise ValueError(f"max_chars must be >= 1, got {max_chars}")
    src = _spread(
        t.df.select(F.col(id_col).alias("doc_id"),
                    F.substring(F.col(text_col), 1, max_chars).alias("__t"),
                    (F.length(F.col(text_col)) > max_chars)
                    .alias("__trunc")),
        "doc_id")
    c = candidates.df
    joined = (
        c.join(src.withColumnsRenamed(
            {"doc_id": "doc_a", "__t": "t_a", "__trunc": "tr_a"}), "doc_a")
        .join(src.withColumnsRenamed(
            {"doc_id": "doc_b", "__t": "t_b", "__trunc": "tr_b"}), "doc_b"))
    dist = (F.levenshtein("t_a", "t_b") if max_dist is None
            else F.levenshtein("t_a", "t_b", max_dist))
    longest = F.greatest(F.length("t_a"), F.length("t_b"))
    out = joined.select(
        "doc_a", "doc_b",
        dist.cast(T.LongType()).alias("edit_distance"),
        (F.round(F.when(longest > 0,
                        1.0 - dist / longest).otherwise(F.lit(1.0)), 4)
         + F.lit(0.0)).alias("edit_similarity"),
        (F.col("tr_a") | F.col("tr_b")).alias("truncated"))
    if max_dist is not None:
        # levenshtein(l, r, k) returns -1 past the bound — those pairs
        # failed verification by definition
        out = out.filter((F.col("edit_distance") >= 0)
                         & (F.col("edit_distance") <= max_dist))
    return Table(carry(out, c), "edit_distance_pairs")


@local_only
def exact_jaccard_pairs(t: Table, text_col: str = "text",
                        id_col: str = "doc_id", shingle_k: int = 5,
                        min_jaccard: float = 0.8,
                        max_shingle_df: int | None = None) -> Table:
    """ALL-pairs exact shingle-set Jaccard ``>= min_jaccard`` — the
    ground-truth path for the recall contracts (differential scheme,
    reference blaze/compute/tests/test_comprehensive.py:65-153).

    Restricting to pairs that share >= 1 shingle is EXACT for any
    ``min_jaccard > 0`` (disjoint shingle sets have Jaccard 0), so
    candidates come from an equi-join on shingle hash: cost is
    ``sum_h df(h)^2`` over shingle document frequencies — not N² — but
    quadratic in a hot shingle's df, so this is a verification-scale
    tool (the recall harness runs it at sf0.01's hundreds of docs).
    ``max_shingle_df`` optionally drops shingles above a df cap to
    bound the blowup (small under-count bias on affected pairs — leave
    None when used as ground truth).  Shingle hashes are the UNREDUCED
    64-bit form (see :func:`_shingle_hash_df`)."""
    src = _spread(
        t.df.select(F.col(id_col).alias("doc_id"), F.col(text_col)), "doc_id")
    docs = _shingle_hash_df(src, text_col, shingle_k)
    with owned_cache(docs) as c:
        sizes = docs.select("doc_id", F.size("sh").alias("sz"))
        ex = docs.select("doc_id", F.explode("sh").alias("h"))
        if max_shingle_df is not None:
            hot = (ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
                   .filter(F.col("df") > max_shingle_df).select("h"))
            ex = ex.join(F.broadcast(hot), "h", "left_anti")
        inter = (ex.alias("a").join(ex.alias("b"), "h")
                 .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                 .groupBy(F.col("a.doc_id").alias("doc_a"),
                          F.col("b.doc_id").alias("doc_b"))
                 .agg(F.count(F.lit(1)).alias("inter")))
        out = (inter
               .join(sizes.withColumnsRenamed({"doc_id": "doc_a",
                                               "sz": "sz_a"}), "doc_a")
               .join(sizes.withColumnsRenamed({"doc_id": "doc_b",
                                               "sz": "sz_b"}), "doc_b")
               .withColumn("jaccard", F.col("inter")
                           / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
               .filter(F.col("jaccard") >= min_jaccard)
               .select("doc_a", "doc_b",
                       F.round("jaccard", 4).alias("jaccard")))
        return c.transfer(Table(out, "exact_jaccard_pairs"))


def simhash_chunks(lo: Column, hi: Column) -> Column:
    """Pigeonhole layout of a 64-bit simhash (as two 32-bit halves): an
    array of 4 (ci, chunk) structs, one per 16-bit chunk.  SHARED between
    the batch path and the incremental store so the layouts can never
    desynchronize (a Hamming<=3 pair shares at least one exact chunk)."""
    return F.array(
        F.struct(F.lit(0).alias("ci"), (lo % 65536).alias("chunk")),
        F.struct(F.lit(1).alias("ci"), F.floor(lo / 65536).alias("chunk")),
        F.struct(F.lit(2).alias("ci"), (hi % 65536).alias("chunk")),
        F.struct(F.lit(3).alias("ci"), F.floor(hi / 65536).alias("chunk")),
    )


def simhash_hamming(a_lo: Column, a_hi: Column,
                    b_lo: Column, b_hi: Column) -> Column:
    """Hamming distance between two (lo, hi) simhash pairs — two
    bit_count(xor) calls, codegen-friendly; shared with the incremental
    store's estimate."""
    return (F.bit_count(a_lo.bitwiseXOR(b_lo))
            + F.bit_count(a_hi.bitwiseXOR(b_hi)))


@local_only
def simhash(t: Table, text_col: str = "text", id_col: str = "doc_id",
            max_tokens: int = 65535) -> Table:
    """64-bit SimHash as two 32-bit halves (hi, lo) — bit-voting over token
    xxhash64 values.

    Layout: tokens explode once, then the 64 per-bit set-counts are packed
    into 16 lane-sum aggregates — each long carries four 16-bit counters,
    and a token's contribution per lane is a branchless shift-mask-shift
    (no ``when``).  The majority vote ``2*count > n`` is exactly the old
    signed ±1 sum being positive, so signatures are bit-identical to the
    64-column formulation while the agg state drops 64 longs -> 17 and the
    per-row expression loses all branches.  The shuffle carries 17 longs
    per doc (map-side partial agg).

    ``max_tokens`` caps tokens per doc BEFORE the explode so a 16-bit lane
    can never overflow (and bounds giant-doc skew); voting over a prefix is
    the standard simhash practice for long docs.
    """
    src = _spread(
        t.df.select(F.col(id_col).alias("doc_id"), F.col(text_col)), "doc_id")
    tokens = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    toks = src.select(
        "doc_id",
        F.explode(F.slice(tokens, 1, max_tokens)).alias("tok"),
    ).select("doc_id", F.xxhash64("tok").alias("h"))

    # expressions built as SQL strings: one Py4J call per aggregate instead
    # of ~20 Column-builder round trips each — plan construction drops from
    # seconds to milliseconds (driver-side cost, paid per query)
    def _lane(g: int) -> Column:
        body = " + ".join(
            f"((shiftrightunsigned(h, {4 * g + k}) & 1)"
            + (f" * {1 << (16 * k)})" if k else ")")
            for k in range(4))
        return F.expr(f"sum({body})").alias(f"g{g}")

    agg = toks.groupBy("doc_id").agg(
        *[_lane(g) for g in range(16)], F.count(F.lit(1)).alias("n"))

    def _bit(p: int) -> str:
        g, k = divmod(p, 4)
        return (f"(cast((((shiftrightunsigned(g{g}, {16 * k}) & 65535) * 2)"
                f" > n) as bigint) * {1 << (p % 32)})")

    lo = F.expr(" + ".join(_bit(b) for b in range(32)))
    hi = F.expr(" + ".join(_bit(b) for b in range(32, 64)))
    return Table(
        agg.select("doc_id", lo.alias("sim_lo"), hi.alias("sim_hi")),
        "simhash",
    )


@local_only
def simhash_candidates(t: Table, text_col: str = "text", id_col: str = "doc_id",
                       max_hamming: int = 3, max_bucket: int = 1000) -> Table:
    """Near-dup pairs with Hamming distance <= max_hamming.  Pigeonhole:
    split 64 bits into 4 16-bit chunks; distance<=3 pairs share at least
    one exact chunk -> bucket per chunk, verify with bit_count(xor).

    Same shuffle topology as ``minhash_candidates``: hot chunks (e.g. the
    all-zeros chunk of near-empty docs) are blacklisted via a broadcast
    anti join, then ONE groupBy gathers each bucket and pairs are generated
    inside the array — no self-join."""
    # persist: the token-explode + 64-vote aggregation feeds the hot-chunk
    # count pass and the pair generation — one corpus pass, not two
    sh = simhash(t, text_col, id_col).df
    with owned_cache(sh) as c:
        chunks = sh.select(
            "doc_id", "sim_lo", "sim_hi",
            F.explode(simhash_chunks(F.col("sim_lo"), F.col("sim_hi")))
            .alias("c"),
        ).select("doc_id", "sim_lo", "sim_hi",
                 F.col("c.ci").alias("ci"), F.col("c.chunk").alias("chunk"))

        hot = (chunks.groupBy("ci", "chunk")
               .agg(F.count(F.lit(1)).alias("n"))
               .filter(F.col("n") > max_bucket).select("ci", "chunk"))
        cold = chunks.join(F.broadcast(hot), ["ci", "chunk"], "left_anti")
        grouped = (cold.groupBy("ci", "chunk")
                   .agg(F.array_sort(F.collect_list(
                       F.struct("doc_id", "sim_lo", "sim_hi"))).alias("docs"))
                   .filter(F.size("docs") >= 2))

        def _pair(x, y):
            ham = simhash_hamming(x["sim_lo"], x["sim_hi"],
                                  y["sim_lo"], y["sim_hi"])
            return F.struct(x["doc_id"].alias("doc_a"),
                            y["doc_id"].alias("doc_b"), ham.alias("hamming"))

        pair_arr = F.flatten(F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                lambda y: _pair(x, y))))
        pairs = (
            grouped.select(F.explode(pair_arr).alias("pr"))
            .select("pr.doc_a", "pr.doc_b", "pr.hamming")
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
        return c.transfer(Table(pairs, "simhash_candidates"))


# r8 silent-empty audit: no wire-dialect form -> remote inputs raise
# at entry instead of computing over the empty schema-only frame.
# (r12: exact_dedup / normalized_dedup / cross_doc_dup_lines left this
# list — they serialize now, wire forms below.)
# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# local fingerprinting algorithm): the third member of the approximate
# dedup family, with a GUARANTEE the probabilistic two lack.

_WINNOW_POS_LIMIT = 1 << 20  # position packing bound (tokens per doc)


@wire_op("winnow_fingerprints", tables=("t",),
         kwargs=("k", "w", "text_col", "id_col"))
def winnow_fingerprints(t: Table, k: int = 5, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> Table:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003): hash every token ``k``-gram, slide a window of ``w``
    consecutive hashes, select each window's minimal hash — ties to the
    LEFTMOST position (deterministic and engine-identical; the paper
    picks rightmost, and either choice preserves the theorems).

    The paper's guarantees, both pinned by tests: any shared token run
    of length >= ``w + k - 1`` between two documents shares at least
    one selected fingerprint (detection), and no shared run shorter
    than ``k`` is ever detected (noise floor).  Expected density is
    ``2/(w+1)`` of positions — unlike MinHash/SimHash this is a LOCAL
    sketch (fingerprints carry positions), so matches localize to
    regions, the `cross_doc_dup_spans` granularity with sub-linear
    storage.  The flip side of the guarantee: a document shorter than
    ``w + k - 1`` tokens has no full window and selects NOTHING — use
    :func:`exact_dedup` for tiny documents (the paper's own caveat).

    Output: distinct ``(doc_id, pos, gram_hash)`` selections (pos =
    0-based k-gram start).  One corpus scan → positioned explode
    (bounded by document length) → ONE doc-partitioned running-min
    window (skew bound = one document's own grams; the min is over the
    packed ``hash·2^20 + pos`` long, so "smallest hash, leftmost
    position" is a single LONG min — order-free and DuckDB-exact) →
    distinct.  Documents beyond 2^20 tokens would corrupt the packing
    and raise loudly executor-side.  The hash is the family's portable
    md5-first-8-hex LONG (`selection.py:68`), so the whole operator is
    oracle-checkable byte-for-byte."""
    if k < 1:
        raise ValueError(f"winnow_fingerprints: k must be >= 1, got {k}")
    if w < 1:
        raise ValueError(f"winnow_fingerprints: w must be >= 1, got {w}")
    from pyspark.sql import Window

    from .curation import ngram_array

    grams = ngram_array(F.col(text_col), k)
    pos = (_spread(t.df, id_col)
           .select(F.col(id_col).alias("doc_id"),
                   F.posexplode(grams).alias("pos", "gram")))
    h = F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10) \
        .cast(T.LongType())
    packed = F.when(
        F.col("pos") < _WINNOW_POS_LIMIT,
        h * F.lit(_WINNOW_POS_LIMIT) + F.col("pos")).otherwise(
        F.raise_error(F.lit(
            f"winnow_fingerprints: document longer than "
            f"{_WINNOW_POS_LIMIT} tokens overflows the position "
            "packing — chunk it first (chunk_documents)")))
    win = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.currentRow, w - 1)
    total = Window.partitionBy("doc_id")
    sel = (pos.select("doc_id", "pos", packed.alias("ph"))
           .withColumn("__min", F.min("ph").over(win))
           .withColumn("__n", F.count(F.lit(1)).over(total))
           # only FULL windows select (the last w-1 starts are partial)
           .filter(F.col("pos") + w <= F.col("__n"))
           .select("doc_id",
                   (F.col("__min") % _WINNOW_POS_LIMIT)
                   .cast(T.IntegerType()).alias("pos"),
                   F.floor(F.col("__min") / F.lit(_WINNOW_POS_LIMIT))
                   .cast(T.LongType()).alias("gram_hash"))
           .distinct())
    return Table(sel, "winnow_fingerprints")


@wire_op("winnow_candidates", tables=("t",),
         kwargs=("k", "w", "min_shared", "max_bucket", "text_col",
                 "id_col"))
def winnow_candidates(t: Table, k: int = 5, w: int = 4,
                      min_shared: int = 2,
                      max_bucket: int = 1000,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> Table:
    """Candidate near-duplicate pairs from shared winnowing
    fingerprints: documents selecting the same ``gram_hash`` land in
    one bucket; pairs sharing >= ``min_shared`` fingerprints surface
    as ``(doc_a, doc_b, n_shared)`` with ``doc_a < doc_b``.

    Same scale topology as the LSH/SimHash generators: the fingerprint
    relation persists between its two consumers (hot-bucket count +
    pair generation), hash buckets larger than ``max_bucket`` are
    dropped via a BROADCAST blacklist before the bucket gather
    (corpus-common grams — boilerplate — would go quadratic), and the
    i<j pairs generate inside each bounded bucket array.  Chain into
    :func:`ngram_jaccard_pairs` / :func:`edit_distance_pairs` for
    exact verification, like the other candidate generators."""
    if min_shared < 1:
        raise ValueError(
            f"winnow_candidates: min_shared must be >= 1, got {min_shared}")
    if max_bucket < 2:
        raise ValueError(
            f"winnow_candidates: max_bucket must be >= 2, got {max_bucket}")
    fps = winnow_fingerprints(t, k, w, text_col, id_col).df
    with owned_cache(fps) as c:
        hot = (fps.groupBy("gram_hash")
               .agg(F.count(F.lit(1)).alias("n"))
               .filter(F.col("n") > max_bucket).select("gram_hash"))
        cold = fps.join(F.broadcast(hot), "gram_hash", "left_anti")
        grouped = (cold.select("gram_hash", "doc_id").distinct()
                   .groupBy("gram_hash")
                   .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
                   .filter(F.size("docs") >= 2))
        pair_arr = F.flatten(F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")))))
        pairs = (grouped.select(F.explode(pair_arr).alias("pr"))
                 .groupBy("pr.doc_a", "pr.doc_b")
                 .agg(F.count(F.lit(1)).cast(T.LongType()).alias("n_shared"))
                 .filter(F.col("n_shared") >= min_shared))
        return c.transfer(Table(pairs, "winnow_candidates"))
