"""Bloom-filter membership prefilters (r13 second half): the scale
path for testing a 100 TB corpus against a reference set that is too
large to broadcast as an exact join relation.

The existing decontamination operator (``curation.contamination_report``)
broadcasts the reference's DISTINCT n-grams — exactly right when the
reference is a benchmark suite (MBs).  The case it cannot cover is a
CORPUS-SIZED reference: "drop every document already in last year's
training set", "flag any gram seen in the deny corpus" — there the
distinct-gram relation is tens of GB (strings + hash-set overhead) and
the only exact plan is a corpus-wide shuffle join.  A Bloom filter
(Bloom 1970) packs the same membership test into ~1.44·log2(1/fpr)
bits per item (~10 bits at 1% FPR, 7 hashes) with ZERO false
negatives: nothing contaminated ever slips through; false positives
only over-flag, and the flagged subset (a tiny fraction of the corpus)
can be re-checked exactly — the standard two-phase rescue.

Everything stays JVM-side; there is no UDF and no driver bitmap:

- **Build**: one scan of the reference — k positions per key
  (``xxhash64(key, seed_j) mod m``), packed into a ``(word_idx LONG,
  bits LONG)`` relation by ``bit_or`` aggregation (map-side
  combinable; OR is idempotent, so duplicate keys cost nothing).  The
  result is ≤ m/64 rows — m = 2^30 bits packs into 16.8 M rows ≈
  256 MB, broadcastable where the exact relation is not.
- **Probe**: k broadcast-hash joins on ``word_idx`` (one per hash,
  bit-tested with ``bits & mask``), ALL map-side — the corpus scan
  stays shuffle-free end to end.  Spark reuses the single broadcast
  exchange across the k joins.

Not SQL-expressible (DuckDB has no xxHash64), so the registry entry is
rows-only; the contracts are pinned in pytest instead: membership is a
SUPERSET (every inserted key hits — zero false negatives, exercised
through the full pack/probe round trip), the measured FPR on disjoint
keys tracks the analytic ``(1 − e^{−kn/m})^k``, and save/load round
trips bit-identically.

Sizing: ``optimal_k(m_bits, n_items)`` = round(m/n·ln 2);
``expected_fpr(m_bits, k, n_items)`` for the plan.  At 10^9 reference
grams and m = 2^33 (1 GiB packed), k = 6 gives ~1.6% FPR; the packed
relation is ~134 M rows / 2 GiB serialized — the ceiling of what a
healthy cluster broadcasts, and the module's hard ``m_bits`` cap.

Wire dialect (r15, VERDICT r14 #5): the PROBES (``bloom_contains`` /
``bloom_contamination``) run over blaze:// against a server-REGISTERED
bloom store named in the node — the packed filter never crosses as
rows (the read_lm_counts posture).  The BUILDERS stay local-only
(eager store writes; remote tables raise via the localize guard), and
a BloomFilter object itself still does not serialize.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import owned_cache
from ..core import Table
from ..sources import local_frame
from ..wire import local_only, wire_op
from .curation import ngram_array
from .dedup import _spread

__all__ = ["BloomFilter", "build_bloom", "build_ngram_bloom",
           "bloom_contains", "bloom_contamination",
           "bloom_two_phase_contamination", "save_bloom",
           "load_bloom", "expected_fpr", "optimal_k", "size_for"]

_MAX_M_BITS = 1 << 33          # 1 GiB packed — the broadcast ceiling
_MAX_K = 16


class BloomFilter:
    """A packed bloom bitmap as a Spark relation: ``df`` is
    ``(word_idx LONG, bits LONG)`` with one row per non-zero 64-bit
    word, plus the two probe parameters.  Build with
    :func:`build_bloom` / :func:`build_ngram_bloom`, persist with
    :func:`save_bloom`."""

    def __init__(self, df: DataFrame, m_bits: int, k: int):
        _validate_mk(m_bits, k)
        if set(df.columns) != {"word_idx", "bits"}:
            raise ValueError(
                "BloomFilter df must be a (word_idx, bits) relation, "
                f"got columns {df.columns}")
        self.df = df
        self.m_bits = int(m_bits)
        self.k = int(k)

    def expected_fpr(self, n_items: int) -> float:
        return expected_fpr(self.m_bits, self.k, n_items)


def _validate_mk(m_bits: int, k: int) -> None:
    if not 64 <= m_bits <= _MAX_M_BITS:
        raise ValueError(
            f"m_bits must be in [64, {_MAX_M_BITS}] (the packed "
            f"relation is broadcast at probe time), got {m_bits}")
    if not 1 <= k <= _MAX_K:
        raise ValueError(f"k must be in [1, {_MAX_K}], got {k}")


def expected_fpr(m_bits: int, k: int, n_items: int) -> float:
    """The analytic false-positive rate ``(1 − e^{−k·n/m})^k``."""
    if n_items <= 0:
        return 0.0
    return (1.0 - math.exp(-k * n_items / float(m_bits))) ** k


def optimal_k(m_bits: int, n_items: int) -> int:
    """The FPR-minimizing hash count ``round((m/n)·ln 2)``, floored
    at 1 and capped at the module bound."""
    if n_items <= 0:
        return 1
    return max(1, min(_MAX_K,
                      round(m_bits / float(n_items) * math.log(2))))


def size_for(n_items: int, fpr: float) -> tuple:
    """``(m_bits, k)`` for a target false-positive rate at ``n_items``
    keys — the textbook ``m = −n·ln(fpr)/ln²2`` rounded up to a whole
    64-bit word, ``k = optimal_k``.  Raises when the target needs
    more than the module's broadcast-ceiling ``m_bits`` cap (shard the
    deny set, or relax fpr)."""
    if n_items <= 0:
        raise ValueError(f"n_items must be > 0, got {n_items}")
    if not 0.0 < fpr < 1.0:
        raise ValueError(f"fpr must be in (0, 1), got {fpr}")
    m = math.ceil(-n_items * math.log(fpr) / (math.log(2) ** 2))
    m = max(64, ((m + 63) // 64) * 64)
    if m > _MAX_M_BITS:
        raise ValueError(
            f"size_for: {n_items} keys at fpr={fpr} needs m_bits={m} "
            f"> the {_MAX_M_BITS} broadcast ceiling — shard the deny "
            "set across filters or relax fpr")
    return m, optimal_k(m, n_items)


def _positions(key, m_bits: int, k: int):
    """The k probe positions of one key column: xxhash64 seeded by
    pairing the key with the hash index (xxHash of the 2-column row
    differs per j), pmod into [0, m)."""
    return [F.pmod(F.xxhash64(key, F.lit(j)), F.lit(m_bits))
            for j in range(k)]


@local_only
def build_bloom(t: Table, key_col: str, m_bits: int = 1 << 23,
                k: int = 7) -> BloomFilter:
    """Build a bloom over the values of ``key_col`` (NULLs skipped —
    NULL is not a member).  One scan: explode to k positions per key,
    pack with a map-side-combinable ``bit_or`` aggregation on ≤ m/64
    word keys.  Duplicate keys are free (OR is idempotent), so no
    distinct pass is needed."""
    _validate_mk(m_bits, k)
    df = t.df if isinstance(t, Table) else t
    keys = df.select(F.col(key_col).alias("bk")) \
             .filter(F.col("bk").isNotNull())
    pos = keys.select(F.explode(F.array(
        *_positions(F.col("bk"), m_bits, k))).alias("pos"))
    packed = (pos
              .select(F.expr("pos div 64").alias("word_idx"),
                      F.expr("shiftleft(CAST(1 AS BIGINT), "
                             "CAST(pos % 64 AS INT))").alias("m"))
              .groupBy("word_idx")
              .agg(F.bit_or("m").alias("bits")))
    # r15: materialize the packed bitmap once and truncate its lineage
    # (localCheckpoint).  The probe chains broadcast this relation k
    # times per consumer; without the cut every broadcast carries (and
    # the optimizer re-plans) the full build subtree — measured −0.4 s
    # on the two-phase entry at sf0.1.  Bounded by the module's 1 GiB
    # m_bits cap (the same bytes the broadcast ships anyway); the
    # checkpointed blocks are released by ContextCleaner when the
    # filter is dropped.
    return BloomFilter(packed.localCheckpoint(eager=True), m_bits, k)


@local_only
def build_ngram_bloom(t: Table, n: int = 3, text_col: str = "text",
                      m_bits: int = 1 << 23,
                      k: int = 7) -> BloomFilter:
    """Bloom over the reference's distinct token n-grams — the
    curation family's exact gram identity (trim/lower/whitespace,
    space-joined), so a probe-side gram built the same way tests the
    same string.  The deny-corpus decontamination shape: build once
    over the reference snapshot, persist, probe every future corpus
    shuffle-free."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # tokenize + n-gram is the per-row-heavy step (interpreted HOFs):
    # spread a small/single-file scan across the cores first (no-op at
    # scale — _spread is metadata-gated; guide §2.5 input-skew fix)
    grams = _spread(t.df, text_col).select(
        F.explode(ngram_array(F.col(text_col), n)).alias("g"))
    return build_bloom(Table(grams, "ngrams"), "g", m_bits, k)


def _require_bloom(bloom) -> BloomFilter:
    if not isinstance(bloom, BloomFilter):
        raise TypeError(
            "expected a BloomFilter (build_bloom/build_ngram_bloom/"
            f"load_bloom output), got {type(bloom)}")
    return bloom


def _hit_expr(df: DataFrame, bloom: BloomFilter, key) -> DataFrame:
    """Chain the k probe joins onto ``df`` and append a boolean
    ``_bloom_hit``: k broadcast-hash joins on word_idx, each bit-tested
    in codegen, ANDed.  All map-side — no shuffle enters the plan."""
    out = df
    hit = F.lit(True)
    for j, pos in enumerate(_positions(key, bloom.m_bits, bloom.k)):
        out = out.withColumn(f"_bp{j}", pos)
        side = bloom.df.select(
            F.col("word_idx").alias(f"_bw{j}"),
            F.col("bits").alias(f"_bb{j}"))
        out = out.join(F.broadcast(side),
                       F.expr(f"_bp{j} div 64") == F.col(f"_bw{j}"),
                       "left")
        mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                      f"CAST(_bp{j} % 64 AS INT))")
        hit = hit & F.coalesce(
            F.col(f"_bb{j}").bitwiseAND(mask) != 0, F.lit(False))
    out = out.withColumn("_bloom_hit", hit)
    drop = [c for j in range(bloom.k)
            for c in (f"_bp{j}", f"_bw{j}", f"_bb{j}")]
    return out.drop(*drop)


def _check_store(fn_name: str, store: str, m_bits, k, store_n) -> None:
    """The store-kind keywords of a bloom given by store path/NAME."""
    if store == "saved":
        if m_bits is not None or k is not None or store_n is not None:
            raise ValueError(
                f"{fn_name}: m_bits/k/store_n apply only to "
                "store='incremental' — a saved bloom artifact is "
                "self-describing")
    elif store != "incremental":
        raise ValueError(
            f"{fn_name}: unknown store kind {store!r} — expected 'saved' "
            "or 'incremental'")


def _resolve_bloom(t, bloom, fn_name: str, store: str, m_bits, k,
                   store_n) -> "BloomFilter":
    """A BloomFilter as is; a string is a bloom store PATH (over the wire
    the server maps a registered store NAME to it): a 'saved'
    save_bloom artifact (self-describing) or an 'incremental' streaming
    ingest store (geometry re-validated against its format stamp)."""
    if not isinstance(bloom, str):
        return _require_bloom(bloom)
    _check_store(fn_name, store, m_bits, k, store_n)
    spark = (t.df if isinstance(t, Table) else t).sparkSession
    if store == "saved":
        return load_bloom(spark, bloom)
    from ..streaming.incremental_bloom import read_bloom
    return read_bloom(
        spark, bloom,
        m_bits=(1 << 23) if m_bits is None else int(m_bits),
        k=7 if k is None else int(k),
        n=None if store_n is None else int(store_n))


def _contains_schema(t, out_col, store, m_bits, k, store_n, **_):
    _check_store("bloom_contains", store, m_bits, k, store_n)
    return T.StructType(list(t.df.schema.fields)
                        + [T.StructField(out_col, T.BooleanType())])


def _contamination_schema(t, id_col, store, m_bits, k, store_n, **_):
    _check_store("bloom_contamination", store, m_bits, k, store_n)
    return T.StructType([
        t.df.schema[id_col],
        T.StructField("n_ngrams", T.LongType()),
        T.StructField("n_contaminated", T.LongType()),
        T.StructField("contamination_rate", T.DoubleType()),
        T.StructField("contaminated", T.IntegerType())])


_STORE_KW = ("store", "m_bits", "k", "store_n")


# the packed filter NEVER rides the wire as rows: a remote probe NAMES a
# server-registered bloom store (BlazeSparkServer(stores={name: path}))
# and the probe materializes where the store lives
@wire_op("bloom_contains", tables=("t",), stores={"bloom": None},
         kwargs=("key_col", "out_col", *_STORE_KW),
         schema=_contains_schema)
def bloom_contains(t: Table, bloom, key_col: str,
                   out_col: str = "bloom_hit", *,
                   store: str = "saved", m_bits: int | None = None,
                   k: int | None = None,
                   store_n: int | None = None) -> DataFrame:
    """``t`` plus a boolean ``out_col``: True iff ``key_col`` MAY be
    in the reference set (guaranteed True for every inserted key —
    zero false negatives; False positives at the built filter's FPR).
    NULL keys are not members (False).  ``bloom`` is a BloomFilter or
    a bloom store path (``store``/``m_bits``/``k``/``store_n`` select
    and check its kind, see :func:`_resolve_bloom`)."""
    bloom = _resolve_bloom(t, bloom, "bloom_contains", store, m_bits,
                           k, store_n)
    df = t.df if isinstance(t, Table) else t
    if key_col not in df.columns:
        raise ValueError(f"no column {key_col!r} in {df.columns}")
    probed = _hit_expr(df, bloom, F.col(key_col))
    return probed.withColumn(
        out_col,
        F.when(F.col(key_col).isNull(), F.lit(False))
        .otherwise(F.col("_bloom_hit"))).drop("_bloom_hit")


@wire_op("bloom_contamination", tables=("t",), stores={"bloom": None},
         kwargs=("n", "text_col", "id_col", "threshold", *_STORE_KW),
         schema=_contamination_schema)
def bloom_contamination(t: Table, bloom, n: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.2, *,
                        store: str = "saved",
                        m_bits: int | None = None,
                        k: int | None = None,
                        store_n: int | None = None) -> DataFrame:
    """``contamination_report`` against a BLOOM of the reference's
    n-grams instead of the exact broadcast set: per training document,
    the share of its distinct n-grams that (may) appear in the
    reference.  Same output shape — ``(id_col, n_ngrams,
    n_contaminated, contamination_rate, contaminated)``.  ``bloom`` is
    a BloomFilter or a bloom store path, as in :func:`bloom_contains`.

    Guarantees: a document with NO flagged gram is certainly clean
    (zero false negatives), so dropping the flagged set removes every
    truly contaminated document.  False positives inflate
    ``contamination_rate`` by ≈ the filter's FPR; for an exact final
    report, run ``contamination_report`` on just the flagged subset
    (a tiny fraction of the corpus) — the two-phase rescue."""
    bloom = _resolve_bloom(t, bloom, "bloom_contamination", store,
                           m_bits, k, store_n)
    grams = _spread(t.df, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(
            ngram_array(F.col(text_col), n))).alias("g"))
    probed = _hit_expr(grams, bloom, F.col("g"))
    return (probed.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast(T.LongType()).alias("n_ngrams"),
                 F.sum(F.col("_bloom_hit").cast(T.IntegerType()))
                 .cast(T.LongType()).alias("n_contaminated"))
            .select(
                F.col(id_col), F.col("n_ngrams"),
                F.col("n_contaminated"),
                F.round(F.col("n_contaminated") / F.col("n_ngrams"), 4)
                .alias("contamination_rate"),
                (F.col("n_contaminated") / F.col("n_ngrams")
                 >= threshold).cast(T.IntegerType())
                .alias("contaminated")))


@local_only
def bloom_two_phase_contamination(t: Table, reference: Table,
                                  n: int = 3, text_col: str = "text",
                                  id_col: str = "doc_id",
                                  threshold: float = 0.2,
                                  m_bits: int = 1 << 23, k: int = 7,
                                  bloom=None) -> DataFrame:
    """EXACT decontamination at deny-corpus scale — the two-phase
    rescue as ONE operator.  Phase 1 probes every corpus gram against
    the bloom (map-side, shuffle-free): zero false negatives means a
    gram that misses is CERTAINLY absent from the reference, so only
    the HIT grams need verification and false positives only add
    phase-2 work, never wrong output.  Phase 2 flips the join
    direction: the hit-gram set (tiny after pruning) BROADCASTS
    against one scan of the reference — never a corpus-wide shuffle,
    never a reference-sized broadcast, which is exactly the plan
    ``contamination_report`` cannot produce when the deny set is
    itself a corpus.

    Output is IDENTICAL to ``contamination_report(t, reference, ...)``
    row for row, for ANY filter geometry — the bloom changes the
    execution path, not the result (pinned in tests with a
    deliberately undersized, high-FPR filter).  Pass a prebuilt
    ``bloom=`` (e.g. ``read_bloom`` of an incremental store built
    with the same ``n``) to skip the build scan; geometry mismatches
    against a mis-built filter cannot corrupt the result, only its
    cost."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if bloom is None:
        bloom = build_ngram_bloom(reference, n, text_col, m_bits, k)
    bloom = _require_bloom(bloom)
    grams = _spread(t.df, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(
            ngram_array(F.col(text_col), n))).alias("g"))
    # The probe pass feeds BOTH phase-2 consumers (the hit-gram set that
    # prunes the reference scan, and the per-doc recount) — without a
    # persist Spark re-executes the corpus explode + k probe joins once
    # per consumer (r15 measured the un-persisted plan at 14 parquet
    # scans / 13 broadcast builds; guide §2.4/§5).
    probed = _hit_expr(grams, bloom, F.col("g"))
    with owned_cache(probed) as c:
        hitset = probed.filter(F.col("_bloom_hit")).select("g").distinct()
        ref_g = _spread(reference.df, text_col).select(
            F.explode(F.array_distinct(
                ngram_array(F.col(text_col), n))).alias("g"))
        true_g = (ref_g.join(F.broadcast(hitset), "g", "left_semi")
                  .distinct().withColumn("_in_ref", F.lit(1)))
        # One aggregation covers what used to be two doc-keyed aggregations
        # plus a doc-keyed join-back: a gram can only be in ``true_g`` if it
        # hit the bloom (zero false negatives), so joining ALL probed grams
        # against the broadcast verified set and summing ``_in_ref`` counts
        # exactly the flagged-and-verified grams, while count(*) is the
        # per-doc gram total — byte-identical output, one Exchange fewer.
        out = (probed.join(F.broadcast(true_g), "g", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).cast(T.LongType()).alias("n_ngrams"),
                    F.sum(F.coalesce(F.col("_in_ref"), F.lit(0)))
                    .alias("_n_exact")))
        n_cont = F.coalesce(F.col("_n_exact"), F.lit(0)) \
            .cast(T.LongType())
        final = out.select(
            F.col(id_col), F.col("n_ngrams"),
            n_cont.alias("n_contaminated"),
            F.round(n_cont / F.col("n_ngrams"), 4)
            .alias("contamination_rate"),
            (n_cont / F.col("n_ngrams") >= threshold)
            .cast(T.IntegerType()).alias("contaminated"))
        return c.transfer(final)


# two reserved word_idx rows carry the probe parameters, so a saved
# bloom is ONE parquet relation (no sidecar to lose)
_META_M, _META_K = -1, -2


def save_bloom(bloom, path: str) -> None:
    """Persist the packed bitmap + parameters as one parquet relation
    (parameters ride as reserved negative word_idx rows)."""
    bloom = _require_bloom(bloom)
    spark = bloom.df.sparkSession
    meta = local_frame(
        spark, [(_META_M, bloom.m_bits), (_META_K, bloom.k)],
        "word_idx long, bits long")
    bloom.df.unionByName(meta).write.mode("overwrite").parquet(path)


def load_bloom(spark, path: str) -> BloomFilter:
    df = spark.read.parquet(path)
    meta = {r["word_idx"]: r["bits"]
            for r in df.filter(F.col("word_idx") < 0).collect()}
    if _META_M not in meta or _META_K not in meta:
        raise ValueError(
            f"{path!r} is not a saved bloom filter (missing the "
            "reserved parameter rows) — was it written by save_bloom?")
    return BloomFilter(df.filter(F.col("word_idx") >= 0),
                       int(meta[_META_M]), int(meta[_META_K]))
