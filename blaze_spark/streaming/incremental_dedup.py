"""Incremental near-duplicate detection over a growing document corpus.

The batch LSH path (``pipeline.dedup.minhash_candidates``) re-reads the
whole corpus; a training-data ingest pipeline instead sees documents
arrive continuously and must answer "is this NEW doc a near-dup of
ANYTHING seen so far" without an O(corpus) rescan per batch.

Design (Spark-first):

- A persistent **signature store** (parquet) holds one row per
  (doc_id, band, bhash, signature) — the LSH index.  It is an
  ingest-partitioned store (``streaming.store``: one directory per
  batch keyed by the batch id, complete-only probes, a format stamp,
  compaction) with ``band`` as its inner partition column, so a batch
  probe prunes to the bands it needs.
- Per micro-batch: signatures for the batch docs are computed exactly as
  in the batch path, then the batch's band entries probe the store with a
  **broadcast hash join** (the batch side is small by construction; the
  store side is scanned with partition pruning on ``band`` + the dynamic
  bhash filter the broadcast join provides).  In-batch duplicates are
  found with the same in-bucket pairing as the batch path.
- Result pairs are **materialized through a per-batch parquet sink**
  (``pairs/batch_id=<n>/``, mode=overwrite) and read back — NEVER
  collected to the driver: a boilerplate-heavy batch can emit up to
  ``max_bucket^2/2`` pairs per bucket, which is cluster data, not driver
  memory.  Sink-first also freezes the result before the store append
  below, so the lazy plan cannot re-list the store and double-count.

At 100 TB the store is the corpus-scale object; everything per-batch is
proportional to batch size x matching buckets, never to the corpus.

No reference equivalent (its "streaming" is lazy iterators —
SURVEY.md §1.1); green-field extension per the build plan (§7 M5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import owned_cache
from ..core import Table
from ..pipeline.dedup import minhash_signatures
from ..sources import local_frame
from .store import (SIGNATURES, begin_ingest, compact, resolve_store_root,
                    stream_ingest)

__all__ = ["process_batch", "incremental_minhash_dedup",
           "incremental_simhash_dedup", "compact_store",
           "resolve_store_root"]

_PAIR_SCHEMA = ("new_doc long, matched_doc long, est_jaccard double")

# Signature-function format of this code.  Bump whenever the signature
# computation changes (shingle hashing, permutation scheme): signatures
# from different formats NEVER match, so probing an old store would
# silently miss every cross-batch duplicate.  "3" = r6 int-typed
# signature components (values identical to "2" — each min is < 2^31-1 —
# but the store parquet schema narrows to array<int>, halving band-entry
# bytes); "2" = r5 token-hash tuple shingles
# (pipeline.dedup._shingle_hash_parts); "1" was k-word strings.
_SIG_FORMAT = "3"

# The simhash variant stamps its stores with a DISTINCT format family so
# a minhash probe of a simhash store (or vice versa) fails loudly —
# chunk values and band hashes live in the same store columns and would
# otherwise cross-probe with silent ~zero recall.
_SIMHASH_FORMAT = "simhash-1"


def _band_entries(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    r = num_perm // bands
    return sigs.select(
        "doc_id", "signature",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bi: F.struct(
                bi.alias("band"),
                F.xxhash64(F.concat_ws(
                    ",", F.transform(F.slice("signature", bi * r + 1, r),
                                     lambda x: x.cast("string"))
                )).alias("bhash"),
            ),
        )).alias("bk"),
    ).select("doc_id", "signature", F.col("bk.band").alias("band"),
             F.col("bk.bhash").alias("bhash"))


def _est_jaccard(num_perm: int):
    def est(sig_a, sig_b):
        return (F.size(F.filter(
            F.zip_with(sig_a, sig_b, lambda p, q: (p == q).cast("int")),
            lambda eq: eq == 1)) / F.lit(float(num_perm)))
    return est


def _simhash_sigs(batch: Table, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, signature: array<long>[sim_lo, sim_hi]) — the simhash as
    a 2-element array so the store schema matches the minhash layout."""
    from ..pipeline.dedup import simhash

    sh = simhash(batch, text_col, id_col).df
    return sh.select("doc_id",
                     F.array("sim_lo", "sim_hi").alias("signature"))


def _simhash_entries(sigs: DataFrame) -> DataFrame:
    """Pigeonhole chunks as band entries: band=chunk index 0-3, bhash=the
    16-bit chunk value (same (band, bhash) store columns as minhash, so
    the probe/store machinery is shared verbatim).  The chunk layout is
    dedup.simhash_chunks — ONE definition for the batch path and the
    store, so they can never desynchronize."""
    from ..pipeline.dedup import simhash_chunks

    lo, hi = F.element_at("signature", 1), F.element_at("signature", 2)
    return sigs.select(
        "doc_id", "signature",
        F.explode(simhash_chunks(lo, hi)).alias("bk"),
    ).select("doc_id", "signature", F.col("bk.ci").alias("band"),
             F.col("bk.chunk").cast("long").alias("bhash"))


def _est_simhash():
    """Similarity proxy 1 - hamming/64 in [0,1] (same column name as the
    minhash estimate so the pair sink schema is uniform)."""
    def est(sig_a, sig_b):
        from ..pipeline.dedup import simhash_hamming

        ham = simhash_hamming(F.element_at(sig_a, 1), F.element_at(sig_a, 2),
                              F.element_at(sig_b, 1), F.element_at(sig_b, 2))
        return F.round(1.0 - ham / F.lit(64.0), 4)
    return est


def process_batch(batch: Table, store_path: str, text_col: str = "text",
                  id_col: str = "doc_id", num_perm: int = 32,
                  bands: int = 8, shingle_k: int = 5,
                  seed: int = 42, batch_id: int | None = None,
                  pairs_path: str | None = None,
                  method: str = "minhash",
                  max_bucket: int = 1000) -> DataFrame:
    """One increment: probe the store with a batch of new docs, emit
    near-dup candidate pairs (new_doc, matched_doc, est_jaccard;
    matched_doc may be a stored doc OR an earlier doc of the same batch),
    then add the batch's band entries to the store.

    The pairs are written to ``<pairs_path>/batch_id=<n>/`` (default
    ``<store_path>_pairs``) with mode=overwrite, then read back — the
    returned DataFrame is backed by the sink, not driver memory, and a
    retried batch replaces rather than duplicates its output.  The store
    write is likewise keyed: ``<store_path>/ingest=<n>/`` (overwrite).

    ``batch_id`` defaults to max(existing ingest ids)+1 for standalone
    (non-streaming) callers; the streaming wrapper passes foreachBatch's
    batch id for exactly-once retry semantics.
    """
    spark = batch.df.sparkSession
    if method not in ("minhash", "simhash"):
        raise ValueError(f"method must be 'minhash' or 'simhash': {method!r}")
    # the default pairs sink stays keyed off the caller's base path:
    # pairs are a separate store, not part of the compacted index
    ing = begin_ingest(spark, SIGNATURES, store_path,
                       _SIG_FORMAT if method == "minhash"
                       else _SIMHASH_FORMAT, batch_id)
    batch_id = ing.batch_id
    if method == "minhash":
        sigs = minhash_signatures(batch, text_col, id_col, num_perm,
                                  shingle_k, seed).df
        raw_entries = _band_entries(sigs, num_perm, bands)
        est = _est_jaccard(num_perm)
    else:
        if (num_perm, bands, shingle_k, seed) != (32, 8, 5, 42):
            raise ValueError(
                "num_perm/bands/shingle_k/seed are minhash-only knobs; "
                "the simhash path takes none of them — remove the "
                "arguments (or use method='minhash')")
        sigs = _simhash_sigs(batch, text_col, id_col)
        raw_entries = _simhash_entries(sigs)
        est = _est_simhash()
    with owned_cache(sigs):
        # hot-bucket cap (same skew guard as the batch paths' max_bucket):
        # a degenerate bucket in THIS batch — e.g. the all-zeros simhash
        # chunk of templated docs — would otherwise collect_list the whole
        # batch into one task AND row-multiply against the store probe.
        # The cap applies to the PAIRING sides only; the store still receives
        # a bounded deterministic sample (first max_bucket doc_ids) of each
        # hot bucket, so hot-bucket docs are not silently unindexed for that
        # band forever (ADVICE r6).  Hot buckets are rare by construction, so
        # they are collected for logging and the common no-hot path pays no
        # extra join or window.
        hot_rows = (raw_entries.groupBy("band", "bhash")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .filter(F.col("n") > max_bucket).collect())
        if hot_rows:
            import warnings

            from pyspark.sql import Window

            excluded = sum(r.n for r in hot_rows)
            warnings.warn(
                f"incremental {method} batch {batch_id}: {len(hot_rows)} "
                f"hot bucket(s) over max_bucket={max_bucket} — {excluded} "
                "entries excluded from pairing this batch; the store keeps "
                f"the first {max_bucket} doc_ids per hot bucket",
                stacklevel=2)
            hot = F.broadcast(local_frame(
                spark, [(int(r.band), int(r.bhash)) for r in hot_rows],
                "band int, bhash long"))
            entries = raw_entries.join(hot, ["band", "bhash"],
                                       "left_anti")
            w = Window.partitionBy("band", "bhash").orderBy("doc_id")
            store_entries = (raw_entries
                             .withColumn("__rn", F.row_number().over(w))
                             .filter(F.col("__rn") <= max_bucket)
                             .drop("__rn"))
        else:
            entries = raw_entries
            store_entries = entries
        with owned_cache(entries):
            # probe the persistent index: store-side scan prunes on band
            # (partition column) and the broadcast join dynamically
            # filters bhash.
            pairs = []
            store = ing.read_others()
            if store is not None:
                vs_store = (
                    store.join(
                        F.broadcast(entries.withColumnsRenamed(
                            {"doc_id": "new_doc", "signature": "new_sig"})),
                        ["band", "bhash"])
                    .filter(F.col("doc_id") != F.col("new_doc"))
                    .select(F.col("new_doc"),
                            F.col("doc_id").alias("matched_doc"),
                            est(F.col("new_sig"), F.col("signature"))
                            .alias("est_jaccard"))
                )
                pairs.append(vs_store)

            # in-batch pairs: same bucket-local pairing as the batch path
            grouped = (entries.groupBy("band", "bhash")
                       .agg(F.array_sort(F.collect_list(
                           F.struct("doc_id", "signature"))).alias("docs"))
                       .filter(F.size("docs") >= 2))
            pair_arr = F.flatten(F.transform(
                F.col("docs"),
                lambda x, i: F.transform(
                    F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                    lambda y: F.struct(
                        y["doc_id"].alias("new_doc"),
                        x["doc_id"].alias("matched_doc"),
                        est(x["signature"], y["signature"])
                        .alias("est_jaccard")))))
            in_batch = (grouped.select(F.explode(pair_arr).alias("pr"))
                        .select("pr.new_doc", "pr.matched_doc",
                                "pr.est_jaccard"))
            pairs.append(in_batch)

            out = pairs[0]
            for p in pairs[1:]:
                out = out.unionByName(p)
            out = (out.groupBy("new_doc", "matched_doc")
                   .agg(F.max("est_jaccard").alias("est_jaccard")))

            # sink-first materialization: executors write the pairs, the
            # driver never holds them; overwrite of the batch_id
            # subdirectory makes a retry idempotent
            sink_root = pairs_path or (store_path.rstrip("/") + "_pairs")
            batch_dir = f"{sink_root}/batch_id={batch_id}"
            out.write.mode("overwrite").parquet(batch_dir)

            ing.write(store_entries.select("doc_id", "band", "bhash",
                                           "signature"))
    # explicit schema: an empty result may have written no data files
    return spark.read.schema(out.schema).parquet(batch_dir)


def incremental_minhash_dedup(stream, store_path: str, checkpoint: str,
                              pairs_path: str, text_col: str = "text",
                              id_col: str = "doc_id", num_perm: int = 32,
                              bands: int = 8, shingle_k: int = 5,
                              seed: int = 42):
    """Streaming wrapper: for each micro-batch of documents, emit near-dup
    pairs against everything seen so far to ``pairs_path/batch_id=<n>/``
    (parquet) and grow the signature store.  Uses ``foreachBatch`` with the
    checkpoint's batch id keying both writes — a replayed batch overwrites
    its own subdirectories (exactly-once end to end)."""
    return stream_ingest(stream, SIGNATURES, checkpoint, lambda bdf, bid:
                         process_batch(Table(bdf), store_path, text_col,
                                       id_col, num_perm, bands, shingle_k,
                                       seed, batch_id=bid,
                                       pairs_path=pairs_path))


def incremental_simhash_dedup(stream, store_path: str, checkpoint: str,
                              pairs_path: str, text_col: str = "text",
                              id_col: str = "doc_id"):
    """Streaming wrapper for the SIMHASH store variant: pigeonhole chunk
    probes (Hamming <= 3 guarantee per chunk collision) instead of
    MinHash bands; emits (new_doc, matched_doc, est_jaccard) with the
    1 - hamming/64 proxy.  Same store layout, exactly-once semantics and
    compaction path as :func:`incremental_minhash_dedup`; stores are
    format-stamped per method so cross-probing fails loudly."""
    return stream_ingest(stream, SIGNATURES, checkpoint, lambda bdf, bid:
                         process_batch(Table(bdf), store_path, text_col,
                                       id_col, batch_id=bid,
                                       pairs_path=pairs_path,
                                       method="simhash"))


def compact_store(spark, store_path: str, files_per_band: int = 1,
                  strategy: str | None = None) -> None:
    """Rewrite the signature store with ``files_per_band`` files per band,
    collapsing its complete ingests into the highest complete ingest id
    (``store.compact``: complete-only input, stamp carried, atomic
    rename swap locally or the ``_CURRENT`` manifest flip on object
    stores).  Long-running streams write one small file per band per
    batch, and probe-side scan cost grows with file COUNT, not data
    size; run this from a maintenance job, not the hot path."""
    compact(spark, SIGNATURES, store_path, "compact_store",
            files_per_band, strategy)
