"""Incremental near-duplicate detection over a growing document corpus.

The batch LSH path (``pipeline.dedup.minhash_candidates``) re-reads the
whole corpus; a training-data ingest pipeline instead sees documents
arrive continuously and must answer "is this NEW doc a near-dup of
ANYTHING seen so far" without an O(corpus) rescan per batch.

Design (Spark-first):

- A persistent **signature store** (parquet) holds one row per
  (doc_id, band, bhash, signature) — the LSH index.  Layout:
  ``store/ingest=<batch>/band=<b>/part-*.parquet``.  ``band`` is a
  partition column so a batch probe prunes to the bands it needs;
  ``ingest`` keys each batch's contribution to its own subdirectory,
  written with mode=overwrite — a ``foreachBatch`` RETRY of the same
  batch id replaces its subdirectory instead of appending duplicates
  (exactly-once, matching the checkpoint contract).
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
- Existence/listing checks go through the Hadoop FileSystem API, so an
  ``s3a://``/``hdfs://`` store probes correctly (a local ``os.listdir``
  would silently see nothing and skip every probe).

At 100 TB the store is the corpus-scale object; everything per-batch is
proportional to batch size x matching buckets, never to the corpus.

NOTE on checkpoints: batch ids restart at 0 with a FRESH checkpoint
directory — as with any Spark streaming sink, checkpoint and store/pairs
paths belong together; starting a new checkpoint against an old store
would overwrite ``ingest=0``.

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


def _mismatch_err(store_path: str, found: str,
                  expected: str = _SIG_FORMAT,
                  what: str = "signature store",
                  fmt_label: str = "signature format") -> ValueError:
    return ValueError(
        f"{what} at {store_path!r} was written with "
        f"{fmt_label} {found!r}; this code produces format "
        f"{expected!r} — probing would silently miss every "
        "cross-batch match.  Rebuild the store (re-ingest) "
        "or pin the engine version that wrote it.")


def _unmarked_err(store_path: str,
                  expected: str = _SIG_FORMAT,
                  marker_name: str = "_SIG_FORMAT",
                  what: str = "signature store") -> ValueError:
    return ValueError(
        f"{what} at {store_path!r} has ingest batches but no "
        f"{marker_name} marker (either a pre-versioning store, or one "
        "that gained batches from a session that could not stamp it); "
        f"this code produces format {expected!r} and cannot verify a "
        "match — rebuild the store (re-ingest) or pin the engine "
        "version that wrote it.")


def _check_sig_format(spark, store_path: str, has_existing: bool,
                      expected: str = _SIG_FORMAT,
                      marker_name: str = "_SIG_FORMAT",
                      what: str = "signature store",
                      fmt_label: str = "signature format") -> None:
    """Fail loudly on a store written by a different signature format;
    stamp new stores.  Marker lives at ``<store>/_SIG_FORMAT``.

    Three tiers, so the guard never silently no-ops (ADVICE r5):
    Hadoop FS via the JVM gateway (any scheme), plain file IO for local
    paths on gateway-less sessions (Spark Connect), and a
    ``spark.read.text`` probe for remote stores on Connect — where the
    marker cannot be *written*, a ``warnings.warn`` records that the
    store is left unstamped rather than pretending it was checked."""
    try:
        fs, _ = _hadoop_fs(spark, store_path)
        jvm = spark._jvm
        marker = jvm.org.apache.hadoop.fs.Path(
            store_path.rstrip("/") + "/" + marker_name)
        if fs.exists(marker):
            stream = fs.open(marker)
            try:
                buf = []
                b = stream.read()
                while b != -1 and len(buf) < 128:
                    buf.append(b & 0xFF)
                    b = stream.read()
                found = bytes(buf).decode("utf-8", "replace").strip()
            finally:
                stream.close()
            if found != expected:
                raise _mismatch_err(store_path, found, expected, what, fmt_label)
        elif has_existing:
            raise _unmarked_err(store_path, expected, marker_name, what)
        else:
            out = fs.create(marker, True)
            try:
                out.write(bytearray(expected.encode()))
            finally:
                out.close()
        return
    except ValueError:
        raise
    except Exception:
        pass  # no JVM gateway (Connect) — fall through to API-only tiers

    if is_local_path(store_path):
        import os
        from urllib.parse import urlparse
        local = urlparse(store_path).path or store_path
        marker_p = os.path.join(local, marker_name)
        if os.path.exists(marker_p):
            with open(marker_p, encoding="utf-8") as fh:
                found = fh.read(128).strip()
            if found != expected:
                raise _mismatch_err(store_path, found, expected, what, fmt_label)
        elif has_existing:
            raise _unmarked_err(store_path, expected, marker_name, what)
        else:
            os.makedirs(local, exist_ok=True)
            with open(marker_p, "w", encoding="utf-8") as fh:
                fh.write(expected)
        return

    # Remote store without a gateway: the marker can still be READ
    # through the Spark API (text source reads a single file or a
    # directory of part files).
    try:
        rows = spark.read.text(
            store_path.rstrip("/") + "/" + marker_name).collect()
        found = next((r[0].strip() for r in rows if r[0].strip()), "")
        if found != expected:
            raise _mismatch_err(store_path, found, expected, what, fmt_label)
        return
    except ValueError:
        raise
    except Exception:
        pass  # marker absent (or unreadable)
    if has_existing:
        # could be a genuine pre-versioned store OR one that gained
        # batches without ever being stamped — either way probing it is
        # unsafe; the error says how to proceed
        raise _unmarked_err(store_path, expected, marker_name, what)
    # Fresh store: STAMP it through the Spark API — a 1-row text write
    # creates a directory marker that every read tier above accepts
    # (spark.read.text reads the part files; the Hadoop-FS tier's file
    # open fails on a directory and cascades here).  Without this, a
    # Connect session's first batch would leave the store permanently
    # unstampable and every later batch would fail _unmarked_err.
    try:
        (local_frame(spark, [(expected,)], "value string")
         .coalesce(1).write.mode("overwrite")
         .text(store_path.rstrip("/") + "/" + marker_name))
        return
    except Exception:
        pass
    import warnings
    warnings.warn(
        f"{what} at {store_path!r}: no JVM gateway and the "
        f"{marker_name} marker could not be written through the Spark API; "
        "the store is left unstamped and the next batch will refuse to "
        "probe it.", stacklevel=3)


from ..fsutil import hadoop_fs as _hadoop_fs
from ..fsutil import is_local_path

# Generation-manifest file for stores on filesystems WITHOUT atomic
# directory rename (object stores): a tiny text file at the store base
# naming the live generation subdirectory.  Single-file PUT is atomic on
# every store tier, so compaction can copy-then-repoint (VERDICT r9 #3)
# where the rename swap would expose readers to a half-copied index.
# Stores that never compact through the manifest path have no _CURRENT
# and resolve to the base directory — the legacy layout, unchanged.
_MANIFEST = "_CURRENT"


def _local_of(path: str) -> str:
    return path[7:] if path.startswith("file://") else path


def _read_small_text(spark, path: str, max_bytes: int = 256) -> str | None:
    """Read a tiny control file (manifest / format marker) through the
    best available tier: Hadoop FS (any scheme), plain file IO for local
    paths on gateway-less sessions, ``spark.read.text`` for remote ones.
    None if the file does not exist on any reachable tier."""
    try:
        from .. import fsutil
        fs, jpath = fsutil.hadoop_fs(spark, path)
        if not fs.exists(jpath):
            return None
        stream = fs.open(jpath)
        try:
            buf = []
            b = stream.read()
            while b != -1 and len(buf) < max_bytes:
                buf.append(b & 0xFF)
                b = stream.read()
        finally:
            stream.close()
        return bytes(buf).decode("utf-8", "replace")
    except Exception:
        pass
    if is_local_path(path):
        import glob
        import os
        local = _local_of(path)
        if os.path.isdir(local):
            # a control file written through the Spark-API text
            # fallback is a DIRECTORY of part files (the
            # _check_sig_format Connect tier) — read them, do not
            # silently drop the marker
            for pf in sorted(glob.glob(os.path.join(local, "part-*"))):
                with open(pf, encoding="utf-8") as fh:
                    content = fh.read(max_bytes).strip()
                if content:
                    return content
            return None
        if not os.path.isfile(local):
            return None
        with open(local, encoding="utf-8") as fh:
            return fh.read(max_bytes)
    try:
        rows = spark.read.text(path).collect()
        return "\n".join(r[0] for r in rows)
    except Exception:
        return None


def _write_small_text(spark, path: str, content: str) -> bool:
    """Atomically (re)write a tiny control file: Hadoop FS create with
    overwrite (a single PUT on object stores — the atomicity the
    manifest flip relies on), or an os-level write+rename for local
    paths on gateway-less sessions.  False when neither tier can write
    (remote store, no gateway) — callers refuse loudly."""
    try:
        from .. import fsutil
        fs, jpath = fsutil.hadoop_fs(spark, path)
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(content.encode()))
        finally:
            out.close()
        return True
    except Exception:
        pass
    if is_local_path(path):
        import os
        local = _local_of(path)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        tmp = local + ".__tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(content)
        os.replace(tmp, local)   # atomic on POSIX
        return True
    return False


def _store_children(spark, path: str) -> list[str]:
    """Child entry names of a store directory (best-tier listing; empty
    when the path is missing or unlistable)."""
    try:
        from .. import fsutil
        fs, jpath = fsutil.hadoop_fs(spark, path)
        if not fs.exists(jpath):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jpath)]
    except Exception:
        pass
    if is_local_path(path):
        import os
        try:
            return os.listdir(_local_of(path))
        except OSError:
            return []
    return []


def _delete_path(spark, path: str) -> None:
    """Best-effort recursive delete (Hadoop FS, else local shutil)."""
    try:
        from .. import fsutil
        fsutil.fs_delete(spark, path)
        return
    except Exception:
        pass
    if is_local_path(path):
        import shutil
        shutil.rmtree(_local_of(path), ignore_errors=True)


def resolve_store_root(spark, store_path: str) -> str:
    """The directory the store's data actually lives in: the generation
    subdirectory named by ``<store>/_CURRENT`` when a manifest exists
    (a store compacted through the object-store path), else the store
    base itself (the legacy / atomic-rename layout).  Every store
    reader and writer resolves through here, so a manifest flip
    repoints them all at once."""
    base = store_path.rstrip("/")
    gen = _read_small_text(spark, base + "/" + _MANIFEST)
    if gen is None:
        return base
    gen = gen.strip()
    if not gen or "/" in gen or "\\" in gen or gen.startswith("."):
        raise ValueError(
            f"store manifest at {base}/{_MANIFEST} names an invalid "
            f"generation {gen!r} — the store is corrupt; inspect the "
            "manifest by hand")
    return base + "/" + gen


def _ingest_ids(spark, store_path: str,
                complete_only: bool = False) -> list[int]:
    """Existing ingest=<n> partition ids in the store (empty if no store).

    Resolves the generation manifest first (idempotent when passed an
    already-resolved root), so callers see the LIVE generation's ids.
    ``complete_only`` keeps only subdirectories carrying a ``_SUCCESS``
    marker — probe reads use it so a crashed prior attempt's half-written
    directory is never scanned (ADVICE r2); id *allocation* sees all dirs
    so a fresh default batch id never collides with a partial one."""
    store_path = resolve_store_root(spark, store_path)
    try:
        fs, jpath = _hadoop_fs(spark, store_path)
        if not fs.exists(jpath):
            return []
        out = []
        jpath_cls = spark._jvm.org.apache.hadoop.fs.Path
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.startswith("ingest="):
                try:
                    i = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if complete_only and not fs.exists(
                        jpath_cls(st.getPath(), "_SUCCESS")):
                    continue
                out.append(i)
        return out
    except Exception:
        # no JVM gateway (Spark Connect): derive ids through the Spark API
        # from the ingest partition column — never guess (ADVICE r2: the
        # old [0] fallback silently probed only ingest=0 and allocated the
        # same default batch id forever)
        try:
            ids = sorted(int(r[0]) for r in spark.read.parquet(store_path)
                         .select("ingest").distinct().collect())
        except Exception:
            return []
        if not complete_only:
            return ids
        # ``complete_only`` must hold on this tier too (r9 review: a
        # half-written ingest was silently scanned on Connect): probe
        # each ingest's _SUCCESS through the Spark API — an explicit
        # file path reads even an underscore-hidden file; absence
        # raises.  O(#ingests) tiny jobs, bounded by compaction.
        out = []
        for i in ids:
            try:
                spark.read.format("text").load(
                    f"{store_path.rstrip('/')}/ingest={i}/_SUCCESS") \
                    .collect()
                out.append(i)
            except Exception:
                continue
        return out


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
    # resolve the generation manifest ONCE — reads, writes and the
    # format check must all land in the live generation (the default
    # pairs sink stays keyed off the caller's base path: pairs are a
    # separate store, not part of the compacted index)
    root = resolve_store_root(spark, store_path)
    # id allocation sees every dir (never reuse a partial attempt's id by
    # accident); probing below uses only _SUCCESS-complete dirs
    all_ids = _ingest_ids(spark, root)
    existing = _ingest_ids(spark, root, complete_only=True)
    if method == "minhash":
        fmt = _SIG_FORMAT
    elif method == "simhash":
        fmt = _SIMHASH_FORMAT
    else:
        raise ValueError(f"method must be 'minhash' or 'simhash': {method!r}")
    _check_sig_format(spark, root, has_existing=bool(all_ids),
                      expected=fmt)
    if batch_id is None:
        batch_id = (max(all_ids) + 1) if all_ids else 0
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
            # filters bhash.  A retried batch must not probe its own
            # previous (failed) attempt: read only the ingest
            # subdirectories that are not this batch's.
            pairs = []
            probe_ids = [i for i in existing if i != batch_id]
            if probe_ids:
                store = spark.read.option("basePath", root).parquet(
                    *[f"{root}/ingest={i}" for i in probe_ids])
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

            (store_entries.select("doc_id", "band", "bhash", "signature")
             .write.mode("overwrite").partitionBy("band")
             .parquet(f"{root}/ingest={batch_id}"))
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
    def _on_batch(bdf: DataFrame, batch_id: int):
        if not bdf.head(1):
            return
        process_batch(Table(bdf), store_path, text_col, id_col,
                      num_perm, bands, shingle_k, seed,
                      batch_id=batch_id, pairs_path=pairs_path)

    return (stream.df.writeStream.foreachBatch(_on_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append").start())


def incremental_simhash_dedup(stream, store_path: str, checkpoint: str,
                              pairs_path: str, text_col: str = "text",
                              id_col: str = "doc_id"):
    """Streaming wrapper for the SIMHASH store variant: pigeonhole chunk
    probes (Hamming <= 3 guarantee per chunk collision) instead of
    MinHash bands; emits (new_doc, matched_doc, est_jaccard) with the
    1 - hamming/64 proxy.  Same store layout, exactly-once semantics and
    compaction path as :func:`incremental_minhash_dedup`; stores are
    format-stamped per method so cross-probing fails loudly."""
    def _on_batch(bdf: DataFrame, batch_id: int):
        if not bdf.head(1):
            return
        process_batch(Table(bdf), store_path, text_col, id_col,
                      batch_id=batch_id, pairs_path=pairs_path,
                      method="simhash")

    return (stream.df.writeStream.foreachBatch(_on_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append").start())


def compact_store(spark, store_path: str, files_per_band: int = 1,
                  strategy: str | None = None) -> None:
    """Rewrite the signature store with ``files_per_band`` files per band,
    collapsing the COMPLETE ingest subdirectories into the highest
    complete ingest id (so subsequent batch ids keep incrementing past
    it).  Long-running streams write one small file per band per batch;
    probe-side scan cost grows with file COUNT (footer opens + listing),
    not data size — periodic compaction restores it.  Run from a
    maintenance job, not the hot path.

    Only ``_SUCCESS``-complete ingests are compacted (ADVICE r9): a
    crashed batch's half-written directory must not be laundered into
    "complete" state, and — worse — if that crashed batch held the max
    id, its checkpoint REPLAY would mode=overwrite the same
    ``ingest=<id>`` directory and wipe the whole compacted store.
    ``keep = max(complete)`` is safe precisely because a committed batch
    id is never replayed; dropped incomplete dirs are rebuilt by the
    stream's replay.

    ``strategy`` (default auto by scheme):

    - ``"rename"`` (local / ``file://`` / ``hdfs://`` / ``viewfs://``,
      r9 VERDICT r8 #8): rewrite to a sibling temp dir, swap via the
      filesystem's ATOMIC directory rename.  The window between the two
      renames loses availability, never data — the store is an index
      rebuildable from the corpus.
    - ``"manifest"`` (object stores — ``s3a://``, ``gs://``, … — whose
      rename is copy+delete; VERDICT r9 #3): rewrite into a NEW
      generation directory under the store base, then atomically flip
      the single-file ``_CURRENT`` manifest (single-file PUT is atomic
      on every tier).  All readers and writers resolve the manifest
      (:func:`resolve_store_root`), so the repoint is a metadata flip;
      the previous generation is best-effort deleted afterwards."""
    _compact_store_impl(spark, store_path, files_per_band, "band",
                        ["_SIG_FORMAT"], strategy, "compact_store")


def _compact_store_impl(spark, store_path: str, files_per: int,
                        part_col: str, markers: list[str],
                        strategy: str | None, name: str) -> None:
    """Shared compaction engine for the ingest-partitioned stores (the
    signature store and the PQ code store differ only in their inner
    partition column and format-marker filename)."""
    from ..fsutil import supports_atomic_rename

    base = store_path.rstrip("/")
    if strategy is None:
        strategy = ("rename" if supports_atomic_rename(base)
                    else "manifest")
    if strategy not in ("rename", "manifest"):
        raise ValueError(f"{name}: strategy must be 'rename' or "
                         f"'manifest', got {strategy!r}")
    root = resolve_store_root(spark, base)
    gateway = True
    if strategy == "rename":
        # gateway probe BEFORE the ids scan: a remote store on a
        # gateway-less (Spark Connect) session must refuse loudly here
        # — the ids fallback tier cannot tell "empty store" from
        # "unreachable store", and a silent no-op on the latter would
        # hide that the compaction never ran.  ONLY AttributeError
        # marks a missing gateway (what spark._jvm raises on Connect);
        # a transient Hadoop/JVM failure on a classic session must
        # propagate, not silently downgrade the swap to the non-atomic
        # os path (r9 review).
        from ..fsutil import fs_exists
        try:
            fs_exists(spark, root)
        except AttributeError:
            gateway = False
        if not gateway and not is_local_path(root):
            raise NotImplementedError(
                f"{name} on a gateway-less (Spark Connect) session can "
                "only swap LOCAL stores with os-level renames; this "
                f"store ({root!r}) needs the Hadoop FS API — run the "
                "compaction from a classic session")
    # ADVICE r9: compact ONLY complete ingests — reading all dirs would
    # launder a crashed batch's partial rows into _SUCCESS-marked state,
    # and keep=max(all) could collide with that batch's checkpoint
    # replay, which would then overwrite the whole compacted store
    complete = _ingest_ids(spark, root, complete_only=True)
    if not complete:
        return
    keep = max(complete)

    def _rewrite(dst_root: str) -> None:
        df = (spark.read.option("basePath", root)
              .parquet(*[f"{root}/ingest={i}" for i in complete])
              .drop("ingest"))
        dst = f"{dst_root}/ingest={keep}"
        if part_col in df.columns:
            (df.repartition(files_per, part_col)
             .write.mode("overwrite").partitionBy(part_col).parquet(dst))
        else:
            # cell-less PQ stores have no inner partition column
            (df.repartition(files_per)
             .write.mode("overwrite").parquet(dst))

    if strategy == "manifest":
        _compact_manifest(spark, base, root, _rewrite, markers, name)
    else:
        _compact_rename(spark, root, _rewrite, markers, name, gateway)


def _compact_rename(spark, root: str, rewrite, markers: list[str],
                    name: str, gateway: bool) -> None:
    """Atomic-directory-rename swap of the live root (the pre-r10
    strategy, now parameterized over the rewrite and markers).
    ``gateway`` comes from the caller's early probe — False means a
    gateway-less session with a LOCAL store (remote ones already
    refused): fall back to os-level renames."""
    from ..fsutil import fs_copy_file, fs_delete, fs_exists, fs_rename

    if not gateway:
        _compact_rename_local(root, rewrite, markers, name)
        return
    tmp, old = root + ".__compact_tmp", root + ".__compact_old"
    fs_delete(spark, tmp)   # stale leftovers from a crashed compaction
    fs_delete(spark, old)
    rewrite(tmp)
    # carry the format stamp into the rewritten store (the swap would
    # otherwise orphan it and the next batch would refuse a marker-less
    # non-empty store)
    for m in markers:
        if fs_exists(spark, f"{root}/{m}"):
            fs_copy_file(spark, f"{root}/{m}", f"{tmp}/{m}")
    # swap: two atomic renames; the store is an index rebuildable from
    # the corpus, so the window between them loses availability, not data
    if not fs_rename(spark, root, old):
        raise OSError(f"{name}: rename {root!r} -> {old!r} refused")
    if not fs_rename(spark, tmp, root):
        fs_rename(spark, old, root)  # restore the original store
        raise OSError(f"{name}: rename {tmp!r} -> {root!r} refused")
    fs_delete(spark, old)


def _compact_rename_local(root: str, rewrite, markers: list[str],
                          name: str) -> None:
    """os/shutil swap for gateway-less sessions (plain local paths and
    file:// URIs only).

    The Spark WRITE keeps the original scheme (``root`` URI + suffix)
    so it lands on the same filesystem the os-level swap operates on —
    a scheme-stripped write target could hit the server's default FS
    instead.  The scheme is stripped MANUALLY (no urlparse: a '#' or
    '?' in a directory name must not truncate the path).  Requires the
    client to share the store's filesystem with the Spark server —
    true for local-mode Connect; a remote Connect server writing to
    ITS local disk cannot be swapped from here."""
    import os
    import shutil

    local = _local_of(root)
    tmp, old = local + ".__compact_tmp", local + ".__compact_old"
    for stale in (tmp, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    rewrite(root + ".__compact_tmp")
    if not os.path.isdir(tmp):
        raise OSError(
            f"{name}: Spark wrote the rewritten store somewhere other "
            f"than {tmp!r} — the session's filesystem is not the "
            "client's (remote Connect server?); compact from a session "
            "that shares the store's filesystem")
    for m in markers:
        mp = os.path.join(local, m)
        if os.path.exists(mp):
            shutil.copy(mp, os.path.join(tmp, m))
    shutil.move(local, old)
    try:
        shutil.move(tmp, local)
    except BaseException:
        shutil.move(old, local)  # restore the original store
        raise
    shutil.rmtree(old)


def _compact_manifest(spark, base: str, root: str, rewrite,
                      markers: list[str], name: str) -> None:
    """Copy-then-repoint compaction (VERDICT r9 #3) for stores whose
    filesystem renames by copy+delete: rewrite into a NEW generation
    directory under the base, carry the format markers, then atomically
    flip the single-file ``_CURRENT`` manifest.  Readers resolve the
    manifest on every store access, so the flip repoints them all; a
    reader that resolved the OLD generation mid-flight loses
    availability when it is deleted below, never data (the store is an
    index rebuildable from the corpus — same caveat as the rename
    swap's two-rename window)."""
    import warnings

    if root == base:
        nxt = 1                      # first generation of a legacy store
    else:
        gen_name = root.rsplit("/", 1)[1]
        try:
            nxt = int(gen_name.split("-", 1)[1]) + 1
        except (IndexError, ValueError):
            raise ValueError(
                f"{name}: live generation {gen_name!r} under {base!r} "
                "does not follow the gen-<n> naming — refusing to pick "
                "a successor") from None
    gen = f"gen-{nxt:06d}"
    gen_dir = f"{base}/{gen}"
    rewrite(gen_dir)
    for m in markers:
        content = _read_small_text(spark, f"{root}/{m}")
        if content is not None and not _write_small_text(
                spark, f"{gen_dir}/{m}", content.strip()):
            raise OSError(f"{name}: could not carry the {m} marker "
                          f"into {gen_dir!r}")
    if not _write_small_text(spark, f"{base}/{_MANIFEST}", gen):
        raise OSError(
            f"{name}: could not flip the {_MANIFEST} manifest at "
            f"{base!r} — no JVM gateway and not a local path; run the "
            "compaction from a classic session")
    # best-effort cleanup of the superseded generation; failure leaves
    # unreferenced data behind (storage cost), never a wrong answer
    try:
        if root != base:
            _delete_path(spark, root)
        else:
            # legacy root: the new generation dir and the manifest live
            # ALONGSIDE the old ingest dirs under base — delete only
            # the superseded ingest=* children (and the now-shadowed
            # base marker copies stay as harmless tombstones)
            for child in _store_children(spark, base):
                if child.startswith("ingest="):
                    _delete_path(spark, f"{base}/{child}")
    except Exception as exc:             # pragma: no cover - best effort
        warnings.warn(f"{name}: superseded generation cleanup under "
                      f"{base!r} failed ({exc}); data is unreferenced "
                      "but still on disk", stacklevel=2)
