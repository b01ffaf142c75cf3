"""Ingest-partitioned parquet stores: the one module that knows their
layout.

The signature, PQ-index, hashed-counts, LM-counts and bloom stores all
grow one batch at a time and share one discipline; each family declares
itself as a :class:`StoreKind` and keeps only its partial computation:

- **Layout.** ``<store>/ingest=<id>/[<part_col>=<v>/]part-*.parquet``:
  each batch's contribution lives in its own subdirectory.  An ingest
  is bounded by the family's partial (≤ ``n_buckets`` count rows,
  ≤ m/64 bloom words), so the store grows with batch COUNT, and
  :func:`compact` collapses it back to one directory.
- **Exactly-once.** An ingest is written with mode=overwrite under its
  batch id, so a ``foreachBatch`` checkpoint REPLAY replaces its own
  subdirectory instead of appending duplicates.  A standalone call
  defaults to (max existing id) + 1; allocation sees every directory,
  so a fresh id never collides with a crashed attempt's.  Batch ids
  restart at 0 with a fresh checkpoint directory: a checkpoint and its
  store belong together.
- **Complete-only reads.** Reads, probes and compaction see only
  ingests carrying a ``_SUCCESS`` marker, listed and read explicitly:
  a crashed half-written batch is never counted, and its footer is
  never touched by schema inference.
- **Format stamp.** ``<store>/<marker>`` holds the format string of the
  code that wrote it (signature scheme, codebook digest, feature space,
  filter geometry).  Data written under one format is meaningless
  under another, so a mismatch fails loudly, and so does a non-empty
  store without a stamp.  The first ingest creates the stamp;
  check-and-create runs under one lock, which covers ONE process: two
  processes starting the same fresh store at once can still race.
- **Declared schemas.** A family whose writer's schema is fixed
  (counts, LM counts, bloom) declares it, so a read runs no
  schema-inference job.  The PQ-index and signature stores infer, as
  their id column's type comes from the caller.
- **Generations.** Every reader and writer resolves the store root
  through :func:`resolve_store_root` (the ``_CURRENT`` manifest of a
  store compacted on an object store), so a manifest flip repoints
  them all at once.
- **Any filesystem.** Listing, stamps and manifests go through
  ``fsutil``'s tiered helpers, so an ``s3a://``/``hdfs://`` store
  probes correctly and a gateway-less (Spark Connect) session still
  checks and stamps.
"""

from __future__ import annotations

import os
import shutil
import threading
import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .. import fsutil
from ..sources import local_frame

__all__ = ["StoreKind", "SIGNATURES", "PQ_INDEX", "COUNTS", "LM_COUNTS",
           "BLOOM", "QCLS_MODEL", "resolve_store_root", "check_format",
           "ingest_ids", "begin_ingest", "Ingest", "read_store",
           "stream_ingest", "compact"]


@dataclass(frozen=True)
class StoreKind:
    """One store family: its stamp file, the labels its errors use, the
    writer's schema when fixed, its inner partition column and its
    streaming trigger (``availableNow``, or the default trigger with
    empty micro-batches skipped)."""
    marker: str
    what: str
    fmt_label: str
    schema: str | None = None
    part_col: str | None = None
    available_now: bool = False


SIGNATURES = StoreKind("_SIG_FORMAT", "signature store",
                       "signature format", part_col="band")
PQ_INDEX = StoreKind("_PQ_FORMAT", "PQ index store", "index format",
                     part_col="cell")
COUNTS = StoreKind("_COUNTS_FORMAT", "hashed-counts store",
                   "feature space", schema="bucket long, cnt long",
                   available_now=True)
LM_COUNTS = StoreKind("_COUNTS_FORMAT", "LM counts store",
                      "feature space",
                      schema="kind string, bucket long, cnt long",
                      available_now=True)
BLOOM = StoreKind("_BLOOM_FORMAT", "bloom store", "filter geometry",
                  schema="word_idx long, bits long", available_now=True)
# a saved model is one artifact, not an ingest store; it shares the stamp
QCLS_MODEL = StoreKind("_QCLS_FORMAT", "quality-classifier model",
                       "model format")

# Generation-manifest file for stores on filesystems WITHOUT atomic
# directory rename (object stores): a tiny text file at the store base
# naming the live generation subdirectory.  Single-file PUT is atomic on
# every store tier, so compaction can copy-then-repoint where the rename
# swap would expose readers to a half-copied index.  Stores that never
# compact through the manifest path have no _CURRENT and resolve to the
# base directory.
_MANIFEST = "_CURRENT"

_STAMP_LOCK = threading.Lock()


def _ingest_dir(root: str, batch_id: int) -> str:
    return f"{root}/ingest={batch_id}"


def resolve_store_root(spark, store_path: str) -> str:
    """The directory the store's data actually lives in: the generation
    subdirectory named by ``<store>/_CURRENT`` when a manifest exists
    (a store compacted through the object-store path), else the store
    base itself."""
    base = store_path.rstrip("/")
    gen = fsutil.read_small_text(spark, base + "/" + _MANIFEST)
    if gen is None:
        return base
    gen = gen.strip()
    if not gen or "/" in gen or "\\" in gen or gen.startswith("."):
        raise ValueError(
            f"store manifest at {base}/{_MANIFEST} names an invalid "
            f"generation {gen!r} — the store is corrupt; inspect the "
            "manifest by hand")
    return base + "/" + gen


def check_format(spark, kind: StoreKind, root: str, expected: str,
                 has_existing: bool) -> None:
    """Fail loudly on a store stamped with another format, or on a
    non-empty store with no stamp; stamp a fresh one.

    Check-and-create is atomic within this process (one lock), so
    concurrent first ingests accept exactly one format and never read a
    half-written stamp.  On a gateway-less session with a remote store
    the stamp is written through the Spark API as a directory marker
    (every read tier accepts it); if even that fails, a warning records
    that the store is left unstamped."""
    marker = f"{root.rstrip('/')}/{kind.marker}"
    with _STAMP_LOCK:
        found = fsutil.read_small_text(spark, marker)
        if found is not None:
            found = found.strip()
            if found != expected:
                raise ValueError(
                    f"{kind.what} at {root!r} was written with "
                    f"{kind.fmt_label} {found!r}; this code produces "
                    f"format {expected!r} — reading or extending it "
                    "would silently mix incompatible data.  Rebuild "
                    "the store (re-ingest) or pin the engine version "
                    "that wrote it.")
            return
        if has_existing:
            raise ValueError(
                f"{kind.what} at {root!r} has ingest batches but no "
                f"{kind.marker} marker (either a pre-versioning store, "
                "or one that gained batches from a session that could "
                f"not stamp it); this code produces format {expected!r} "
                "and cannot verify a match — rebuild the store "
                "(re-ingest) or pin the engine version that wrote it.")
        if fsutil.write_small_text(spark, marker, expected):
            return
        try:
            (local_frame(spark, [(expected,)], "value string")
             .coalesce(1).write.mode("overwrite").text(marker))
            return
        except Exception:
            pass
    warnings.warn(
        f"{kind.what} at {root!r}: no JVM gateway and the "
        f"{kind.marker} marker could not be written through the Spark "
        "API; the store is left unstamped and the next batch will "
        "refuse it.", stacklevel=3)


def ingest_ids(spark, store_path: str,
               complete_only: bool = False) -> list[int]:
    """The store's ``ingest=<n>`` ids, sorted (empty if no store), in
    the live generation.  ``complete_only`` keeps the directories that
    carry ``_SUCCESS``: reads use it; id allocation sees every
    directory."""
    root = resolve_store_root(spark, store_path)
    names = fsutil.list_names(spark, root)
    if names is None:
        # no tier can list (remote store, no gateway): derive the ids
        # from the ingest partition column rather than guess
        try:
            ids = [int(r[0]) for r in spark.read.parquet(root)
                   .select("ingest").distinct().collect()]
        except Exception:
            return []
    else:
        ids = []
        for name in names:
            key, _, val = name.partition("=")
            if key == "ingest" and val.lstrip("-").isdigit():
                ids.append(int(val))
    if complete_only:
        ids = [i for i in ids if fsutil.path_exists(
            spark, f"{_ingest_dir(root, i)}/_SUCCESS")]
    return sorted(ids)


@dataclass(frozen=True)
class Ingest:
    """One batch's slot in a checked, stamped store."""
    spark: object
    kind: StoreKind
    root: str
    batch_id: int

    def write(self, df: DataFrame) -> None:
        """Overwrite this batch's directory with ``df``, partitioned by
        the kind's inner column when ``df`` carries it."""
        w = df.write.mode("overwrite")
        if self.kind.part_col in df.columns:
            w = w.partitionBy(self.kind.part_col)
        w.parquet(_ingest_dir(self.root, self.batch_id))

    def read_others(self) -> DataFrame | None:
        """The store's other complete ingests (a retried batch never
        probes its own earlier attempt); None when there are none."""
        ids = [i for i in ingest_ids(self.spark, self.root, True)
               if i != self.batch_id]
        return _read_ingests(self.spark, self.root, ids,
                            self.kind.schema) if ids else None


def begin_ingest(spark, kind: StoreKind, store_path: str, expected: str,
                 batch_id: int | None = None) -> Ingest:
    """Resolve the live root, check or create the stamp and allocate
    the batch id (default: max existing id + 1)."""
    root = resolve_store_root(spark, store_path)
    ids = ingest_ids(spark, root)
    check_format(spark, kind, root, expected, has_existing=bool(ids))
    if batch_id is None:
        batch_id = (max(ids) + 1) if ids else 0
    return Ingest(spark, kind, root, batch_id)


def _read_ingests(spark, root: str, ids: list[int],
                 schema: str | None = None) -> DataFrame:
    """The named ingest directories, read explicitly (under ``schema``
    when given), without the ``ingest`` column."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return (reader.option("basePath", root)
            .parquet(*[_ingest_dir(root, i) for i in ids])
            .drop("ingest"))


def read_store(spark, kind: StoreKind, store_path: str,
               expected: str) -> DataFrame:
    """Every complete ingest of a stamped store.  A store with none
    (also a missing path) raises; a read never creates anything."""
    root = resolve_store_root(spark, store_path)
    complete = ingest_ids(spark, root, complete_only=True)
    if not complete:
        raise ValueError(
            f"{kind.what} at {store_path!r} has no complete ingests — "
            "nothing to read yet (the path may not exist, the stream "
            "may not have committed its first batch, or every ingest "
            "directory is missing its _SUCCESS marker)")
    check_format(spark, kind, root, expected, has_existing=True)
    return _read_ingests(spark, root, complete, kind.schema)


def stream_ingest(stream, kind: StoreKind, checkpoint: str, ingest):
    """Start a ``foreachBatch`` query that calls ``ingest(batch_df,
    batch_id)`` per micro-batch, the checkpoint's batch id keying the
    store write.  Returns the started StreamingQuery."""
    def _on_batch(bdf: DataFrame, batch_id: int):
        if kind.available_now or bdf.head(1):
            ingest(bdf, batch_id)

    w = (stream.df.writeStream.foreachBatch(_on_batch)
         .option("checkpointLocation", checkpoint))
    if kind.available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def compact(spark, kind: StoreKind, store_path: str, name: str,
            files_per: int = 1, strategy: str | None = None) -> None:
    """Collapse the store's COMPLETE ingests into one directory under
    the highest complete id (later batch ids keep incrementing past
    it), ``files_per`` files per inner partition value (or in all).
    Scan cost grows with file COUNT, not data size; run this from a
    maintenance job.  Reads answer identically before and after.

    Only complete ingests are compacted: a crashed batch's partial rows
    must not be laundered into complete state, and if that batch held
    the max id its replay would overwrite the whole compacted store.
    ``keep = max(complete)`` is safe because a committed id is never
    replayed; dropped incomplete directories come back by replay.

    ``strategy`` (default by scheme):

    - ``"rename"`` (local, ``file://``, ``hdfs://``, ``viewfs://``):
      rewrite to a sibling temp dir and swap with the filesystem's
      atomic directory rename.  The window between the two renames
      loses availability, never data: the store is an index
      rebuildable from the corpus.
    - ``"manifest"`` (object stores, whose rename is copy+delete):
      rewrite into a new generation directory under the base, then
      flip the single-file ``_CURRENT`` manifest (one atomic PUT); the
      previous generation is deleted best-effort afterwards."""
    base = store_path.rstrip("/")
    if strategy is None:
        strategy = ("rename" if fsutil.supports_atomic_rename(base)
                    else "manifest")
    if strategy not in ("rename", "manifest"):
        raise ValueError(f"{name}: strategy must be 'rename' or "
                         f"'manifest', got {strategy!r}")
    root = resolve_store_root(spark, base)
    gateway = True
    if strategy == "rename":
        # gateway probe BEFORE the ids scan: a remote store on a
        # gateway-less (Spark Connect) session must refuse loudly — the
        # ids fallback cannot tell "empty" from "unreachable".  Only
        # AttributeError marks a missing gateway (what spark._jvm raises
        # on Connect); a transient Hadoop failure on a classic session
        # propagates rather than downgrading to the os-level swap.
        try:
            fsutil.fs_exists(spark, root)
        except AttributeError:
            gateway = False
        if not gateway and not fsutil.is_local_path(root):
            raise NotImplementedError(
                f"{name} on a gateway-less (Spark Connect) session can "
                "only swap LOCAL stores with os-level renames; this "
                f"store ({root!r}) needs the Hadoop FS API — run the "
                "compaction from a classic session")
    complete = ingest_ids(spark, root, complete_only=True)
    if not complete:
        return
    keep = max(complete)

    def _rewrite(dst_root: str) -> None:
        # inferred: the two counts kinds share one compactor
        df = _read_ingests(spark, root, complete)
        dst = _ingest_dir(dst_root, keep)
        if kind.part_col in df.columns:
            (df.repartition(files_per, kind.part_col)
             .write.mode("overwrite").partitionBy(kind.part_col)
             .parquet(dst))
        else:
            (df.repartition(files_per)
             .write.mode("overwrite").parquet(dst))

    if strategy == "manifest":
        _compact_manifest(spark, base, root, _rewrite, kind.marker, name)
    elif gateway:
        _compact_rename(spark, root, _rewrite, kind.marker, name)
    else:
        _compact_rename_local(root, _rewrite, kind.marker, name)


def _compact_rename(spark, root: str, rewrite, marker: str,
                    name: str) -> None:
    """Atomic-directory-rename swap of the live root."""
    tmp, old = root + ".__compact_tmp", root + ".__compact_old"
    fsutil.fs_delete(spark, tmp)   # leftovers of a crashed compaction
    fsutil.fs_delete(spark, old)
    rewrite(tmp)
    # carry the stamp into the rewritten store (the swap would otherwise
    # orphan it and the next batch would refuse a stamp-less store)
    if fsutil.fs_exists(spark, f"{root}/{marker}"):
        fsutil.fs_copy_file(spark, f"{root}/{marker}", f"{tmp}/{marker}")
    if not fsutil.fs_rename(spark, root, old):
        raise OSError(f"{name}: rename {root!r} -> {old!r} refused")
    if not fsutil.fs_rename(spark, tmp, root):
        fsutil.fs_rename(spark, old, root)  # restore the original store
        raise OSError(f"{name}: rename {tmp!r} -> {root!r} refused")
    fsutil.fs_delete(spark, old)


def _compact_rename_local(root: str, rewrite, marker: str,
                          name: str) -> None:
    """os/shutil swap for gateway-less sessions (plain local paths and
    file:// URIs only).  The Spark write keeps the original scheme so
    it lands on the filesystem the os-level swap operates on; this
    needs the client to share the store's filesystem with the Spark
    server (true for local-mode Connect)."""
    import os
    import shutil

    local = fsutil.local_of(root)
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
    mp = os.path.join(local, marker)
    if os.path.exists(mp):
        shutil.copy(mp, os.path.join(tmp, marker))
    shutil.move(local, old)
    try:
        shutil.move(tmp, local)
    except BaseException:
        shutil.move(old, local)  # restore the original store
        raise
    shutil.rmtree(old)


def _compact_manifest(spark, base: str, root: str, rewrite, marker: str,
                      name: str) -> None:
    """Copy-then-repoint compaction for stores whose filesystem renames
    by copy+delete: rewrite into a NEW generation directory, carry the
    stamp, then flip the single-file ``_CURRENT`` manifest.  A reader
    that resolved the old generation mid-flight loses availability when
    it is deleted below, never data."""
    if root == base:
        nxt = 1                      # first generation of a plain store
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
    content = fsutil.read_small_text(spark, f"{root}/{marker}")
    if content is not None and not fsutil.write_small_text(
            spark, f"{gen_dir}/{marker}", content.strip()):
        raise OSError(f"{name}: could not carry the {marker} marker "
                      f"into {gen_dir!r}")
    if not fsutil.write_small_text(spark, f"{base}/{_MANIFEST}", gen):
        raise OSError(
            f"{name}: could not flip the {_MANIFEST} manifest at "
            f"{base!r} — no JVM gateway and not a local path; run the "
            "compaction from a classic session")
    # best-effort cleanup of the superseded generation; failure leaves
    # unreferenced data behind (storage cost), never a wrong answer
    try:
        if root != base:
            fsutil.delete_path(spark, root)
        else:
            # plain root: the new generation and the manifest live
            # alongside the old ingest dirs — delete only those (the
            # shadowed base stamp stays as a harmless tombstone)
            for child in fsutil.list_names(spark, base) or []:
                if child.startswith("ingest="):
                    fsutil.delete_path(spark, f"{base}/{child}")
    except Exception as exc:             # pragma: no cover - best effort
        warnings.warn(f"{name}: superseded generation cleanup under "
                      f"{base!r} failed ({exc}); data is unreferenced "
                      "but still on disk", stacklevel=2)
