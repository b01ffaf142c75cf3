"""Incremental PQ embedding index over a growing corpus.

The batch ANN path encodes the whole corpus at once
(``pipeline.pq.pq_encode`` → ``write_pq_codes``); a training-data
ingest pipeline instead sees embeddings arrive continuously and must
grow the searchable index per micro-batch without an O(corpus) re-encode
— the ANN sibling of :mod:`incremental_dedup`'s signature store.

The code store is ingest-partitioned (``streaming.store``: one
directory per batch keyed by the batch id, complete-only reads, a
format stamp, compaction).  It holds one row per (vec_id, cell?,
pq_code); when coarse centroids are provided the batch is
cell-assigned and partitioned by ``cell`` inside its ingest, so
``ivf_pq_topk``'s probed-cell filter prunes partitions across ALL
ingests.  **Index identity is the trained artifacts**: codes from
different codebooks (or cells from different centroids) never match,
so the ``_PQ_FORMAT`` stamp is a digest of the codebook (and centroid)
bytes and other artifacts fail loudly.  Per micro-batch the work is
ONE encode pass over the batch, never the corpus.

Encoding is deterministic given the codebooks, so the pytest contract
is EXACT: an N-batch ingest produces the bit-identical code set (and
identical ``pq_topk``/``ivf_pq_topk`` answers) as one batch encode of
the concatenation.

No reference equivalent (its "streaming" is lazy iterators —
SURVEY.md §1.1); green-field extension like :mod:`incremental_dedup`.
"""

from __future__ import annotations

import hashlib

import numpy as np

from ..core import Table
from ..pipeline.ivf import ivf_assign
from ..pipeline.pq import pq_encode
from ..wire import local_only
from .store import PQ_INDEX, begin_ingest, compact, read_store, stream_ingest

__all__ = ["pq_index_format", "ingest_pq_batch", "incremental_pq_index",
           "read_pq_index", "compact_pq_store"]


def pq_index_format(codebooks: np.ndarray,
                    centroids: np.ndarray | None = None) -> str:
    """The store-identity string: a digest of the trained artifacts'
    exact bytes (shape + float64 payload).  Two fits that differ in ANY
    codeword produce different formats — their codes must never be
    searched together."""
    h = hashlib.md5()
    h.update(np.ascontiguousarray(codebooks, dtype=np.float64).tobytes())
    h.update(repr(codebooks.shape).encode())
    tag = f"pq1:{h.hexdigest()[:16]}"
    if centroids is not None:
        h2 = hashlib.md5()
        h2.update(np.ascontiguousarray(centroids,
                                       dtype=np.float64).tobytes())
        h2.update(repr(centroids.shape).encode())
        tag += f":ivf:{h2.hexdigest()[:16]}"
    return tag


@local_only
def ingest_pq_batch(batch: Table, store_path: str,
                    codebooks: np.ndarray,
                    centroids: np.ndarray | None = None,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    batch_id: int | None = None) -> None:
    """Encode ONE batch of embeddings and add it to the code store.

    ``batch_id`` defaults to (max existing ingest id) + 1; pass the
    ``foreachBatch`` batch id from streaming so a checkpoint replay
    overwrites its own subdirectory (exactly-once)."""
    ing = begin_ingest(batch.df.sparkSession, PQ_INDEX, store_path,
                       pq_index_format(codebooks, centroids), batch_id)
    coded = batch
    if centroids is not None:
        coded = ivf_assign(coded, centroids, vec_col=vec_col)
    coded = pq_encode(coded, codebooks, vec_col=vec_col)
    keep = [id_col, "pq_code"] + (["cell"] if centroids is not None
                                  else [])
    ing.write(coded.df.select(*keep))


def incremental_pq_index(stream, store_path: str, checkpoint: str,
                         codebooks: np.ndarray,
                         centroids: np.ndarray | None = None,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding"):
    """Streaming wrapper: each micro-batch of embeddings is encoded with
    the FIXED trained codebooks and appended to the store keyed by the
    checkpoint's batch id.  Codebooks deliberately do not update online
    — retrain + re-encode is a new store (new ``_PQ_FORMAT``), exactly
    like the FAISS recipe of training once on a sample."""
    return stream_ingest(stream, PQ_INDEX, checkpoint, lambda bdf, bid:
                         ingest_pq_batch(Table(bdf), store_path, codebooks,
                                         centroids, id_col, vec_col,
                                         batch_id=bid))


def read_pq_index(spark, store_path: str, codebooks: np.ndarray,
                  centroids: np.ndarray | None = None) -> Table:
    """Open the code store for querying (``pq_topk`` / ``ivf_pq_topk``).

    Validates the store was built with THESE artifacts, and reads only
    complete ingests (``_SUCCESS``-marked) so a crashed half-written
    batch directory is never searched."""
    return Table(read_store(spark, PQ_INDEX, store_path,
                            pq_index_format(codebooks, centroids)),
                 "pq_index")


def compact_pq_store(spark, store_path: str, files_per_cell: int = 1,
                     strategy: str | None = None) -> None:
    """Rewrite the PQ code store with ``files_per_cell`` files per cell
    (one file total for a cell-less store), collapsing the COMPLETE
    ingest subdirectories into the highest complete ingest id — the PQ
    sibling of :func:`incremental_dedup.compact_store` (VERDICT r9 #4):
    long-running streams accumulate one parquet directory per batch, and
    probed-cell scan cost grows with file COUNT (listing + footer opens)
    across every ingest.  Same engine, same guarantees: complete-only
    input (a crashed batch's replay must not overwrite the compacted
    store), ``_PQ_FORMAT`` carried across, atomic-rename swap on
    rename-capable filesystems and the copy-then-repoint ``_CURRENT``
    manifest flip on object stores.  ``read_pq_index`` answers
    identically before and after (the digest check still validates the
    artifacts)."""
    compact(spark, PQ_INDEX, store_path, "compact_pq_store",
            files_per_cell, strategy)
