"""Cross-lingual near-duplicate detection — translation-invariant
fingerprints.

A document translated to another language defeats every surface-form
dedup (exact hash, MinHash over word shingles, SimHash over tokens): no
shingle survives translation.  The standard trick is to normalize tokens
into a language-neutral CONCEPT space first (a bilingual lexicon or
embedding-cluster id per token), then fingerprint the concept multiset —
word order and inflection wash out, shared meaning remains.

Spark-first design:

- the lexicon (token -> concept_id) is a dimension table: tokens explode
  from the documents (narrow), the lexicon joins as a BROADCAST hash map
  (a real lexicon is a few million rows — well inside broadcast range;
  pass ``broadcast_lexicon=False`` to shuffle-join a giant one);
- out-of-vocabulary tokens keep a hash of themselves as their concept
  (names and numbers are translation-invariant already);
- the per-doc concept SET (order-free: translations permute word order)
  re-aggregates with ``collect_set`` — one shuffle keyed by doc_id — and
  is fingerprinted two ways:
  * ``concept_fingerprint``: xxhash64 of the sorted concept set — exact
    match across translations with identical concept coverage;
  * MinHash over concepts (reusing the LSH banding of ``dedup``) for
    NEAR-duplicate translations (partial overlap), via
    ``crosslingual_minhash_candidates``.

At 100 TB: one explode + one broadcast join + one doc_id-keyed
aggregation — the same lower bound as any per-document operator; the LSH
stage inherits the no-self-join topology of ``pipeline.dedup``.

No reference equivalent (extension per BASELINE.json north_star: dedup
family for LLM data pipelines).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import owned_cache
from ..core import Table
from ..wire import local_only
from .dedup import _P, _spread, lsh_band_pairs


def _concepts(src: DataFrame, lexicon: DataFrame,
              broadcast_lexicon: bool = True) -> DataFrame:
    """(doc_id, concept) rows: tokens mapped through the lexicon;
    OOV tokens hash to themselves."""
    toks = src.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .alias("tok"))
    lex = lexicon.select(F.lower(F.col("token")).alias("tok"),
                         F.col("concept_id").cast("long").alias("cid"))
    lex = F.broadcast(lex) if broadcast_lexicon else lex
    return (toks.join(lex, "tok", "left")
            .select("doc_id",
                    F.coalesce(F.col("cid"),
                               F.pmod(F.xxhash64("tok"), F.lit(_P)))
                    .alias("concept")))


@local_only
def crosslingual_fingerprint(t: Table, lexicon: Table,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             broadcast_lexicon: bool = True) -> Table:
    """One row per doc: ``concept_fingerprint`` (xxhash64 of the sorted
    distinct concept ids) + ``n_concepts``.  Docs that are translations of
    each other under the lexicon collide exactly."""
    src = _spread(
        t.df.select(F.col(id_col).alias("doc_id"), F.col(text_col)
                    .alias("text")), "doc_id")
    con = _concepts(src, lexicon.df, broadcast_lexicon)
    per_doc = con.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("concept")).alias("concepts"))
    return Table(
        per_doc.select(
            "doc_id",
            F.xxhash64(F.concat_ws(",", F.transform(
                "concepts", lambda c: c.cast("string"))))
            .alias("concept_fingerprint"),
            F.size("concepts").alias("n_concepts")),
        "crosslingual_fingerprint")


@local_only
def crosslingual_dedup(t: Table, lexicon: Table, text_col: str = "text",
                       id_col: str = "doc_id",
                       broadcast_lexicon: bool = True) -> Table:
    """Exact cross-lingual dedup: group by concept fingerprint, keep the
    lowest doc_id per group (same contract as ``exact_dedup``)."""
    fp = crosslingual_fingerprint(t, lexicon, text_col, id_col,
                                  broadcast_lexicon)
    return Table(
        fp.df.groupBy("concept_fingerprint")
        .agg(F.min("doc_id").alias("keeper_id"),
             F.count(F.lit(1)).alias("n_copies")),
        "crosslingual_dedup")


@local_only
def crosslingual_minhash_candidates(t: Table, lexicon: Table,
                                    text_col: str = "text",
                                    id_col: str = "doc_id",
                                    num_perm: int = 32, bands: int = 8,
                                    seed: int = 42,
                                    max_bucket: int = 1000,
                                    broadcast_lexicon: bool = True) -> Table:
    """NEAR-duplicate translations: MinHash over concept ids (not word
    shingles), LSH-banded with the same no-self-join candidate topology as
    ``dedup.minhash_candidates``.  Returns (doc_a < doc_b, est_jaccard)."""
    rng = random.Random(seed)
    a = [rng.randrange(1, _P) for _ in range(num_perm)]
    b = [rng.randrange(0, _P) for _ in range(num_perm)]

    src = _spread(
        t.df.select(F.col(id_col).alias("doc_id"), F.col(text_col)
                    .alias("text")), "doc_id")
    con = _concepts(src, lexicon.df, broadcast_lexicon)
    mins = [F.expr(f"min(((concept * {a[j]}) + {b[j]}) % {_P})")
            .alias(f"m{j}") for j in range(num_perm)]
    sig = F.expr("array(" + ", ".join(f"m{j}" for j in range(num_perm)) + ")")
    sigs = (con.groupBy("doc_id").agg(*mins)
            .select("doc_id", sig.alias("signature")))
    with owned_cache(sigs) as c:
        return c.transfer(Table(
            lsh_band_pairs(sigs, num_perm, bands, max_bucket),
            "crosslingual_minhash_candidates"))
