#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized with a projection-FORCING action — a single
aggregate of bit_xor(xxhash64(<every output column>)) — so the full plan
executes without driver-side row transfer dominating the timing.  r15
(VERDICT r14 #1): the previous count() action referenced no columns, so
Catalyst dropped any join whose right side is unique on the key out of
the timed plan entirely (BASELINE.md's r14 footnote measured
dup_ngram_spans_docs' 0.26 s floor as scan+tokenize only); hashing every
column makes every floor pay the plan users actually run.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _shuffle_partitions(sf: float, cpus: int) -> int:
    """Pin shuffle width per scale factor: local[32] over-partitions the
    small SFs (32 near-empty shuffle partitions per pipeline stage add
    fixed task-launch cost and amplify load-noise — judge r2 measured
    simhash swinging 4.5-14.8 s).  ~target: keep partitions busy with
    >= a few MB each; never exceed the core count at small SF."""
    if sf <= 0.011:
        return max(4, cpus // 4)
    if sf <= 0.11:
        return cpus
    return cpus * 2  # sf1+: more, smaller partitions bound per-task memory

# The timed set, in the order the rounds added it.  The first 25 are
# LEGACY_QUERIES, benched since r6: the "value" headline sums ONLY these
# so the cross-round series stays apples-to-apples; every entry is timed
# identically and reported in BENCH_LOCAL.json and "value_full".
BENCH_QUERIES = [
    # legacy: TPC-H-shaped queries + the heavy pipeline operators
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier",
    "q06_revenue_forecast",
    "q10_returned_items",
    "summary_lineitem",
    "rollup_nation_revenue",
    "first_order_per_customer",
    "lag_events",
    "dedup_exact_docs",
    "dedup_minhash_docs",
    "dedup_simhash_docs",
    "embedding_topk",
    "embedding_neardup_lsh",
    "asof_click_before_purchase",
    "percentile_prices",
    "text_quality",
    "text_token_stats",
    "q08_style_market_share",
    "q13_style_order_distribution",
    "q17_style_small_qty_revenue",
    "pivot_status_by_priority",
    "grouping_sets_order_stats",
    "sessionize_user_events",
    "rolling_range_user_values",
    # r9: curation scrubs, quantized chains, the PQ family (each times
    # codebook fit + encode + probe + recall join)
    "cross_doc_dup_lines_docs",
    "cross_doc_scrub_docs",
    "token_commonness_docs",
    "quantized_neardup_chain",
    "quantized_at_rest_chain",
    "neardup_dispatch_pairs",
    "recall_pq_topk",
    "recall_ivf_pq_topk",
    # r10: prebuilt-store ANN, batched top-k, PQ self-dedup, model-based
    # selection end to end
    "ann_store_topk",
    "batched_topk_embeddings",
    "recall_pq_neardup",
    "quality_classifier_docs",
    "dsir_weights_docs",
    "dsir_resample_docs",
    "targeted_corpus_build",
    # r11: wire-dialect selection, the store-fed DSIR and LM composites
    # (counts-store ingests + store-fed scoring full-joined against the
    # one-shot pipeline), bigram LM, dup spans, mixing, edit distance
    "blaze_client_selection",
    "streaming_dsir_pipeline",
    "ngram_lm_docs",
    "perplexity_filter_docs",
    "dup_ngram_spans_docs",
    "dup_ngram_scrub_docs",
    "blaze_client_lm",
    "streaming_lm_pipeline",
    "temperature_mix_docs",
    "edit_distance_verify_docs",
    "blaze_client_mix",
    # r12: stupid backoff, upsampling, wire dedup/decontamination/packing
    # (in-process HTTP server per rep)
    "ngram_lm_backoff_docs",
    "upsample_mix_docs",
    "blaze_client_dedup",
    "blaze_client_contamination",
    "blaze_client_packing",
    # r13: multi-order LMs, token-true packing, trained tokenizers,
    # blooms, SemDeDup, trained PQ over the wire
    "ngram_lm_backoff3_docs",
    "pack_tokenized_docs",
    "chunk_tokenized_docs",
    "pack_bpe_docs",
    "blaze_client_pq",
    "ngram_lm_interp_docs",
    "pack_sep_docs",
    "pack_wordpiece_docs",
    "word_frequencies_docs",
    "train_bpe_docs",
    "ngram_lm_kn_docs",
    "bloom_decontaminate_docs",
    "train_unigram_docs",
    "bloom_two_phase_decontam_docs",
    "semantic_dedup_embeddings",
    "tokenizer_stats_docs",
    # r14: the in-engine logistic fit, maximal dup spans, store-fed
    # remote LM scoring (3 store ingests + HTTP server + remote score
    # per rep), the span-popularity sweep, cluster mixing
    "train_quality_classifier_docs",
    "dup_maximal_spans_docs",
    "blaze_client_store_lm",
    "dup_span_popularity_docs",
    "cluster_mix_docs",
    # r15: the convergence-aided trainer, the registered bloom-store
    # service, UniMax, the CCNet bucket split, C4 cleaning, BM25,
    # winnowing
    "train_classifier_init_docs",
    "blaze_client_store_bloom",
    "unimax_mix_docs",
    "perplexity_buckets_docs",
    "c4_clean_docs",
    "bm25_topk_docs",
    "winnow_candidates_docs",
]
LEGACY_QUERIES = BENCH_QUERIES[:25]


def _force(df) -> int:
    """Materialize ``df`` while referencing EVERY output column: one
    aggregate row of (count, bit_xor(xxhash64(all columns))).  count()
    lets Catalyst prune unreferenced unique-keyed joins out of the
    timed plan; this pays the full projection.  bit_xor (not sum)
    because hash sums overflow long under ANSI mode; map-typed columns
    cast to string first (hash over maps is undefined order)."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") if t.startswith("map<")
            else F.col(c) for c, t in df.dtypes]
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]
    return row["n"]


def main():
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    sf_str = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf_str)
    except ValueError:
        sf_num = 0.1
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("blaze_spark_bench")
        .config("spark.sql.shuffle.partitions",
                str(_shuffle_partitions(sf_num, int(CPUS))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    # warmup: absorb JVM/codegen/reader startup so per-query timings
    # measure steady-state execution.  Every benched query runs once
    # untimed first: the first execution of a heavy pipeline query pays
    # ~5-12 s of Janino/whole-stage-codegen compilation — a per-JVM cost
    # a real cluster pays once per executor and amortizes over the whole
    # job, not part of the plan's steady-state cost (BASELINE.md).
    # Without this the median-of-N mixes one compile-dominated run into
    # every 3-rep sample (judge r2/r3 saw minhash medians swing 2.6-17 s).
    warm = os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0"
    if warm:
        for name in BENCH_QUERIES:
            _force(qs[name](spark, SF_DIR))
    else:
        _force(qs["q06_revenue_forecast"](spark, SF_DIR))

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))

    def _gc():
        # drain GC debt left by the previous run so a full collection
        # doesn't land inside the next timed window (VERDICT r5 #3:
        # q03's 4.6x intra-run spread on an unchanged plan)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        fn = qs[name]
        # median-of-N with recorded [min, max] spread: the box's timings
        # swing 2-3x under harness load; a median + spread separates a real
        # plan regression from a noisy run (VERDICT r2 #9)
        runs = []
        n = 0
        for _ in range(reps):
            _gc()
            t0 = time.time()
            n = _force(fn(spark, SF_DIR))
            runs.append(time.time() - t0)
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 3)
        timings_min[name] = round(runs[0], 3)
        spread[name] = [round(runs[0], 3), round(runs[-1], 3)]
        print(f"# {name}: median {timings[name]}s "
              f"(min {spread[name][0]} max {spread[name][1]}, {n} rows)",
              file=sys.stderr)

    result = {
        "metric": "blaze_spark_headline_queries_total_wall_sec",
        # headline = sum of per-query MINIMA: the steady-state cost of the
        # plans, robust to the box's load spikes (VERDICT r5 #3 suggested
        # promoting it; the median total is kept alongside).  With GC
        # drained before each rep and reps=5, the min is stable run-to-run
        # while any single rep can still catch a 2-4x load gust.
        "value": round(sum(timings_min[n] for n in LEGACY_QUERIES), 3),
        "value_median": round(sum(timings[n] for n in LEGACY_QUERIES), 3),
        "value_min": round(sum(timings_min[n] for n in LEGACY_QUERIES), 3),
        "value_full": round(sum(timings_min.values()), 3),
        "unit": "sec",
        "queries": timings_min,
        "queries_median": timings,
        "spread": spread,
        # methodology markers: totals are only comparable between runs with
        # the same warm mode AND the same headline statistic (ADVICE r4;
        # r6 promoted min-sum to "value" — BENCH_r05's value_min 13.19 is
        # the apples-to-apples predecessor)
        "headline_stat": "min_sum",
        # r15: floors measured under the projection-forcing action
        # (bit_xor of xxhash64 over all output columns) — NOT
        # comparable 1:1 to the count()-actioned BENCH_r01..r14 floors
        # for any entry whose output plan count() could prune
        # (BASELINE.md r15 maps old->new)
        "action": "bit_xor_xxhash64_all_columns",
        "warm": warm,
        "reps": reps,
        "sf": float(sf_str) if sf_str.replace(".", "").isdigit() else sf_str,
    }
    # The driver keeps only the last ~2000 chars of stdout+stderr, so the
    # final stdout line must BOTH come last AND fit inside that window
    # (VERDICT r13 #1: r13's artifact was an executor-pool shutdown stack
    # trace printed by spark.stop() AFTER the result line, and even r12's
    # full line was 7.6 kB — parsed=null either way).  The full result
    # (all timed queries + medians + spreads) goes to BENCH_LOCAL.json;
    # stdout gets a compact line: every aggregate plus the per-query
    # minima for the 25 legacy headline queries (~1.1 kB).
    compact = {k: v for k, v in result.items()
               if k not in ("queries", "queries_median", "spread")}
    compact["queries"] = {n: timings_min[n] for n in LEGACY_QUERIES}
    compact["full"] = "BENCH_LOCAL.json"
    line = json.dumps(compact)
    try:
        spark.sparkContext.setLogLevel("OFF")
    except Exception:
        pass
    try:
        spark.stop()
    except Exception:
        pass
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.json"), "w") as fh:
            fh.write(json.dumps(result) + "\n")
    except OSError:
        pass
    sys.stdout.flush()
    sys.stderr.flush()
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
