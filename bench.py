#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (r6 fix — BENCH_r05.json came back `parsed: null` because
the single 79-query JSON line outgrew the driver's ~2 KB tail capture):

* stdout FINAL line: ONE COMPACT JSON line (< ~800 bytes) —
  {"metric": "headline_queries_total_wall", "value": total_sec,
   "unit": "sec", "queries": {<group>: subtotal_sec, ...}, "sf": ...,
   "n_queries": N, "detail": "BENCH_LOCAL.json"} — group subtotals, not
  per-query, so the driver's tail capture always parses it.
* full per-query detail (same shape as the old line, plus groups) is
  written to BENCH_LOCAL.json next to this script and committed per
  round, so the per-query series continues there.

The reference publishes no numbers (BASELINE.md) — these wall-clocks are
the living baseline. Each query runs after a warmup query primes the
JVM/parquet footers; the timed action is a NOOP-SINK WRITE (full plan
execution with every output column materialized — count() lets Catalyst
prune projection work; BASELINE.md "bench action correction").

Per-query profile (``--profile``): for each named query it reports,
separately, ``build_s`` (time for queries()[name](spark, sf_dir) to
return; eager entries do their work here), ``plan_s`` (physical
planning of the returned frame), ``exec1_s`` (first noop-sink run,
codegen JIT included) and ``run2_total_s`` (a fresh build plus noop-sink
run after clearCache, the protocol above). It prints one indented JSON
object and writes nothing else. It reads the data from
$SPARK_GRAFT_SF_DIR, which it requires.

    SPARK_GRAFT_SF_DIR=<sf_dir> python bench.py --profile <query> [<query> ...]
    python bench.py --profile --plans <outdir> [--suffix S] <query> ...
        # also save explain("formatted") to <outdir>/<query>_<S>.txt
        # (S defaults to "before")
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402
from hnsw_vector_db_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402

# headline queries, grouped so per-round totals stay comparable: each
# group's subtotal is tracked independently in BASELINE.md (adding a new
# group never perturbs an old group's number).
GROUPS: dict[str, list[str]] = {
    # r1 set: the scan/join/agg-heavy queries that stress the engine at
    # sf0.1 (600k lineitem, 100k events), plus the vector/dedup core.
    "r1_core": [
        "knn_cosine",
        "knn_batch",
        "lsh_ann",
        "similarity_join",
        "embedding_neardup",
        "exact_dedup",
        "jaccard_pairs",
        "minhash_lsh_neardup",
        "simhash_neardup",
        "token_stats",
        "quality_score",
        "tfidf_top_terms",
        "pipeline_clean_corpus",
        "pricing_summary",
        "top_orders",
        "order_ranks",
        "orders_by_month",
        "lineitem_corr",
        "customer_cube",
        "value_percentiles",
        "events_window",
        "events_sliding",
        "sessionize",
        "asof_join",
        "range_join",
        "ivf_ann",
        "hnsw_ann",
    ],
    # corpus-pipeline stages added in r2
    "r2_corpus": [
        "chunk_docs",
        "pack_sequences",
        "pii_redact",
        "stratified_sample",
        "shard_shuffle",
        "repetition_stats",
        "pipeline_training_corpus",
        "events_distinct_users",
        "matryoshka_knn",
        "hard_negatives",
        "temperature_mix",
    ],
    # retrieval additions in r4 — BM25, hybrid RRF fusion, int8 SQ kNN
    "r4_retrieval": [
        "bm25_topk",
        "hybrid_rrf",
        "sq_knn",
        "mmr_rerank",
    ],
    # r5 additions — filtered ANN, recall bar, funnel/unigram analytics,
    # index maintenance, dedup survivors, RAG, plan rewrite, format scan
    "r5_main": [
        "ivf_filtered",
        "hnsw_filtered_recall",
        "hnsw_recall_target",
        "funnel_steps",
        "unigram_logprob",
        "ivf_recenter",
        "hnsw_rebalance",
        "cohort_retention",
        "dedup_keep_best",
        "api_lifecycle",
        "hash_embed",
        "rag_search",
        "knn_plan_rewrite",
        "vectorflow_scan",
        "bigram_logprob",
        "rolling_revenue",
        "edit_neardup",
        "normalize_text",
        "resample_ffill",
        "anomaly_zscore",
        "scd2_history",
        "ab_welch",
        "value_histogram",
        "pmi_collocations",
        "zorder_values",
        "semantic_dedup",
    ],
    # late-r5 analytics batch 2 — profiling, skyline, heavy hitters, EMA,
    # weighted sampling, PageRank, pHash near-dup, Bloom join, etc.
    "r5_analytics2": [
        "profile_table",
        "skyline",
        "heavy_hitters",
        "ema_smooth",
        "weighted_sample",
        "pagerank",
        "phash_neardup",
        "bloom_semi_join",
        "incremental_agg",
        "quantile_scale",
        "ndcg_eval",
        "pipeline_entity_resolution",
    ],
    # r6 additions — span-level exact dedup (Lee et al. 2021 class),
    # approx-tier profiling, DSIR-class importance weighting
    "r6_new": [
        "span_dedup",
        "profile_approx",
        "dsir_weights",
        "bq_encode",
        "bq_knn",
        "maxsim_search",
        "triangle_count",
        "stream_sessionize",
        "kneser_ney_logprob",
        "random_projection",
        "grouped_split",
        "bpe_train",
        "bpe_encode",
        "cap_per_group",
        "incremental_dedup",
        "stream_incremental_dedup",
        "compact_files",
        "salted_join",
        "radius_search",
        "integrity_audit",
        "audio_spectral",
        "label_propagation",
        "tpch_q3",
        "tpch_q5",
        "tpch_q10",
        "tpch_q6",
        "rolling_actives",
    ],
    # r7 additions — large-star/small-star CC scale tier, TPC-H
    # multi-correlation shapes, JPEG header tier, trained quality
    # classifier, streaming ANN serving
    "r7_new": [
        "cc_scale",
        "cc_incremental",
        "corpus_report",
        "tpch_q21",
        "tpch_q18",
        "tpch_q2",
        "boilerplate_strip",
        "image_meta",
        "quality_classifier",
        "stream_knn",
    ],
    # r8 additions — Q20 nested semi (+ one-pass twin), Q2 production
    # twin, hash-sampled classifier training, ANN-backed stream serving,
    # planted near-dup eval
    "r8_new": [
        "tpch_q20",
        "tpch_q20_fast",
        "tpch_q2_fast",
        "quality_classifier_sampled",
        "stream_knn_ann",
        "dedup_eval",
        "tpch_q17",
        "tpch_q17_fast",
        "tpch_q13",
        "tpch_q22",
        "tpch_q19",
        "url_dedup",
        "wet_scan",
        "tpch_q4",
        "tpch_q15",
        "pipeline_crawl",
        "tpch_q7",
        "tpch_q8",
        "tpch_q9",
        "tpch_q11",
        "tpch_q12",
        "tpch_q14",
        "tpch_q16",
        "wet_scan_gz",
        "partition_prune",
        "tokenizer_stats",
    ],
    # r9 additions — trainer-ready token shards, HTML extraction tier +
    # HTML-rooted capstone, stored-weights report, ANN operating-point
    # tuner
    "r9_new": [
        "token_shards",
        "token_shards_audit",
        "token_pack",
        "pipeline_pretrain",
        "html_extract",
        "pipeline_crawl_html",
        "corpus_report_stored",
        "ann_tune",
        "ann_tune_ef",
    ],
    # r10: byte-level BPE roundtrip, recipe capstone + accounting,
    # epoch re-deal, FFD packer + efficiency, streaming generations
    "r10_new": [
        "bpe_bytes_roundtrip",
        "pipeline_recipe",
        "recipe_shares",
        "epoch_shuffle",
        "pack_best_fit",
        "pack_efficiency",
        "pack_best_fit_bins",
        "stream_token_shards",
        "byte_bpe_merges",
        "tokenizer_artifact",
    ],
    # r11: manifest-only epoch shuffle, byte-tier readiness stats +
    # pretrain capstone, listing-level selective shard read
    "r11_new": [
        "epoch_manifest",
        "byte_tokenizer_stats",
        "pipeline_recipe_bytes",
        "shard_rank_read",
        "recipe_epoch_reader",
    ],
    # r12: rank-blocked manifest + pruned read, multi-epoch resume,
    # loss-mask sidecar round trip, word-tier artifact, xxhash64
    # production-hash parity, takedown without a rewrite (drop + mask)
    "r12_new": [
        "rank_epoch_read",
        "epoch_resume",
        "pack_spans",
        "pack_fit_spans",
        "tokenizer_artifact_word",
        "minhash_native",
        "manifest_retract",
        "retract_spans",
        "masked_epoch_read",
        "gen_epoch_read",
    ],
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    # warmup: prime JVM, codegen, and file index
    queries["vector_stats"](spark, sf_dir).count()

    timings: dict[str, float] = {}
    for group, names in GROUPS.items():
        for name in names:
            if name not in queries:
                print(f"# SKIP {name}: not registered", file=sys.stderr)
                continue
            fn = queries[name]
            # min of 2 runs: run 1 pays whole-stage-codegen JIT for this
            # query's generated classes, run 2 measures the plan itself —
            # min-of-N is the standard way to report a compiled engine's
            # steady-state cost.
            # The timed action is a NOOP SINK write, not count(): count()
            # lets Catalyst prune every column-level expression (a pure
            # projection query times as a bare scan — repetition_stats
            # measured 0.12 s under count() vs 1.65 s real; BASELINE.md
            # "bench action correction"). The noop sink consumes every
            # output row in full, which is what the driver's toPandas
            # comparison pays too.
            best, n = None, 0
            for i in range(2):
                # bench action correction #2: several operators persist a
                # forked intermediate (pagerank's edges, kneser_ney's
                # bigram table, ...). Spark's CacheManager matches run 2's
                # IDENTICAL logical plan against run 1's cache, so without
                # clearing, min-of-2 times a cache READ, not the query
                # (measured: kneser_ney 6.6 s cached vs 54 s cold at 64x).
                spark.catalog.clearCache()
                t0 = time.time()
                df = fn(spark, sf_dir)
                if i == 0:
                    # row count via an Observation on the warmup run — no
                    # third execution, and run 2 (the usual min) is
                    # untouched
                    from pyspark.sql import Observation

                    obs = Observation()
                    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
                df.write.format("noop").mode("overwrite").save()
                el = time.time() - t0
                if i == 0:
                    n = obs.get["n"]
                best = el if best is None else min(best, el)
            timings[name] = round(best, 3)
            print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)

    subtotals = {
        g: round(sum(timings[q] for q in names if q in timings), 3)
        for g, names in GROUPS.items()
    }
    total = round(sum(timings.values()), 3)

    # full per-query record → file (the authoritative per-query series)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "groups": subtotals,
                "sf": float(sf),
                "n_queries": len(timings),
            },
            f,
            indent=1,
        )
        f.write("\n")

    # compact driver-parseable line → stdout (MUST stay < ~800 bytes:
    # the driver's tail capture is ~2 KB and truncates from the front).
    # r13 (VERDICT_r12 "next round" #2 — make scaling legible): the line
    # now RECORDS the core count and master the run actually used, so the
    # driver's scaling probe can see that $SPARK_GRAFT_CPUS was honored
    # instead of inferring from flat 8-vs-32 ratios (at sf0.1 most
    # entries sit on a per-query driver-paced floor — plan analysis,
    # py4j, small sequential jobs — so total wall barely moves with
    # cores; the data-bound groups are the ones that scale).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": subtotals,
                "sf": float(sf),
                "n_queries": len(timings),
                "cpus": os.environ.get("SPARK_GRAFT_CPUS") or "*",
                "master": spark.sparkContext.master,
                "detail": "BENCH_LOCAL.json",
            }
        )
    )
    spark.stop()


def profile(argv: list[str]) -> None:
    """``--profile`` mode (see the module docstring)."""
    import argparse

    ap = argparse.ArgumentParser(prog="bench.py --profile")
    ap.add_argument("names", nargs="+", metavar="query")
    ap.add_argument("--plans", metavar="outdir")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the scale-factor directory to profile")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = get_spark(
        "bench_profile", **{"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    queries["vector_stats"](spark, sf_dir).count()  # warmup

    out = {}
    for name in args.names:
        fn = queries[name]
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        _ = df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.time()
        if args.plans:
            plan_txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.plans, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(plan_txt)
        # run 2: fresh build, bench protocol
        spark.catalog.clearCache()
        t4 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t5 = time.time()
        out[name] = {
            "build_s": round(t1 - t0, 3),
            "plan_s": round(t2 - t1, 3),
            "exec1_s": round(t3 - t2, 3),
            "run2_total_s": round(t5 - t4, 3),
        }
        print(f"# {name}: {json.dumps(out[name])}", file=sys.stderr)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:2] == ["--profile"]:
        profile(sys.argv[2:])
        sys.exit(0)
    main()
