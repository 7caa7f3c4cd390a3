"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: every CPU this
process may run on). Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ..., "docs_per_sec": ..., "media_spans_per_sec": ...}.

The headline is the flagship extraction pipeline (interleaved documents →
det→cls→rec→layout → reassembly) over the deterministic synthetic corpus,
plus the heavy relational/dedup/ANN operators over the driver tables.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    )
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    import __spark_entry__ as entry
    from ppocr_spark.corpus import ensure_corpus
    from ppocr_spark.pipeline import build_session

    corpus = ensure_corpus(entry._corpus_docs_for(sf_dir))

    from ppocr_spark.pipeline import warm_workers

    spark = build_session("ppocr-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark)  # steady-state workers (model load amortized)

    # count corpus work for throughput metrics
    docs_df = spark.read.parquet(f"{corpus}/documents_spans.parquet")
    n_docs = docs_df.count()
    n_media_spans = docs_df.selectExpr(
        "sum(size(filter(spans, s -> s.kind = 'media'))) AS m"
    ).collect()[0]["m"]

    qs = entry.queries()
    headline = [
        "ocr_extract_spans",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "span_explode_reassemble",
        "text_features",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "ann_topk_bruteforce",
        "image_features",
    ]
    # steady-state protocol (BENCH/BASELINE.md): run the flagship pipeline
    # once untimed first — JVM JIT + Arrow/shuffle machinery warmup that a
    # long job amortizes to zero; the timed passes are the sustained rate.
    from ppocr_spark import cache
    from ppocr_spark.config import PPOCRConfig
    from ppocr_spark.pipeline import (
        extract_documents,
        make_stage_metrics,
        snapshot_stage_metrics,
    )

    media_df = spark.read.parquet(f"{corpus}/media.parquet")
    extract_documents(
        docs_df, media_df, PPOCRConfig(cls=True, use_angle_cls=True),
        broadcast_media=True,
    ).count()

    # Measurement discipline (CLAUDE.md): a single shot lies on a shared
    # host — every query is timed best-of-k with the raw samples reported.
    # cache.release_all() between samples keeps each sample cold w.r.t.
    # library persists (no cache-hit inflation of samples 2..k).
    K = int(os.environ.get("SPARK_GRAFT_BENCH_K", "3"))
    extras = [
        "dedup_embedding_lsh",
        "ann_topk_lsh",
        "dedup_substring_spans",
        "decontaminate_spans",
        "quality_gates",
        "clean_corpus_stats",
        "sample_token_budget",
        "dedup_embedding_clusters",
        "chunk_documents",
        "token_shards",
        "text_bm25_topk",
        "text_tfidf_terms",
        "embedding_kmeans",
        "embedding_kmeans_fine",
        "dedup_semantic",
        "sample_source_cap",
        "text_quality_tiers",
        "ann_topk_ivf_fine",
        "ann_topk_ivf_pq",
        "pack_sequences",
        "text_gopher_repetition",
        "text_bigram_logprob",
        "chunk_cdc",
        "bpe_segment_stats",
        "sample_mix_sources",
        "text_dsir_weights",
        "decontaminate_bloom",
        "dedup_keep_best",
        "sample_exact_k",
        "knn_join_fine",
        "text_token_entropy",
        "events_sessionize",
        "events_attribution_asof",
        "events_interval_join",
        "events_funnel",
        "distinct_hll",
        "freq_cms",
        "key_skew_report",
        "events_quantile_sketch",
        "events_rolling_stats",
        "layout_zorder",
        "events_distinct_users_hll",
        "dedup_containment",
        "sample_priority_weighted",
        "documents_profile",
        "embeddings_quality_report",
        "events_cube",
        "events_pivot_daily",
        "dedup_pagerank",
        "embeddings_pca_power",
        "source_overlap_minhash",
        "dedup_ssjoin_prefix",
        "source_token_kl",
        "text_pmi_bigrams",
        "split_leakage_embedding",
        "dedup_incremental",
        "text_inverted_index",
        "text_readability",
        "dedup_source_report",
        "events_dau_wau",
        "dedup_communities_lpa",
        "lang_confusion_matrix",
        "embeddings_class_separation",
        "text_ngram_novelty",
        "events_markov_transitions",
        "dedup_lsh_recall_curve",
        "quality_probe_calibration",
        "events_seasonality",
        "token_shards_balance",
        "simhash_bit_balance",
        "pq_reconstruction_report",
        "dedup_impact_report",
        "ocr_corpus_report",
        "events_ab_lift",
        "embeddings_dim_variance",
        "events_value_outliers",
        "ann_probe_sweep",
        "source_overlap_exact",
        "text_charclass_profile",
        "sample_kfold",
    ]

    # Soft wall budget: the extras list has grown past 80 queries; if a
    # driver-side timeout killed the process mid-run the single JSON
    # line would never print. After the budget elapses, remaining
    # EXTRAS degrade to one sample each (the headline suite always runs
    # full best-of-K; per-query JSON reports its own sample list, so a
    # degraded entry is visible, not silent).
    soft_budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "900"))
    bench_t0 = time.time()

    def time_query(name: str, k: int) -> tuple[float, list[float]]:
        samples = []
        for _ in range(k):
            t0 = time.time()
            qs[name](spark, sf_dir).count()  # full materialization
            samples.append(round(time.time() - t0, 3))
            cache.release_all()
        return min(samples), samples

    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    degraded: list[str] = []
    ocr_sec = None
    for name in headline + extras:
        k = K
        if name not in headline and time.time() - bench_t0 > soft_budget:
            k = 1
            degraded.append(name)
        best, samples = time_query(name, k)
        timings[name] = best
        raw[name] = samples
        if name == "ocr_extract_spans":
            ocr_sec = best

    # K5 stage attribution (AutoLogger analog) from WARM instrumented
    # passes run after the timed loop, so per-stage shares reflect the same
    # steady-state regime as the headline rate (not the cold warmup).
    # Best-of-K per stage: a single instrumented pass on this shared host
    # can inflate one stage 2-3x (BENCH_r03 recorded cls_ms 38.7 s vs the
    # 12-13 s kernel truth — an interleaved old-vs-HEAD cls A/B measured
    # 0.98x, so that spike was co-tenant load, not code). Per-stage minima
    # across K passes are the comparable-across-rounds numbers; the raw
    # passes ship alongside so outliers are visible.
    stage_passes = []
    for _ in range(K):
        stage_metrics = make_stage_metrics(spark)
        extract_documents(
            docs_df, media_df, PPOCRConfig(cls=True, use_angle_cls=True),
            broadcast_media=True, metrics=stage_metrics,
        ).count()
        stage_passes.append(snapshot_stage_metrics(stage_metrics))
    stage_ms = {
        k: min(p[k] for p in stage_passes) for k in stage_passes[0]
    }

    total = round(sum(timings[n] for n in headline), 3)
    out = {
        "metric": "headline suite wall time (docs/sec for extraction in "
        "docs_per_sec)",
        "value": total,
        "unit": "sec",
        "queries": {n: timings[n] for n in headline},
        "extra_queries": {n: timings[n] for n in extras},
        "samples": raw,
        "best_of_k": K,
        "degraded_to_one_sample": degraded,
        "sf": sf,
        "cores": cores,
        "corpus_docs": n_docs,
        "corpus_media_spans": int(n_media_spans),
        "docs_per_sec": round(n_docs / ocr_sec, 2) if ocr_sec else None,
        "media_spans_per_sec": round(int(n_media_spans) / ocr_sec, 2)
        if ocr_sec
        else None,
        "stage_ms": stage_ms,
        "stage_ms_passes": stage_passes,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
