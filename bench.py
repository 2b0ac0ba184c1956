"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py [NAME...]   # named catalog queries instead of HEADLINE

Output: the full per-query map is written to BENCH_detail.json beside
this script and printed as ≤900-char JSON chunk lines; the FINAL stdout
line is a compact JSON object {"metric", "value", "unit", "sf",
"n_queries", "runs"} that fits a bounded tail capture. Diagnostics go
to stderr. BENCH_detail.json also carries each query's best-run
``measure.Record`` (jobs, SQL executions, scan rows and multiplicity
per table).

Each query is written to Spark's ``noop`` sink, which computes every
row and every column and stores nothing, so the measured time covers
the whole plan: a ``count()`` would let the optimizer drop columns and
join sides that the count does not read.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import asdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark, plans
from streamprocessing_kafka_finlight_news_dashboard_spark.measure import measured
from streamprocessing_kafka_finlight_news_dashboard_spark.session import released

# Headline set: one per operator family — the flagship PIT join, a
# TPC-H-style agg + join, windows, dedup ladder, similarity, domain.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "q8_market_share",
    "q21_blocking_suppliers",
    "top_order_per_customer",
    "pit_lookback_join",
    "events_running_drawdown",
    "events_sessionization",
    "events_dedup_keep_last",
    "doc_exact_dedup",
    "doc_minhash_lsh_candidates",
    "doc_minhash_lsh_portable",
    "doc_rolling_fingerprint",
    "doc_langid_ngram",
    "doc_tfidf_top_terms",
    "doc_simhash_hamming_pairs",
    "doc_dup_clusters",
    "emb_cosine_topk",
    "emb_ivf_topk",
    "emb_sign_lsh_near_dup",
    "events_monthly_heatmap_pivot",
    "events_attribution_left_outer",
    "orders_salted_skew_join",
    "signal_generation",
    "doc_hash_split",
    "doc_pack_sequences",
    "doc_repetition_stats",
    "doc_curation_pipeline",
    "emb_semdedup",
    "doc_decontaminate_ngram",
    "portfolio_buy_hold_equity",
    "emb_cluster_balanced_sample",
    "doc_bigram_lm_score",
    "doc_dedup_substrings",
    "emb_pq_adc_topk",
    "doc_bpe_token_stats",
    "doc_paragraph_dedup",
    "doc_bm25_search",
    "doc_dsir_sample",
    "doc_source_overlap",
    "emb_rp_topk",
    "events_ohlc_daily",
    "doc_rag_prep_pipeline",
    "doc_hybrid_rrf_search",
    "doc_minhash_jaccard_estimate",
    "doc_pmi_pairs",
    "doc_token_entropy",
    "doc_decontaminate_bloom",
    "events_activity_pipeline",
    "doc_lr_quality_filter",
    "emb_pq_rerank_topk",
    "emb_ivfpq_topk",
    "emb_knn_pagerank",
    "emb_semantic_decontaminate",
    "emb_centrality_weighted_sample",
    "emb_hard_negatives",
    "doc_temperature_mixture",
    "doc_pack_efficiency",
    "emb_knn_pagerank_weighted",
    "emb_curation_manifest",
    "emb_contrastive_triplets",
    "doc_temperature_mixture_alpha3",
    "doc_training_shard_manifest",
    "emb_knn_label_consensus",
    "doc_perplexity_buckets_by_lang",
    "doc_langid_eval_report",
    "doc_split_leakage_audit",
    "doc_langid_nb",
    "doc_langid_nb_eval_report",
    "doc_url_curation",
    "doc_pii_scrub",
    "emb_dim_truncation_recall",
    "doc_lr_calibration_report",
    "domain_pipeline",
    "domain_pipeline_backtest",
    "doc_repetition_rules",
    "doc_winnow_overlap_pairs",
    "doc_decontamination_audit",
    "doc_winnow_containment_estimate",
    "emb_bitext_margin_mine",
    "emb_bitext_margin_mine_ivf",
    "doc_feature_drift_psi",
    "doc_vocab_oov_rate",
    "emb_drift_psi",
    "events_drift_trend_psi",
    "doc_ngram_novelty",
    "doc_langid_kappa_report",
    "events_scd2_history",
    "doc_curation_funnel",
    "emb_label_centroid_similarity",
    "emb_mmr_rerank",
    "doc_bpe_fertility_report",
    "doc_ks_drift",
    "doc_lang_drift_chi2",
    "emb_knn_triangles",
    "emb_retrieval_eval_report",
]


def _run(df) -> None:
    """Compute every row and column of ``df`` and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="catalog queries (default: HEADLINE)")
    names = ap.parse_args().names or HEADLINE
    unknown = [n for n in names if n not in plans.CATALOG]
    if unknown:
        ap.error(f"unknown catalog queries: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Console progress bars (`\r[Stage …]`) are pure noise in a batch
    # harness and, when the caller captures stdout+stderr merged, their
    # carriage-return spam can clip the headline JSON line out of a
    # bounded tail capture.
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # Warm the JVM/session on the smallest table so query 1 doesn't
    # pay one-time startup costs; also spin up the Python worker pool
    # (one trivial mapInPandas) so the first Arrow-tier query isn't
    # charged the one-time ~3 s process-fork + import cost either.
    _run(plans.CATALOG["q1_pricing_summary"].builder(spark, sf_dir))
    spark.range(0, 1000, 1, int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # Shared-host diagnostic: a load average far above this process's
    # own footprint means external tenants are stealing cores and the
    # absolute timings below are inflated (measured 39→199 s total on
    # identical code under load-avg ~6).
    print(f"# host load-avg at start: {os.getloadavg()}", file=sys.stderr)

    # Contention hardening: SPARK_GRAFT_BENCH_RUNS=N takes the MIN of
    # N runs per query — the min is the least-contended observation,
    # the statistic robust to another tenant stealing cores mid-run.
    # The default is 2: on a multi-tenant host single-run benches
    # mis-signal regressions. The final JSON line carries "runs" so
    # consumers can see the method. Each query also logs its own
    # load-avg delta so a single inflated number is attributable to
    # host noise (load rose under it) vs a real regression (load flat).
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    records: dict[str, dict] = {}
    for name in names:
        q = plans.CATALOG[name]
        best = None
        load0 = os.getloadavg()[0]
        for _ in range(runs):
            # the query's checkpoints and caches are freed after each
            # run, and its counters read, outside the timed span
            with released(), measured(spark) as rec:
                _run(q.builder(spark, sf_dir))
            if best is None or rec.wall_s < best.wall_s:
                best = rec
        timings[name] = best.wall_s = round(best.wall_s, 3)
        records[name] = asdict(best)
        dload = os.getloadavg()[0] - load0
        scans = " ".join(
            f"{t}={r}({best.multiplicity.get(t, '?')}x)"
            for t, r in best.scan_rows.items()
        )
        print(
            f"# {name}: {timings[name]}s"
            + (f" [min of {runs}]" if runs > 1 else "")
            + f" [load delta {dload:+.1f}]"
            + f" jobs={best.jobs} sql={best.sql_executions} scans: {scans}",
            file=sys.stderr,
        )

    print(f"# host load-avg at end: {os.getloadavg()}", file=sys.stderr)
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The headline JSON must be the FINAL, unwrapped line of output:
    # stop the session BEFORE printing (JVM shutdown can log to stderr)
    # and flush both streams so even a merged stdout+stderr capture
    # sees the JSON last, with nothing trailing it. The per-query map
    # goes to BENCH_detail.json and, for a bounded (~2 KB) tail
    # capture, into chunk lines of at most 900 chars each, in HEADLINE
    # order, so the last two chunks always survive whole.
    full = {
        "metric": "headline_query_wall_clock_detail",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "runs": runs,
        "records": records,
    }
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_detail.json"
            ),
            "w",
        ) as f:
            json.dump(full, f)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the chunk lines still carry the map
    # Adding {k: v} to a non-empty dict grows its JSON by exactly
    # len(json.dumps({k: v})): ", " replaces the braces.
    chunks: list[dict[str, float]] = [{}]
    for k, v in timings.items():
        if chunks[-1] and len(json.dumps(chunks[-1])) + len(json.dumps({k: v})) > 760:
            chunks.append({})
        chunks[-1][k] = v
    spark.stop()
    sys.stderr.flush()
    sys.stdout.flush()
    for i, part in enumerate(chunks):
        print(
            json.dumps(
                {
                    "metric": "headline_query_wall_clock_detail_chunk",
                    "part": i + 1,
                    "of": len(chunks),
                    "queries": part,
                    "sf": sf_val,
                    "runs": runs,
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock_total",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "runs": runs,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
