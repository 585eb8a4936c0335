"""Benchmark: headline pipeline + query timings at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON line (the LAST stdout line — sized to survive
the driver's bounded tail capture; round 4's full 121-query line
outgrew it and landed `parsed: null`):
  {"metric": "pipeline_wall_sec", "value": <sec>, "unit": "sec",
   "queries": {...headline subset sec...}, "sf": <frac>,
   "turns": N, "throughput_turns_per_sec": T, ...}

The FULL per-query timing map (all bench queries) is written to
BENCH_QUERIES.json next to this file; the stdout line carries only the
headline subset plus a pointer.

The headline is the north_rule metric: turns/sec rolled up + compressed
across the 1m/1h/1d retention tiers on the deterministic transcript
corpus (generated once per sf into .cache/, excluded from timing).
Query timings run each __spark_entry__ query with a noop sink (full
compute, no collect).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: every core this process may run on).
The driver heap is get_spark's host-sized default (SPARK_DRIVER_MEM
overrides).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from go_muse_spark.operators.compress import encode_tiers_fused  # noqa: E402
from go_muse_spark.operators.search import (  # noqa: E402
    SearchParams,
    muse_search_rollup,
    series_bounds,
)
from go_muse_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402
from go_muse_spark.sources.transcripts import write_transcripts  # noqa: E402

BENCH_QUERIES = [
    # round-5 fourth sweep (DQ gate / rolling-robust / period argmax /
    # snapshot CDC / layout audit / BM25)
    "dq_events",
    "hampel_25_1h",
    "period_detect_1h",
    "cdc_1h_tier",
    "zorder_audit",
    "bm25_topk",
    "keyness_src",
    "bloom_prefilter",
    "mase_24h",
    "markov_entropy",
    "ess_1h",
    "shape_24h",
    "survival_sessions",
    "skew_advisor",
    "pivot_types_1d",
    "ann_recall",
    "absent_1h",
    "vector_unless_1h",
    "cardinality_trend",
    "dod_cost_1h",
    "chunk_cost_1h",
    "tier_cost",
    "fleet_quantile_1h",
    "markov_memory",
    "burstiness",
    "source_overlap",
    "cross_entropy_matrix",
    "fleet_shape_1d",
    # round-5 third sweep (one representative per new family; the
    # same-shaped siblings — jsd/state_entropy/kendall_xy — track them)
    "psi_drift_1d",
    "heavy_change_1d",
    "ccf_3h",
    "winsorized_mean_1d",
    "mann_kendall_1d",
    "seasonal_mk_1d",
    "slo_above_1h",
    "kmv_rolling_7d",
    "pacf_1d",
    "ks_drift_1d",
    "w1_drift_1d",
    "vector_ratio_1h",
    "ols_trend_1d",
    "incident_overlap",
    "matrix_profile_1d",
    "matrix_profile_1h",
    "asof_interp_click",
    "prom_increase_1h",
    "uniques_hll_1d",
    "rollup_1m",
    "rollup_1d",
    "gapfill_zero_1h",
    "gapfill_ffill_1h",
    "gapfill_linear_1h",
    "chunks_roundtrip_1h",
    "chunks_windowed_roundtrip_1h",
    "token_stats",
    "dedup_exact",
    "minhash_near_dups",
    "cosine_topk",
    "embedding_near_dups",
    "muse_topk_1h",
    "muse_grouped_1h",
    "muse_over_chunks_1h",
    "muse_multi_1h",
    "muse_windowed_1h",
    "muse_windowed_chunks_1h",
    "pii_scrub",
    "corpus_prep_full",
    "asof_click_view",
    "asof_nearest_click",
    "asof_forward_click",
    "asof_click_view_bucketed",
    "sessionize_8h",
    "interval_click_attrib",
    "stratified_sample",
    "mixture_sample",
    "priority_sample_docs",
    "cm_heavy_1d",
    "stl_1h",
    "pmi_pairs_docs",
    "histq_ladder_1d",
    "rate_1h",
    "resets_1d",
    "count_values_1h",
    "stddev_over_time_24h",
    "subquery_maxrate_24h",
    "label_replace_groups",
    "delta_1d",
    "deriv_1h",
    "predict_linear_1h",
    "idelta_1h",
    "holt_winters_1h",
    "mp_ab_global_1d",
    "seasonal_forecast_1h",
    "dtw_pairs_1d",
    "dtw_band_1d",
    "changepoint_1d",
    "theilsen_1d",
    "rolling_corr_24h",
    "fleet_decorr_7d",
    "trimmed_mean_1d",
    "spearman_1d",
    "counter_rate_1h",
    "irate_1h",
    "moving_avg_24h",
    "m4_1d",
    "ewma_1h",
    "brown_1h",
    "sax_1d",
    "top_users_1d",
    "zscore_24h",
    "corr_traffic_value",
    "corr_pairs_1d",
    "corr_pairs_lsh_1d",
    "rollup_dims",
    "tfidf_top3",
    "twa_1h",
    "state_dur_1d",
    "funnel_vcp",
    "funnel_latency",
    "repetition_ratio",
    "cohort_1d",
    "lttb_1d",
    "uniques_1h",
    "wau_7d",
    "quality_gate",
    "hist_value_1d",
    "split_docs",
    "boilerplate_4w",
    "latency_1d",
    "dod_delta_1d",
    "coverage_1h",
    "multimodal_features",
    "cusum_1h",
    "acf_1h",
    "instant_snapshot",
    "histq_1d",
    "alert_episodes_2h",
    "contaminated_docs",
    "pack_512",
    "seasonal_profile",
    "seasonal_anomaly",
    "rollquant_24h",
    "predict_1h",
    "burn_rate",
    "changes_24h",
    "sax_motifs",
    "mad_outliers",
    "ngram_diversity",
    "unigram_logprob",
    "session_window_8h",
    "kmeans_step",
    "gaps_6h",
    "state_transitions",
    "markov_transitions",
    "compact_roundtrip_1h",
    "muse_grouped_dims_1h",
    "kmv_ladder_1d",
    "kmv_jaccard_1d",
    "ohlc_1h",
    "loghist_ladder_1d",
    # retention_1m is correctness-oracled but excluded here: it measures
    # parquet writes to a temp store, not engine compute.
    # ann_ivf_topk / dedup_clusters are correctness-oracled but excluded
    # here: their wall at sf0.1 is codegen-compile / driver-loop fixed
    # cost (9s / 38s), which would drown the signal this list exists for
]


def sf_frac(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def corpus_path(frac: float) -> str:
    """Deterministic transcript corpus sized ~proportionally to sf.

    Env knobs (used by tools/scaling_bench.py to pick a corpus whose
    parallel compute dominates fixed stage latency — the honest setting
    for the two-cluster-size scaling criterion):
      SPARK_GRAFT_CONVS   number of conversations (default 20000*sf)
      SPARK_GRAFT_GAP_S   mean inter-turn gap seconds (default 20);
                          larger => sparser series => more gap-filled
                          dense points per turn
      SPARK_GRAFT_SPAN_D  conv-start span in days (default 2)
    """
    n_convs = int(os.environ.get("SPARK_GRAFT_CONVS", "0")) or max(50, int(20_000 * frac))
    gap_s = float(os.environ.get("SPARK_GRAFT_GAP_S", "20"))
    span_d = float(os.environ.get("SPARK_GRAFT_SPAN_D", "2"))
    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
    os.makedirs(cache, exist_ok=True)
    tag = f"tx_convs{n_convs}_g{gap_s:g}_s{span_d:g}_d64.parquet"
    path = os.path.join(cache, tag)
    if not os.path.exists(path):
        write_transcripts(
            path, n_files=64, n_convs=n_convs, seed=42,
            mean_gap_s=gap_s, span_days=span_d,
        )
    return path


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_CPUS
    frac = sf_frac(sf_dir)
    spark = get_spark(cpus=cpus, app="go-muse-spark-bench")

    # ---------------- headline: turns/sec across 3 tiers + compression
    tx_path = corpus_path(frac)
    tx = spark.read.parquet(tx_path)
    turns = tx.count()
    # spawn the Python UDF workers before the clock starts (one-time cost,
    # irrelevant to steady-state throughput)
    noop_write(
        spark.range(cpus * 4)
        .repartition(cpus)
        .mapInPandas(lambda it: it, "id long")
    )
    # fully fused: raw -> 1m continuous aggregate (partial+final hash agg)
    # -> ONE conv_id exchange -> one mapInPandas doing gap-fill + 1m->1h->1d
    # hierarchical re-agg + Gorilla/DoD encode for all three tiers.
    # Fixed 128 encode partitions at every parallelism level: identical
    # physical job for the N vs 4N scaling comparison, and enough tasks
    # that hot-conversation stragglers average out.
    # Best-of-3: the sandbox is a shared host; min wall is the number
    # least polluted by noisy neighbors.
    # One-exchange variant: raw turns repartitioned by conv_id once;
    # hash(conv_id) satisfies the (conv_id, bucket) grouping clustering,
    # so the agg needs no second exchange and the encoder skips its own.
    # (Right for sparse streams where the 1m agg barely reduces rows;
    # dense streams should use the default partial-agg-first shape.)
    pipeline_wall = float("inf")
    for _ in range(3):
        t0 = time.time()
        pre = tx.select("conv_id", "ts").repartition(128, "conv_id")
        rolled = pre.groupBy(
            "conv_id", F.date_trunc("minute", "ts").alias("bucket_ts")
        ).agg(F.count(F.lit(1)).alias("turn_cnt"))
        chunked = encode_tiers_fused(
            rolled,
            "turn_cnt",
            chunk_size=1024,
            parallelism=128,
            pre_partitioned=True,
        )
        noop_write(chunked)
        pipeline_wall = min(pipeline_wall, time.time() - t0)

    # Same-moment noise context: a 1-second 4-worker memory-bandwidth
    # probe (tools/ceiling_bench) before and after the timed query pass.
    # The record then carries its own contention fingerprint — when a
    # recorded wall is 3-4x the quiet-window number (this host's
    # documented failure mode; r3 recorded chunks_roundtrip_1h at 10.09s
    # vs 2.37s quiet), a depressed probe reading says "host", a normal
    # one says "code". Skipped in the scaling legs, which must run
    # nothing but the measured job.
    def bw_probe() -> float:
        try:
            sys.path.insert(0, os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "tools"))
            from ceiling_bench import run as ceiling_run
            return round(ceiling_run(4, reps=20), 0)
        except Exception:
            return -1.0

    # ---------------- flagship: muse search rate over the bench corpus
    # (round-over-round continuity for the search path itself: rollup is
    # materialized first so the clock sees scoring, not re-aggregation).
    # Skipped in the scaling legs (SPARK_GRAFT_SKIP_QUERIES=1): the
    # scaling criterion is on the pipeline metric, and the sparse 100k-
    # conv scaling corpus would put minutes of FFT in every leg.
    skip_queries = os.environ.get("SPARK_GRAFT_SKIP_QUERIES") == "1"
    muse_wall, n_series, n_len = float("inf"), 0, 0
    rolled_1m = (
        tx.groupBy("conv_id", F.date_trunc("minute", "ts").alias("bucket_ts"))
        .agg(F.count(F.lit(1)).alias("turn_cnt"))
        .localCheckpoint(eager=True)
    ) if not skip_queries else None
    probe_pre = bw_probe() if not skip_queries else None
    if not skip_queries:
        lo, hi, n_len = series_bounds(rolled_1m, 60)
        n_series = rolled_1m.select("conv_id").distinct().count()
        ref = np.zeros(n_len)
        ref[n_len // 4 : n_len // 4 + 5] = [1.0, 3.0, 5.0, 3.0, 1.0]
        for _ in range(2):
            t0 = time.time()
            noop_write(
                muse_search_rollup(
                    rolled_1m,
                    ref,
                    60,
                    group_by=None,
                    params=SearchParams(
                        top_n=10, max_lag=n_len, threshold=0.0, mode="abs"
                    ),
                    bounds=(lo, hi, n_len),
                )
            )
            muse_wall = min(muse_wall, time.time() - t0)

    # ---------------- per-query timings on the driver fixtures
    # INTERLEAVED min-of-3: the whole list runs three times and each
    # query keeps its min — a multi-second co-tenant noise burst (this
    # host's documented failure mode; round-2 recorded rollup_1m at
    # 7.4s vs 0.7s actual) then pollutes one round of many queries
    # instead of every attempt of one query, so round-over-round
    # comparisons track the code, not the hypervisor
    qmap = entrymod.queries()
    timings: dict[str, float] = {}
    for _ in range(0 if skip_queries else 3):
        for name in BENCH_QUERIES:
            t0 = time.time()
            noop_write(qmap[name](spark, sf_dir))
            wall = time.time() - t0
            timings[name] = round(
                min(timings.get(name, float("inf")), wall), 3
            )

    # full per-query map -> artifact file; stdout line stays compact so
    # the driver's bounded tail capture can always parse it
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_QUERIES.json"
    )
    if timings:
        with open(full_path, "w") as fh:
            json.dump(
                {"sf": frac, "cpus": cpus, "queries": timings}, fh,
                indent=1, sort_keys=True,
            )
    headline_queries = [
        "rollup_1m", "chunks_roundtrip_1h", "gapfill_linear_1h",
        "muse_topk_1h", "muse_over_chunks_1h", "matrix_profile_1d",
        "dedup_exact", "minhash_near_dups", "embedding_near_dups",
        "prom_increase_1h",
    ]
    out = {
        "metric": "pipeline_wall_sec",
        "value": round(pipeline_wall, 3),
        "unit": "sec",
        "queries": {
            q: timings[q] for q in headline_queries if q in timings
        },
        "queries_full": "BENCH_QUERIES.json",
        "n_queries_full": len(timings),
        "sf": frac,
        "turns": turns,
        "throughput_turns_per_sec": round(turns / pipeline_wall, 1),
        "cpus": cpus,
    }
    if not skip_queries:
        out.update(
            muse_wall_sec=round(muse_wall, 3),
            muse_n_series=n_series,
            muse_series_len=n_len,
            muse_series_per_sec=round(n_series / muse_wall, 1),
            host_bw_probe_mb_s={"pre": probe_pre, "post": bw_probe()},
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
