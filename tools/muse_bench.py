"""muse search throughput vs the reference's BenchmarkMuseRunLarge.

Reference workload (muse_test.go:182-215, README.md:102): one reference
series, 100 graphs x 50 hosts = 5,000 noise series of n=480 samples,
grouped best-per-graph search -> 128 ms/run on a 2-core 2018 MacBook Air
= ~39k series-comparisons/s.

This tool reports three numbers:
  1. kernel-only: prepare_ref + one batched rfft scoring of the whole
     matrix on ONE core (the honest single-node compute comparison);
  2. engine @ 1x: the full Spark grouped search on the same 5,000-series
     workload (includes all job/scheduling overhead — the reference has
     none, so small workloads flatter it);
  3. engine @ Sx: the same shape scaled S-fold (default 40x = 200k
     series), where fixed overhead amortizes — the scale this engine is
     for.

Usage: python tools/muse_bench.py [scale] [cpus]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from go_muse_spark import kernels as K

N_SAMPLES = 480
N_GRAPHS = 100
N_HOSTS = 50


def workload(n_graphs: int, n_hosts: int, seed: int = 7):
    rng = np.random.default_rng(seed)
    ref = rng.normal(size=N_SAMPLES)
    y = rng.normal(size=(n_graphs * n_hosts, N_SAMPLES))
    return ref, y


def kernel_only(ref: np.ndarray, y: np.ndarray) -> float:
    spec = K.prepare_ref(ref)
    best = float("inf")
    for _ in range(3):  # first call pays numpy's FFT twiddle-cache setup
        t0 = time.time()
        lags, scores = K.batch_xcorr(spec, y)
        K.clamp_abs(scores)
        best = min(best, time.time() - t0)
    return best


def series_table(spark, n_graphs, n_hosts, seed: int = 7):
    """Distributed deterministic noise-series table (no driver transfer)."""
    import pandas as pd

    n = n_graphs * n_hosts

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vals = [
                np.random.default_rng(seed * 1_000_003 + int(i))
                .normal(size=N_SAMPLES)
                .tolist()
                for i in ids
            ]
            yield pd.DataFrame(
                {
                    "graph": [f"graph{int(i) % n_graphs}" for i in ids],
                    "series_key": [f"s{int(i):08d}" for i in ids],
                    "values": vals,
                }
            )

    base = spark.range(n).repartition(spark.sparkContext.defaultParallelism)
    df = base.mapInPandas(
        gen, "graph string, series_key string, values array<double>"
    )
    # materialize OUTSIDE the timed window — this is "the table"
    return df.localCheckpoint(eager=True)


def engine_run(spark, ref, df) -> float:
    """Grouped best-per-graph search over an array-column DataFrame."""
    from go_muse_spark.operators.search import SearchParams, muse_search

    t0 = time.time()
    res = muse_search(
        df,
        ref,
        group_by=["graph"],
        params=SearchParams(top_n=20, max_lag=N_SAMPLES, mode="abs"),
        series_key="series_key",
    )
    res.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    from go_muse_spark.session import DEFAULT_CPUS, get_spark

    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_CPUS

    ref, y = workload(N_GRAPHS, N_HOSTS)
    base_n = len(y)
    k_wall = kernel_only(ref, y)

    spark = get_spark(cpus=cpus, app="muse-bench")
    # warm Python workers
    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    df1 = series_table(spark, N_GRAPHS, N_HOSTS)
    e1 = min(engine_run(spark, ref, df1) for _ in range(3))

    dfs = series_table(spark, N_GRAPHS, N_HOSTS * scale)
    es = min(engine_run(spark, ref, dfs) for _ in range(3))
    spark.stop()

    out = {
        "reference_series_per_sec": 39000,
        "kernel_1core_series_per_sec": round(base_n / k_wall),
        "engine_1x_series": base_n,
        "engine_1x_series_per_sec": round(base_n / e1),
        "engine_scaled_series": base_n * scale,
        "engine_scaled_series_per_sec": round(base_n * scale / es),
        "kernel_wall_s": round(k_wall, 4),
        "engine_1x_wall_s": round(e1, 3),
        "engine_scaled_wall_s": round(es, 3),
        "cpus": cpus,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
