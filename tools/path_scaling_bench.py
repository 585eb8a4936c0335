"""Per-path scaling evidence for the north_rule's two-cluster-size
criterion, covering the operators a 100-TB user actually fans out —
the tier pipeline's 0.9+ readings (tools/scaling_bench.py) say nothing
about the muse search, minhash dedup, or embedding-similarity paths,
so each gets its own N vs 4N pinned comparison here.

Method (identical to scaling_bench.py, see BENCH.md):
  * same deterministic synthetic input for both legs, generated once
    into .cache/ (generation excluded from timing);
  * each leg is a fresh pinned JVM (`taskset -c 0..cpus-1`) — an
    unpinned local[N] floats over all host cores and is NOT an N-core
    executor; in-process min-of-2 per leg, legs interleaved over
    `pairs` rounds with min wall per leg (co-tenant noise bursts then
    pollute one attempt, not every attempt of one leg);
  * a same-moment Spark-free bandwidth probe (tools/ceiling_bench.py)
    bounds what ANY scaling number can reach on this host at that
    moment — quote (engine_eff, ceiling_eff) pairs, never engine alone.

Usage:
  python tools/path_scaling_bench.py [N] [pairs] [path ...]
  python tools/path_scaling_bench.py --child <path> <cpus>   (internal)

Paths: muse | minhash | embedding | mp | dtw. Appends a section to
BENCH.md.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CACHE = os.path.join(REPO, ".cache")

# sized so the 8-core leg carries tens of seconds of parallel compute
# (fixed stage latency <10%), while 3 interleaved pairs still finish in
# minutes; override for bigger runs
MUSE_CONVS = int(os.environ.get("SPARK_GRAFT_PS_MUSE_CONVS", "100000"))
MINHASH_DOCS = int(os.environ.get("SPARK_GRAFT_PS_DOCS", "200000"))
EMB_ROWS = int(os.environ.get("SPARK_GRAFT_PS_VECS", "400000"))
# 64-d vectors make the verify stage ~1 MAC per shuffled byte (bandwidth
# -bound on this host); 256-d — the realistic model width — carries 4x
# the compute per shuffled candidate pair.
EMB_DIM = int(os.environ.get("SPARK_GRAFT_PS_EMB_DIM", "64"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _save(df, path: str) -> None:
    """Write a cached input as one file per task slot of the session."""
    n = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(n).write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------- inputs
# All three inputs are pure expressions of the row index — deterministic
# across runs and parallelism levels, no RNG, no external data.


# 30 days of 1m buckets -> 65536-pt FFTs (512 KB arrays — past the
# 2 MiB/core L2, so the kernel streams L3/DRAM and the leg inherits the
# host's ~flat 4->16 bandwidth ceiling). Override to a shorter window
# (e.g. 14400 = 10 days -> 16384-pt, L2-resident) for the compute-bound
# reading — both are real query shapes; see BENCH.md.
MUSE_WINDOW_BUCKETS = int(
    os.environ.get("SPARK_GRAFT_PS_MUSE_BUCKETS", "43200")
)


def muse_input(spark):
    """Transcript corpus (bench.py's generator) -> 1m rollup over a FIXED
    30-day scoring window, checkpointed so the timed section sees scoring
    only.

    The window matters: the corpus's heavy tail (~1% hot convs with up to
    20k turns at 1h mean gap) spans ~2 YEARS, so unbounded series_bounds
    would align every series over ~1M minute-buckets (2^20-point FFTs,
    ~60x the per-series work — measured 567s/pass at 32 cores). Scoring a
    bounded time window is also the realistic query shape; hot convs then
    contribute in-window density, not domain width."""
    from bench import corpus_path

    os.environ.setdefault("SPARK_GRAFT_CONVS", str(MUSE_CONVS))
    os.environ.setdefault("SPARK_GRAFT_GAP_S", "3600")
    os.environ.setdefault("SPARK_GRAFT_SPAN_D", "30")
    path = corpus_path(0.1)
    from pyspark.sql import functions as F

    tx = spark.read.parquet(path)
    rolled = tx.groupBy(
        "conv_id", F.date_trunc("minute", "ts").alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("turn_cnt"))
    lo = rolled.agg(F.min("bucket_ts")).collect()[0][0]
    import datetime as _dt

    hi = lo + _dt.timedelta(seconds=60 * (MUSE_WINDOW_BUCKETS - 1))
    windowed = rolled.filter(
        (F.col("bucket_ts") >= F.lit(lo)) & (F.col("bucket_ts") <= F.lit(hi))
    ).localCheckpoint(eager=True)
    return windowed, (lo, hi, MUSE_WINDOW_BUCKETS)


def docs_path(spark) -> str:
    """Synthetic near-dup corpus: clusters of 4 docs sharing a 150-word
    template with cluster-rank-many words overridden — every cluster
    yields bounded verify pairs (<=6), total pair work linear in N."""
    path = os.path.join(CACHE, f"ps_docs2_{MINHASH_DOCS}.parquet")
    if not os.path.exists(path):
        from pyspark.sql import functions as F

        # template words are murmur3-mixed over (template, position) —
        # an arithmetic progression here makes every template a window
        # of one global cyclic word sequence and the near-dup graph
        # quadratic (first version of this generator did exactly that)
        n_templates = MINHASH_DOCS // 4
        df = spark.range(MINHASH_DOCS).select(
            F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(149)),
                    lambda j: F.when(
                        # rank-many leading words overridden per replica
                        j < (F.col("id") / n_templates).cast("long") * 5,
                        F.concat(F.lit("u"), F.col("id"), F.lit("_"), j),
                    ).otherwise(
                        F.concat(
                            F.lit("w"),
                            F.pmod(
                                F.hash(
                                    (F.col("id") % n_templates) * 1024 + j
                                ),
                                F.lit(30011),
                            ),
                        )
                    ),
                ),
                " ",
            ).alias("text"),
        )
        _save(df, path)
    return path


def emb_path(spark) -> str:
    """Synthetic embedding table: EMB_DIM hash-derived floats/vector."""
    suffix = "" if EMB_DIM == 64 else f"_d{EMB_DIM}"
    path = os.path.join(CACHE, f"ps_emb_{EMB_ROWS}{suffix}.parquet")
    if not os.path.exists(path):
        from pyspark.sql import functions as F

        df = spark.range(EMB_ROWS).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
                lambda d: (
                    F.pmod(F.hash(F.col("id") * EMB_DIM + d), F.lit(2001))
                    .cast("double")
                    / 1000.0
                    - 1.0
                ).cast("float"),
            ).alias("embedding"),
        )
        _save(df, path)
    return path


# ----------------------------------------------------------------- paths


def run_muse(spark) -> tuple[float, int]:
    import numpy as np

    from go_muse_spark.operators.search import (
        SearchParams,
        muse_search_rollup,
    )

    rolled, (lo, hi, n) = muse_input(spark)
    rows = rolled.select("conv_id").distinct().count()
    params = SearchParams(top_n=10, max_lag=n, mode="abs")
    # SPARK_GRAFT_PS_MUSE_REFS > 1 scores a k-pattern batch
    # (muse_search_multi): one corpus scan, k ref spectra per series.
    # The compute-bound short-window shape (SPARK_GRAFT_PS_MUSE_BUCKETS=
    # 14400 -> L2-resident 16384-pt FFTs) otherwise finishes so fast at
    # 16 cores (~6s) that fixed stage latency dominates the N-vs-4N
    # ratio; k refs scale the parallel compute back up without leaving
    # L2 (each inverse FFT still works on 128 KB arrays).
    n_refs = int(os.environ.get("SPARK_GRAFT_PS_MUSE_REFS", "1"))
    refs = {}
    for k in range(n_refs):
        r = np.zeros(n)
        pos = (n // 4 + 97 * k) % (n - 5)
        r[pos : pos + 5] = [1.0, 3.0, 5.0, 3.0, 1.0]
        refs[f"r{k}"] = r
    wall = float("inf")
    for _ in range(2):
        t0 = time.time()
        if n_refs > 1:
            from go_muse_spark.operators.search import muse_search_multi

            _noop(
                muse_search_multi(
                    rolled, refs, 60, group_by=None, params=params,
                    bounds=(lo, hi, n),
                )
            )
        else:
            _noop(
                muse_search_rollup(
                    rolled, refs["r0"], 60, group_by=None, params=params,
                    bounds=(lo, hi, n),
                )
            )
        wall = min(wall, time.time() - t0)
    return wall, rows


def run_minhash(spark) -> tuple[float, int]:
    from go_muse_spark.operators.dedup import minhash_near_dups

    docs = spark.read.parquet(docs_path(spark))
    wall = float("inf")
    for _ in range(2):
        t0 = time.time()
        _noop(minhash_near_dups(docs, threshold=0.5))
        wall = min(wall, time.time() - t0)
    return wall, MINHASH_DOCS


def run_embedding(spark) -> tuple[float, int]:
    from go_muse_spark.operators.similarity import embedding_near_dups

    emb = spark.read.parquet(emb_path(spark))
    wall = float("inf")
    for _ in range(2):
        t0 = time.time()
        _noop(embedding_near_dups(emb, threshold=0.6, multi_probe=True))
        wall = min(wall, time.time() - t0)
    return wall, EMB_ROWS


MP_SERIES = int(os.environ.get("SPARK_GRAFT_PS_MP_SERIES", "2000"))
MP_LEN = int(os.environ.get("SPARK_GRAFT_PS_MP_LEN", "6144"))


def mp_path(spark) -> str:
    """Synthetic dense series corpus for the matrix-profile leg:
    MP_SERIES series x MP_LEN minutely points, values hash-derived
    small ints (integer-exact kernel path, same as the contract
    queries)."""
    path = os.path.join(CACHE, f"ps_mp_{MP_SERIES}x{MP_LEN}.parquet")
    if not os.path.exists(path):
        from pyspark.sql import functions as F

        df = spark.range(MP_SERIES * MP_LEN).select(
            F.concat(F.lit("c"), (F.col("id") / MP_LEN).cast("long")).alias(
                "conv_id"
            ),
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("id") % MP_LEN) * 60
            ).alias("bucket_ts"),
            F.pmod(F.hash(F.col("id")), F.lit(997)).cast("double").alias("v"),
        )
        _save(df, path)
    return path


def run_mp(spark) -> tuple[float, int]:
    from go_muse_spark.operators.matrix_profile import matrix_profile

    df = spark.read.parquet(mp_path(spark))
    wall = float("inf")
    for _ in range(2):
        t0 = time.time()
        _noop(matrix_profile(df, "v", 64))
        wall = min(wall, time.time() - t0)
    return wall, MP_SERIES


DTW_SERIES = int(os.environ.get("SPARK_GRAFT_PS_DTW_SERIES", "800"))
DTW_LEN = int(os.environ.get("SPARK_GRAFT_PS_DTW_LEN", "256"))


def dtw_path(spark) -> str:
    """Synthetic series corpus for the DTW leg: DTW_SERIES series x
    DTW_LEN points, hash-derived small ints (integer-exact kernel,
    same as the contract queries). All-pairs = DTW_SERIES^2/2 pair
    DPs through the batched anti-diagonal kernel."""
    path = os.path.join(CACHE, f"ps_dtw_{DTW_SERIES}x{DTW_LEN}.parquet")
    if not os.path.exists(path):
        from pyspark.sql import functions as F

        df = spark.range(DTW_SERIES * DTW_LEN).select(
            F.concat(F.lit("c"), (F.col("id") / DTW_LEN).cast("long")).alias(
                "conv_id"
            ),
            (F.col("id") % DTW_LEN).alias("i"),
            F.pmod(F.hash(F.col("id")), F.lit(997)).cast("long").alias("v"),
        )
        _save(df, path)
    return path


def run_dtw(spark) -> tuple[float, int]:
    from go_muse_spark.operators.dtw import dtw_pairs

    df = spark.read.parquet(dtw_path(spark))
    wall = float("inf")
    for _ in range(2):
        t0 = time.time()
        _noop(
            dtw_pairs(
                df, key_col="conv_id", idx_col="i", value_col="v",
                top_series=None, broadcast_series=True,
                pair_partitions=128,
            )
        )
        wall = min(wall, time.time() - t0)
    return wall, DTW_SERIES * (DTW_SERIES - 1) // 2


COV_SERIES = int(os.environ.get("SPARK_GRAFT_PS_COV_SERIES", "4000"))
COV_LEN = int(os.environ.get("SPARK_GRAFT_PS_COV_LEN", "4096"))


def cov_path(spark) -> str:
    """Synthetic series corpus for the wide-covariance leg
    (dominant_period / effective_sample_size): COV_SERIES series x
    COV_LEN hourly points, hash-derived small ints — the 35-lag
    window + 105-term decimal aggregate is a distinct plan shape from
    the GEMM/FFT/DP legs: shuffle-light, codegen/aggregate-heavy."""
    path = os.path.join(CACHE, f"ps_cov_{COV_SERIES}x{COV_LEN}.parquet")
    if not os.path.exists(path):
        from pyspark.sql import functions as F

        df = spark.range(COV_SERIES * COV_LEN).select(
            F.concat(F.lit("c"), (F.col("id") / COV_LEN).cast("long")).alias(
                "conv_id"
            ),
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("id") % COV_LEN) * 3600
            ).alias("bucket_ts"),
            F.pmod(F.hash(F.col("id")), F.lit(97)).alias("v"),
        )
        _save(df, path)
    return path


def run_cov(spark) -> tuple[float, int]:
    from go_muse_spark.operators.arfit import dominant_period

    df = spark.read.parquet(cov_path(spark))
    wall = float("inf")
    for _ in range(2):
        t0 = time.time()
        _noop(dominant_period(df, "v", 2, 36))
        wall = min(wall, time.time() - t0)
    return wall, COV_SERIES


PATHS = {
    "muse": run_muse,
    "minhash": run_minhash,
    "embedding": run_embedding,
    "mp": run_mp,
    "dtw": run_dtw,
    "cov": run_cov,
}


def child(path: str, cpus: int) -> None:
    from go_muse_spark.session import get_spark

    # SPARK_GRAFT_PS_SHUFFLE pins one fixed task grid on BOTH legs. The
    # N-vs-4N claim compares slot counts, so the task decomposition must
    # not itself depend on N — but by default it does, twice over: the
    # session sizes shuffle.partitions to the slot count, and AQE's
    # parallelismFirst coalescing floors the post-shuffle partition count
    # at the slot count. Net effect: the 4-core leg runs ~4 coarse
    # hash-imbalanced tasks while the 16-core leg runs >=16 finer ones,
    # and the lo leg's straggler tail reads as super-linear "scaling"
    # (BENCH.md: six mp attempts in 1.19-1.53). With a fixed grid
    # (e.g. 64 tasks) both legs schedule the *same* tasks — lo in 16
    # waves, hi in 4 — which is exactly how a real cluster comparison
    # would hold the job constant while varying executors.
    grid = os.environ.get("SPARK_GRAFT_PS_SHUFFLE")
    extra = (
        {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
        if grid else None
    )
    spark = get_spark(
        cpus=cpus,
        app=f"path-scaling-{path}",
        shuffle_partitions=int(grid) if grid else None,
        extra=extra,
    )
    wall, rows = PATHS[path](spark)
    print(json.dumps({"path": path, "cpus": cpus, "wall": round(wall, 3),
                      "rows": rows}))
    spark.stop()


def run_child(path: str, cpus: int, core_base: int = 0) -> dict:
    # core_base shifts the pinned range off core 0 (IRQ/softirq target on
    # this VM — the 4-core lo legs pinned 0-3 measured bimodal walls while
    # 16-core legs amortized the noise, yielding super-linear artifacts);
    # WHICH homogeneous cores a leg uses is irrelevant to the N-vs-4N
    # software-scaling claim, only HOW MANY.
    pin = ["taskset", "-c", f"{core_base}-{core_base + cpus - 1}"]
    out = subprocess.run(
        pin + [sys.executable, os.path.abspath(__file__), "--child", path,
               str(cpus)],
        capture_output=True, text=True, timeout=1800, check=True,
        env=dict(os.environ),
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2], int(sys.argv[3]))
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    names = sys.argv[3:] or list(PATHS)
    results = {}
    for path in names:
        lo_walls, hi_walls = [], []
        for _ in range(pairs):
            lo_walls.append(run_child(path, n))
            hi_walls.append(run_child(path, 4 * n))
        lo = min(r["wall"] for r in lo_walls)
        hi = min(r["wall"] for r in hi_walls)
        eff = (lo / hi) / 4.0
        results[path] = {
            "rows": lo_walls[0]["rows"],
            f"wall_{n}": lo, f"wall_{4*n}": hi,
            "lo_walls": [r["wall"] for r in lo_walls],
            "hi_walls": [r["wall"] for r in hi_walls],
            "efficiency": round(eff, 3),
        }
    try:
        probe = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "ceiling_bench.py"),
             str(n), str(4 * n)],
            capture_output=True, text=True, timeout=600, check=True,
        ).stdout.strip()
    except Exception as e:
        probe = f"ceiling probe failed: {e}"
    stamp = dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")
    rows_md = "\n".join(
        f"| {p} | {r['rows']} | {r[f'wall_{n}']} {r['lo_walls']} | "
        f"{r[f'wall_{4*n}']} {r['hi_walls']} | {r['efficiency']:.3f} |"
        for p, r in results.items()
    )
    section = f"""
## Per-path scaling run {stamp} (tools/path_scaling_bench.py)

Search / dedup / similarity paths, same protocol as the pipeline runs
(pinned legs, {pairs} interleaved pairs, min wall per leg, in-process
min-of-2):

| path | input rows | wall local[{n}] (s) | wall local[{4*n}] (s) | eff (N->4N) |
|---|---|---|---|---|
{rows_md}

Same-moment Spark-free hardware ceiling: `{probe}`
"""
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(section)
    print(json.dumps({"n": n, "paths": results, "ceiling_probe": probe}))


if __name__ == "__main__":
    main()
