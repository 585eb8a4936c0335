"""Closed-loop benchmark of go_muse_spark: one client, one op in flight,
on a ``local[<cores>]`` session sized to the host.

    python3 perfbench/run.py --workload rollup_encode --seed 1 --seconds 8 \\
        --trace 0 --expect-turns N --expect-hash H

Workloads (see workloads.py): ``rollup_encode`` (rollup + chunk encode,
the turns/s headline), ``muse_search`` (FFT search over the 1m tier) and
``ingest_merge`` (incremental MERGE into the tier store). BENCHMARK.json
lists the first two; ingest_merge runs by hand (see STORE_LAYERS_ON).

A run regenerates its corpus from ``--seed``, sets it up SETUPS times
(``setup_s`` is the median), does a fixed number of untimed warm-up ops,
then times ops until ``--seconds`` have been measured and at least
MIN_OPS ops ran. Every op's output is checked; an op fails when it
raises or fails its check. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` the session writes
Spark's event log, untraced and traced ops take turns, and the last
line carries the per-layer metrics (LAYERS says which end-to-end metric
each should move, and on which workload). The line before it is a JSON
record of the host, the input fingerprint, the setup, warm-up and op
walls, the sample counts, the fail ratio and the share of CPU time the
hypervisor took for other guests while ops were timed (``steal_share``:
on a shared 4-vCPU host a run with a few percent of steal reads 20-60%
slower).

``--expect-turns``/``--expect-hash`` pin the corpus generator: a fixed
canonical corpus must have that row count and (conv_id, turn_idx, ts)
hash, or the run stops before measuring anything.

All scratch files live in ``.perfbench_work/`` at the checkout root and
are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parent.parent

SETUPS = 3
# Untimed warm-up ops. On a 4-vCPU host the first op of a session pays
# the Python worker start (8-15 s). muse_search is level from its third
# op on (~3.5 s). rollup_encode falls from ~1.8 s to ~1.1 s over its
# first 8 ops and then keeps drifting down slowly (to ~0.9 s after 50
# ops, JIT); its timed window sits at the same place on that tail in
# every run.
WARMUP = {"rollup_encode": 8, "muse_search": 2, "ingest_merge": 1}
MIN_OPS = {"rollup_encode": 5, "muse_search": 4, "ingest_merge": 2}
SIZES = {
    # conversations and turns per corpus (the turn count is ~5 standard
    # deviations below the generator's mean for that many conversations),
    # turns per ingest block
    "full": {
        "rollup_encode": {"n_convs": 1000, "turns": 65_000},
        "muse_search": {"n_convs": 1000, "turns": 65_000},
        "ingest_merge": {"n_convs": 1000, "turns": 65_000, "block": 4000},
    },
    "tiny": {w: {"n_convs": 60, "turns": 2000, "block": 300} for w in WARMUP},
}
FINGERPRINT = {"seed": 0, "n_convs": 200}
# A run of ingest_merge takes 70-90 s (25 s for the first ingest of a
# session, then 10-12 s and ~97 Spark jobs an op), too long to repeat as
# often as the listed workloads are; its store layers are measured in
# the traced run of this workload instead.
STORE_LAYERS_ON = "rollup_encode"

E2E_UNITS = {
    "op_p50_s": "s",
    "turns_per_s": "1/s",
    "series_per_s": "1/s",
    "worker_rss_peak_mb": "MB",
    "setup_s": "s",
}

# per-layer metric -> (unit, workload it is measured on, the end-to-end
# metric it should move there). A layer a workload does not run reads 0.
ALL = "all"
LAYERS = {
    "spark.jobs_per_op": ("count", ALL, "op_p50_s"),
    "spark.tasks_per_op": ("count", ALL, "op_p50_s"),
    "spark.shuffle_write_bytes_per_op": ("B", ALL, "op_p50_s"),
    "spark.shuffle_fetch_wait_s_per_op": ("s", ALL, "op_p50_s"),
    "spark.spill_bytes_per_op": ("B", ALL, "op_p50_s"),
    "spark.gc_s_per_op": ("s", ALL, "op_p50_s"),
    "spark.executor_run_s_per_op": ("s", ALL, "op_p50_s"),
    "python.arrow_bytes_to_py_per_op": ("B", ALL, "op_p50_s"),
    "python.arrow_bytes_from_py_per_op": ("B", ALL, "op_p50_s"),
    "spark.outside_jobs_s_per_op": ("s", ALL, "op_p50_s"),
    "sources.scan_s": ("s", "rollup_encode", "turns_per_s"),
    "rollup.agg_s": ("s", "rollup_encode", "turns_per_s"),
    "compress.encode_s": ("s", "rollup_encode", "turns_per_s"),
    "compress.encode_task_skew": ("ratio", "rollup_encode", "op_p50_s"),
    "compress.chunks_out": ("count", "rollup_encode", "turns_per_s"),
    "compress.points_out": ("count", "rollup_encode", "turns_per_s"),
    "codecs.floor_s": ("s", "rollup_encode", "turns_per_s"),
    "compress.floor_ratio": ("ratio", "rollup_encode", "turns_per_s"),
    "search.exchange_s": ("s", "muse_search", "series_per_s"),
    "search.score_s": ("s", "muse_search", "series_per_s"),
    "search.merge_s": ("s", "muse_search", "series_per_s"),
    "search.score_tasks": ("count", "muse_search", "op_p50_s"),
    "kernels.floor_s": ("s", "muse_search", "series_per_s"),
    "search.floor_ratio": ("ratio", "muse_search", "series_per_s"),
    "store.upsert_s.transcripts_raw": ("s", "ingest_merge", "turns_per_s"),
    "store.upsert_s.rollup_1m": ("s", "ingest_merge", "turns_per_s"),
    "store.upsert_s.rollup_1h": ("s", "ingest_merge", "turns_per_s"),
    "store.upsert_s.rollup_1d": ("s", "ingest_merge", "turns_per_s"),
    "store.upsert_s.chunks_1h": ("s", "ingest_merge", "turns_per_s"),
    "store.dup_check_s": ("s", "ingest_merge", "turns_per_s"),
    "store.read_s": ("s", "ingest_merge", "turns_per_s"),
    "store.checkpoint_s": ("s", "ingest_merge", "turns_per_s"),
    "continuous.self_s": ("s", "ingest_merge", "turns_per_s"),
    "store.rows_written_per_delta_row": ("ratio", "ingest_merge", "turns_per_s"),
    "store.bytes_written_per_turn": ("B", "ingest_merge", "turns_per_s"),
    "store.checkpoint_files": ("count", "ingest_merge", "op_p50_s"),
    "trace.overhead": ("ratio", ALL, "op_p50_s"),
    "trace.coverage": ("ratio", ALL, "op_p50_s"),
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(WARMUP))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--expect-turns", type=int, required=True)
    p.add_argument("--expect-hash", required=True)
    p.add_argument("--size", choices=list(SIZES), default="full")
    return p.parse_args(argv)


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def host_fingerprint(cores: int) -> dict:
    import numpy as np
    import pyarrow
    import pyspark

    from tracing import median

    x = np.random.default_rng(0).random((64, 4096))
    walls = []
    for _ in range(7):
        t0 = time.perf_counter()
        np.fft.rfft(x, axis=1)
        walls.append(time.perf_counter() - t0)
    return {
        "cores": cores,
        "mem_total_kb": mem_total_kb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": np.__version__,
        "pyarrow": pyarrow.__version__,
        "fft_rfft_64x4096_ms": median(walls) * 1e3,
    }


def start_session(work: Path, cores: int, trace: bool):
    from go_muse_spark.session import get_spark

    driver_gb = max(1, min(8, mem_total_kb() // (4 * 2**20)))
    extra = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        (work / "events").mkdir()
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(cpus=cores, app="perfbench", driver_mem=f"{driver_gb}g", extra=extra)


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_ops(wl, ctx, first: int, seconds: float, min_ops: int, group: str, rss=None, trace="off"):
    """Closed loop from op index ``first``: ops until ``seconds`` of op
    wall are measured and at least ``min_ops`` ran (or the workload's
    inputs run out). ``trace`` is "off", "on" or "alternate"; in the
    last, untraced and traced ops take turns, so both see the same
    warm-up drift, and the limits apply to each kind. Returns one
    record per op."""
    kinds = {"off": [False], "on": [True], "alternate": [False, True]}[trace]
    recs = []
    capacity = getattr(wl, "blocks", None)
    sc = ctx.spark.sparkContext

    def short(traced: bool) -> bool:
        walls = [r.wall for r in recs if r.traced == traced]
        return sum(walls) < seconds or len(walls) < min_ops

    i = first
    while any(short(k) for k in kinds) and (capacity is None or i < capacity):
        traced = kinds[(i - first) % len(kinds)]
        inp = wl.prepare(i)
        sc.setJobGroup(f"{'traced' if traced else group}-{i}", wl.name)
        if traced:
            wl.trace_begin()
        elif rss:
            rss.active.set()
        t0 = time.perf_counter()
        try:
            out, ok = wl.op(i, inp), True
        except Exception:  # an op that raises is a failed op, not a failed run
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        wall = time.perf_counter() - t0
        if rss:
            rss.active.clear()
        if traced:
            wl.trace_end(inp)
        sc.setJobGroup("between-ops", wl.name)
        ok = ok and wl.check(i, inp, out)
        if not ok:
            print(f"op {i} of {wl.name} failed its check", file=sys.stderr)
        turns, series = wl.work(inp)
        recs.append(
            SimpleNamespace(i=i, wall=wall, ok=ok, out=out, turns=turns, series=series, traced=traced)
        )
        i += 1
    return recs


def count_failed(wl, recs) -> int:
    """Failed ops; if the end-of-run check of the state the ops built
    fails, every op counts as failed."""
    if not wl.finish():
        print(f"{wl.name}: end-of-run check failed", file=sys.stderr)
        return len(recs)
    return sum(not r.ok for r in recs)


def store_layers(ctx, size: dict) -> tuple[dict, list, int]:
    """The ingest_merge store layers, from a backfill and one traced
    ingest op in the calling run's session."""
    import workloads as W

    sub = SimpleNamespace(**{**vars(ctx), **size})
    wl = W.IngestMerge(sub)
    wl.setup()
    recs = run_ops(wl, ctx, 0, 0.0, 1, "store", trace="on")
    failed = count_failed(wl, recs)
    layers = wl.layers([r.wall for r in recs], [], [])
    del layers["trace.coverage"]
    return layers, recs, failed


def measure(args: argparse.Namespace, work: Path, spark=None) -> tuple[dict, dict]:
    """One benchmark run; returns (result, info). ``spark`` lets a caller
    that already holds a session reuse it (the session is then left
    running)."""
    import workloads as W
    from tracing import RssSampler, median, parse_event_log, spark_layer_metrics

    cores = len(os.sched_getaffinity(0))
    host = host_fingerprint(cores)
    turns, digest = W.corpus_fingerprint(W.make_corpus(**FINGERPRINT))
    if (turns, digest) != (args.expect_turns, args.expect_hash):
        raise SystemExit(
            f"input fingerprint {turns}/{digest} != expected "
            f"{args.expect_turns}/{args.expect_hash}: the corpus generator changed"
        )
    own_session = spark is None
    t0 = time.perf_counter()
    if own_session:
        spark = start_session(work, cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    rss = RssSampler()
    try:
        ctx = SimpleNamespace(
            spark=spark, work=str(work), seed=args.seed, cores=cores,
            trace=bool(args.trace), **SIZES[args.size][args.workload],
        )
        wl = W.WORKLOADS[args.workload](ctx)
        setup_walls = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            wl.setup()
            setup_walls.append(time.perf_counter() - t0)
        tiny = args.size == "tiny"
        n_warm = 1 if tiny else WARMUP[wl.name]
        min_ops = 2 if tiny else MIN_OPS[wl.name]
        warm = run_ops(wl, ctx, 0, 0.0, n_warm, "warmup")
        steal0, total0 = cpu_ticks()
        if args.trace:  # traced and untraced ops share the measured seconds
            timed = run_ops(wl, ctx, n_warm, args.seconds / 2, min_ops, "op", rss, "alternate")
        else:
            timed = run_ops(wl, ctx, n_warm, args.seconds, min_ops, "op", rss)
        steal1, total1 = cpu_ticks()
        recs = warm + timed
        traced = [r for r in timed if r.traced]
        timed = [r for r in timed if not r.traced]
        failed = count_failed(wl, recs)
        side = {}
        if args.trace and wl.name == STORE_LAYERS_ON:
            side, side_recs, side_failed = store_layers(ctx, SIZES[args.size]["ingest_merge"])
            recs += side_recs
            failed += side_failed
        walls = [r.wall for r in timed]
        info = {
            "workload": wl.name,
            "seed": args.seed,
            "host": host,
            "input": {"turns": turns, "hash": digest},
            "session_start_s": session_s,
            "setup_walls_s": setup_walls,
            "warmup_walls_s": [r.wall for r in warm],
            "op_walls_s": walls,
            "samples": {"setup_s": len(setup_walls), "op_p50_s": len(walls)},
            "fail_ratio": failed / len(recs),
            # share of CPU time the hypervisor gave to other guests while
            # ops were timed: a slow run with a high share is the host
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        }
        if not args.trace:
            # rates are medians of per-op rates, robust to a slow op the
            # way op_p50_s is
            metrics = {
                "op_p50_s": median(walls),
                "turns_per_s": median(r.turns / r.wall for r in timed),
                "series_per_s": median(r.series / r.wall for r in timed),
                "worker_rss_peak_mb": rss.peak_mb,
                "setup_s": median(setup_walls),
            }
            units = {k: E2E_UNITS[k] for k in metrics}
        else:
            def events():
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                return parse_event_log(str(work / "events"))

            stats = events()
            op_stats = [stats[f"traced-{r.i}"] for r in traced]
            traced_walls = [r.wall for r in traced]
            metrics = {k: 0.0 for k in LAYERS}
            metrics.update(spark_layer_metrics(op_stats, traced_walls))
            metrics.update(wl.layers(traced_walls, op_stats, [r.out for r in traced], events))
            metrics.update(side)
            metrics["trace.overhead"] = median(traced_walls) / median(walls) - 1
            info["traced_op_walls_s"] = traced_walls
            units = {k: LAYERS[k][0] for k in metrics}
    finally:
        rss.close()
        if own_session:
            stop_session(spark)
    result = {
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, info


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "go_muse_spark" / "__init__.py").is_file():
        print(
            f"perfbench: no go_muse_spark package under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    sys.path.insert(0, str(ROOT))
    try:
        result, info = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
