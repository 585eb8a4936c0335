"""Measurement helpers for the benchmark: worker RSS sampling, spans
around calls into the library, and an offline parser for Spark's own
event log.

Nothing here changes what the library does. Spans are taken from
outside, around public calls; Spark-side numbers come from the event
log that the session writes when tracing is on.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _is_python_worker(pid: str) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class RssSampler:
    """Peak summed RSS of the pyspark Python worker processes.

    A daemon thread reads /proc every ``interval`` seconds while
    ``active`` is set; the peak is kept across active windows.
    """

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._workers: dict[str, bool] = {}
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> int:
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            known = self._workers.get(pid)
            if known is None:
                known = self._workers[pid] = _is_python_worker(pid)
            if not known:
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except OSError:
                self._workers.pop(pid, None)  # exited; pid may be reused
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.is_set():
                self.peak_bytes = max(self.peak_bytes, self._sample())
            time.sleep(self.interval)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


class Spans:
    """Outermost-call spans by layer name, for one op at a time.

    ``wrap`` times a call only when no other wrapped call is already
    open, so nested library calls (a store method calling another)
    count once, in the outermost layer.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.current: dict[str, float] = defaultdict(float)
        self._depth = 0

    def wrap(self, name: str, fn, *args, **kwargs):
        if not self.enabled or self._depth:
            return fn(*args, **kwargs)
        self._depth += 1
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.current[name] += time.perf_counter() - t0
            self._depth -= 1

    def take(self) -> dict[str, float]:
        out = dict(self.current)
        self.current = defaultdict(float)
        return out


def union_wall(intervals) -> float:
    """Length in seconds of the union of [start, end] ms intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


class OpStats:
    """Spark-side totals of one op (one job group) from the event log."""

    def __init__(self) -> None:
        self.jobs = 0
        self.tasks = 0
        self.shuffle_write_bytes = 0
        self.fetch_wait_ms = 0
        self.spill_bytes = 0
        self.gc_ms = 0
        self.run_ms = 0
        self.py_sent_bytes = 0
        self.py_recv_bytes = 0
        self.job_ms: dict[int, list[int]] = {}  # job id -> [submit, complete]
        # stage id -> {"submit", "complete", "python", "task_ms": [...]}
        self.stages: dict[int, dict] = {}

    def stage_walls(self) -> tuple[list, list, list]:
        """Stage intervals before, at, and after the Python stages, in
        submission order: for a plan with one Python stage these are its
        input exchange, the Python stage itself and the merge after it."""
        done = [s for s in self.stages.values() if "complete" in s]
        done.sort(key=lambda s: s["submit"])
        py = [i for i, s in enumerate(done) if s["python"]]
        if not py:
            return [(s["submit"], s["complete"]) for s in done], [], []
        lo, hi = py[0], py[-1]
        iv = [(s["submit"], s["complete"]) for s in done]
        return iv[:lo], iv[lo : hi + 1], iv[hi + 1 :]

    def job_wall(self) -> float:
        """Seconds during which at least one of the group's jobs ran."""
        return union_wall(j for j in self.job_ms.values() if j[1] is not None)

    def python_task_ms(self) -> list[int]:
        return [t for s in self.stages.values() if s["python"] for t in s["task_ms"]]


def parse_event_log(log_dir: str) -> dict[str, OpStats]:
    """Per-job-group totals from the (uncompressed, non-rolling) event
    logs in ``log_dir``. Jobs without a group are ignored."""
    ops: dict[str, OpStats] = defaultdict(OpStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    ops[group].jobs += 1
                    ops[group].job_ms[ev["Job ID"]] = [ev["Submission Time"], None]
                    job_group[ev["Job ID"]] = group
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    group = job_group.get(ev["Job ID"])
                    if group is not None:
                        ops[group].job_ms[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    _add_task(ops[group], ev)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None or "Submission Time" not in info:
                        continue
                    st = ops[group].stages.setdefault(
                        info["Stage ID"], {"python": False, "task_ms": []}
                    )
                    st["submit"] = info["Submission Time"]
                    st["complete"] = info["Completion Time"]
    return dict(ops)


def _add_task(op: OpStats, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    op.tasks += 1
    op.run_ms += m.get("Executor Run Time", 0)
    op.gc_ms += m.get("JVM GC Time", 0)
    op.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    op.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    op.fetch_wait_ms += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
    st = op.stages.setdefault(ev["Stage ID"], {"python": False, "task_ms": []})
    st["task_ms"].append(info["Finish Time"] - info["Launch Time"])
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == "data sent to Python workers":
            op.py_sent_bytes += int(acc["Update"])
            st["python"] = True
        elif name == "data returned from Python workers":
            op.py_recv_bytes += int(acc["Update"])


def spark_layer_metrics(stats: list[OpStats], walls: list[float]) -> dict[str, float]:
    """Spark-wide per-op means over the traced ops. ``outside_jobs_s`` is the
    part of an op's wall during which no Spark job of the op runs:
    plan construction, analysis and planning, and gaps between jobs."""
    n = len(stats)
    outside = [wall - s.job_wall() for s, wall in zip(stats, walls)]

    def mean(attr: str, scale: float = 1.0) -> float:
        return sum(getattr(s, attr) for s in stats) / n * scale

    return {
        "spark.jobs_per_op": mean("jobs"),
        "spark.tasks_per_op": mean("tasks"),
        "spark.shuffle_write_bytes_per_op": mean("shuffle_write_bytes"),
        "spark.shuffle_fetch_wait_s_per_op": mean("fetch_wait_ms", 1e-3),
        "spark.spill_bytes_per_op": mean("spill_bytes"),
        "spark.gc_s_per_op": mean("gc_ms", 1e-3),
        "spark.executor_run_s_per_op": mean("run_ms", 1e-3),
        "python.arrow_bytes_to_py_per_op": mean("py_sent_bytes"),
        "python.arrow_bytes_from_py_per_op": mean("py_recv_bytes"),
        "spark.outside_jobs_s_per_op": sum(outside) / n,
    }


def median(values) -> float:
    return float(statistics.median(values))
