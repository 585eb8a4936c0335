"""Structured Streaming front-end over the incremental-batch engine.

The engine's native cadence is incremental batch (SURVEY.md §2b): tier
maintenance is a MERGE of affected buckets, which maps onto Structured
Streaming via foreachBatch — each micro-batch becomes one
ContinuousAggregates.ingest(delta, run_id) call, giving exactly-once tier
updates on top of the checkpointed source offsets (the run_id is the
epoch id, so a replayed epoch is a committed no-op).

Late data: the watermark here only bounds state for the optional pure-
streaming aggregation; correctness of the tiers does NOT depend on it —
late turns reopen their buckets through the MERGE path, regardless of
how late they arrive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_muse_spark.plans.continuous import ContinuousAggregates

__all__ = [
    "stream_ingest",
    "streaming_rollup_1m",
    "streaming_dense_1m",
    "streaming_sessions",
    "streaming_dedup",
    "streaming_search",
    "streaming_drift",
    "streaming_dq",
    "DQMonitor",
    "DriftMonitor",
]


def stream_ingest(
    stream: DataFrame,
    ca: ContinuousAggregates,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """Wire a streaming transcript source into the continuous aggregates.

    stream: a readStream DataFrame with the transcript schema. Returns the
    started StreamingQuery; call .processAllAvailable() in tests.
    """

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ca.ingest(batch_df, f"epoch-{epoch_id:012d}")

    writer = (
        stream.writeStream.outputMode("update")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def streaming_dense_1m(
    stream: DataFrame,
    tier_secs: int = 60,
    max_gap_buckets: int = 100_000,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator: low-latency DENSE 1m turn-rate emission.

    Built-in windowed aggs can only emit buckets that contain data; the
    dense zero-filled view (what the muse search consumes) needs the gap
    buckets too, and which buckets are gaps depends on per-conversation
    state — the last bucket already emitted. applyInPandasWithState keeps
    exactly that state, (last_bucket_us, last_cnt), per conv_id:

      * each micro-batch's turns are bucket-counted in numpy,
      * every bucket from state.last+1 through the new maximum is emitted
        — observed buckets with their counts (filled=false), gap buckets
        as zeros (filled=true), so downstream consumers see a dense,
        monotone per-conv spine with one row per bucket per conv,
      * state advances to the new maximum.

    Late turns (bucket <= state.last) are emitted as correction rows
    (filled=false) without regressing state; authoritative repair of
    closed buckets is the MERGE path's job (stream_ingest) — this
    operator is the engine's low-latency dense view, not its store.
    State is one (long, long) pair per conversation; with
    idle_timeout_ms set, a conversation idle for that much PROCESSING
    time is evicted (state bounded by recently-active convs, not total
    conv cardinality — required at 10^12-turn scale where conv ids are
    unbounded). An evicted conversation that revives is re-emitted from
    its first new bucket exactly like a fresh conversation.

    max_gap_buckets guards the dense loop against corrupt far-future
    timestamps: a frontier jump wider than this emits the batch's
    observed buckets sparsely (filled=false) instead of materializing
    millions of gap rows in one task, and the frontier still advances —
    a clock-skewed row degrades output density, never executor memory.
    """
    import numpy as np
    import pandas as pd

    step_us = tier_secs * 1_000_000
    out_schema = (
        "conv_id string, bucket_ts timestamp, turn_cnt long, filled boolean"
    )
    state_schema = "last_bucket_us long, last_cnt long"

    def op(key, pdfs, state):
        conv_id = key[0]
        if idle_timeout_ms is not None and state.hasTimedOut:
            # eviction: the conversation went idle past the timeout —
            # drop its (last_bucket, last_cnt) pair. If it revives, the
            # no-state path below re-emits from its first new bucket
            # (filled=false) with no dense bridge across the idle span;
            # authoritative repair of that span is the MERGE path's job.
            state.remove()
            return
        counts: dict[int, int] = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            bk = (
                pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
                // step_us * step_us
            )
            uniq, cnt = np.unique(bk, return_counts=True)
            for b, c in zip(uniq, cnt):
                counts[int(b)] = counts.get(int(b), 0) + int(c)
        if not counts:
            return
        new_max = max(counts)
        last = state.get[0] if state.exists else None
        start = min(counts) if last is None else last + step_us
        out_b, out_c, out_f = [], [], []
        # late corrections first (buckets at or before the emitted frontier)
        for b in sorted(counts):
            if last is not None and b <= last:
                out_b.append(b)
                out_c.append(counts[b])
                out_f.append(False)
        if (new_max - start) // step_us + 1 > max_gap_buckets:
            # pathological forward jump: sparse emission only
            for b in sorted(counts):
                if b >= start:
                    out_b.append(b)
                    out_c.append(counts[b])
                    out_f.append(False)
        else:
            # dense emission from the frontier to the new maximum
            for b in range(start, new_max + step_us, step_us):
                out_b.append(b)
                out_c.append(counts.get(b, 0))
                out_f.append(b not in counts)
        if last is None or new_max > last:
            state.update((int(new_max), int(counts[new_max])))
        if idle_timeout_ms is not None:
            # re-arm on every batch that touches the key: the clock is
            # PROCESSING time, so state size is bounded by (active convs
            # in the last idle_timeout_ms), not total conv cardinality
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "conv_id": conv_id,
                "bucket_ts": pd.to_datetime(
                    np.asarray(out_b, dtype="datetime64[us]")
                ),
                "turn_cnt": np.asarray(out_c, dtype=np.int64),
                "filled": np.asarray(out_f, dtype=bool),
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return stream.groupBy("conv_id").applyInPandasWithState(
        op,
        out_schema,
        state_schema,
        "append",
        timeout,
    )


def streaming_rollup_1m(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Pure-streaming 1m rollup (windowed agg + watermark) for callers who
    want append-mode output instead of merged tier tables."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("turn_cnt"),
            F.count(F.when(F.col("role") == "tool", 1)).alias("tool_cnt"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("bucket_ts"),
            "turn_cnt",
            "tool_cnt",
        )
    )


def streaming_sessions(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming sessionization on Spark's NATIVE merging session_window
    aggregate: per key, events closer than ``gap`` fuse into one growing
    session; a session FINALIZES (append-mode emission) once the event-
    time watermark passes its end, so late events inside the watermark
    still extend their session instead of spawning a duplicate.

    State story at scale: the store holds one in-flight session row per
    (key, open session) — not per event — and the watermark bounds how
    long a quiet session lingers before it is flushed and dropped.
    That is the whole point of using the built-in operator over a
    foreachBatch re-sessionize: Catalyst plans the incremental session
    merge + state eviction (UpdatingSessionsExec with the streaming
    session store), no custom applyInPandasWithState state machine to
    maintain. Batch parity: the same gap rule as operators/sessions
    .sessionize with the half-open boundary flipped (a gap of EXACTLY
    ``gap`` starts a new session here) — the session_window_8h contract
    query pins that convention against the islands oracle.

    Returns (key, start_ts, end_ts, n_turns); end_ts = last event + gap.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key, F.session_window(F.col(ts_col), gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            key,
            F.col("sw.start").alias("start_ts"),
            F.col("sw.end").alias("end_ts"),
            "n_turns",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """In-stream re-delivery dedup ahead of the tier MERGE: drop rows
    whose key was already seen within the watermark horizon, using
    Spark's dropDuplicatesWithinWatermark state store — state is
    BOUNDED by the watermark (evicted once event time passes key_ts +
    horizon), unlike a plain dropDuplicates on a stream which retains
    every key forever.

    Division of labor with the batch path: the MERGE (store.upsert)
    already makes re-deliveries idempotent at commit granularity; this
    operator cuts the duplicate volume BEFORE it costs a merge rewrite,
    and is the correct tool when the sink is append-only (e.g. a raw
    event log) with no keyed merge behind it. A duplicate arriving
    later than the watermark horizon passes through — the downstream
    MERGE remains the backstop for those.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def streaming_search(
    stream: DataFrame,
    ref_values,
    tier_secs: int,
    checkpoint_dir: str,
    bounds: tuple,
    params=None,
    series_cols: tuple[str, ...] = ("conv_id",),
    value_col: str = "turn_cnt",
    ts_col: str = "ts",
    trigger_seconds: int | None = None,
):
    """Streaming muse search: every micro-batch is rolled up, scored
    against the prepared reference, and folded into the persistent
    EP1 accumulator (search.IncrementalResults) — the reference's
    batch-loop lifecycle (muse_test.go:67-69) driven by Structured
    Streaming instead of a for-loop. Semantics match the reference: a
    batch is a set of WHOLE candidate series (group.go's Add cadence),
    so route each series' rows into one micro-batch upstream (e.g. by
    file or partition); series fragments scored separately would be new
    independent candidates, exactly as re-Adding a UID is in the
    reference.

    `bounds` = (lo, hi, n) fixes the alignment window up front — a
    stream cannot discover a closed global range, so the caller pins
    the search horizon (the same contract as score_rollup's bounds
    fast-path). Rows OUTSIDE the pinned horizon are filtered out per
    batch before scoring: a stream by definition eventually produces
    event times past (or, late, before) any pre-pinned window, and an
    out-of-range bucket index would otherwise crash the scorer (idx >=
    n) or, worse, wrap a negative index into the wrong end of the
    series. Returns (query, results): stop the query, then
    results.fetch() for the running top-K + mean |score|.
    """
    from go_muse_spark.operators.rollup import rollup_transcripts
    from go_muse_spark.operators.search import (
        IncrementalResults,
        SearchParams,
        score_rollup,
    )

    p = params or SearchParams()
    results = IncrementalResults(p)
    tier = {60: "1m", 3600: "1h", 86400: "1d"}.get(tier_secs)
    if tier is None:  # validate BEFORE the query starts, not mid-stream
        raise ValueError(f"no tier for tier_secs={tier_secs}")
    lo, _hi, n_len = bounds
    import datetime as _dt

    horizon_end = lo + _dt.timedelta(seconds=int(tier_secs) * int(n_len))

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.filter(
            (F.col(ts_col) >= F.lit(lo)) & (F.col(ts_col) < F.lit(horizon_end))
        )
        if batch_df.isEmpty():
            return
        rolled = rollup_transcripts(batch_df, tier)
        scored = score_rollup(
            rolled,
            ref_values,
            tier_secs,
            group_by=None,
            mode=p.mode,
            series_cols=series_cols,
            value_col=value_col,
            bounds=bounds,
        )
        results.update(scored)

    writer = (
        stream.writeStream.outputMode("update")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start(), results


class DriftMonitor:
    """Driver-side incremental (bucket, bin) histogram state for the
    continuous drift monitor. Bin counts are plain sums, so merging
    each micro-batch's tiny pre-aggregated delta (<= buckets x n_bins
    rows cross the wire, never raw events) is associative and
    replay-idempotent per epoch: a snapshot scored with
    drift_from_counts equals the batch dist_drift answer EXACTLY —
    the same integer counts feed the same expression tree."""

    def __init__(self, baseline_end: int, n_bins: int, metric: str = "psi"):
        self.baseline_end = int(baseline_end)
        self.n_bins = int(n_bins)
        self.metric = metric
        self.counts: dict[tuple[int, int], int] = {}
        self._last_epoch = -1  # epoch ids are monotone: O(1) replay state

    def merge(self, rows, epoch_id: int) -> None:
        if epoch_id <= self._last_epoch:  # replayed epoch: no-op
            return
        self._last_epoch = epoch_id
        for r in rows:
            k = (r["__b"], r["__bin"])
            self.counts[k] = self.counts.get(k, 0) + r["__c"]

    def snapshot(self, spark) -> DataFrame:
        from go_muse_spark.operators.drift import drift_from_counts

        rows = [
            (b, bn, c) for (b, bn), c in sorted(self.counts.items())
        ] or [(0, 0, 0)]
        counts = spark.createDataFrame(
            rows, schema="__b long, __bin int, __c long"
        )
        return drift_from_counts(
            counts, self.baseline_end, self.n_bins, self.metric
        )


def streaming_drift(
    stream: DataFrame,
    value_col: str,
    bucket_secs: int,
    baseline_end: int,
    width: int,
    n_bins: int,
    checkpoint_dir: str,
    metric: str = "psi",
    lo: int = 0,
    ts_col: str = "ts",
    trigger_seconds: int | None = None,
):
    """Continuous distribution-drift monitor: every micro-batch is
    binned and aggregated ON THE CLUSTER to its (bucket, bin) delta
    (the same clamp expression as dist_drift), and only that tiny
    delta reaches the driver state. Call monitor.snapshot(spark) at
    any time for the current per-bucket PSI/JSD — exactly what batch
    dist_drift would report over everything ingested so far.

    Returns (query, monitor).
    """
    from go_muse_spark.operators.drift import drift_from_counts  # noqa: F401
    # validate metric BEFORE the query starts, not mid-stream
    if metric not in ("psi", "jsd"):
        raise ValueError(f"metric must be 'psi' or 'jsd', got {metric!r}")
    if n_bins < 2 or width <= 0:
        raise ValueError("need n_bins >= 2 and width > 0")
    monitor = DriftMonitor(baseline_end, n_bins, metric)
    v = F.col(value_col).cast("long")
    bin_expr = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col).cast("timestamp")) / bucket_secs)
        * bucket_secs
    ).cast("long")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        delta = (
            batch_df.select(bucket.alias("__b"), bin_expr.alias("__bin"))
            .groupBy("__b", "__bin")
            .agg(F.count(F.lit(1)).alias("__c"))
            .collect()
        )
        monitor.merge(delta, epoch_id)

    writer = (
        stream.writeStream.outputMode("update")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start(), monitor


class DQMonitor:
    """Driver-side incremental state for the continuous data-quality
    gate: per-check violation counts + the row total. Counts are
    plain sums, so each micro-batch's ONE pre-aggregated row merges
    associatively and replay-idempotently per epoch; a snapshot is
    bit-equal to batch dq_profile over everything ingested so far
    (identical integers, identical integer-division ppm)."""

    def __init__(self, checks: dict[str, str]):
        if not checks:
            raise ValueError("need at least one check")
        self.checks = dict(checks)
        self.n_rows = 0
        self.viol = {name: 0 for name in checks}
        self._last_epoch = -1  # epoch ids are monotone: O(1) replay state

    def merge(self, row, epoch_id: int) -> None:
        if epoch_id <= self._last_epoch:  # replayed epoch: no-op
            return
        self._last_epoch = epoch_id
        self.n_rows += row["__n"] or 0
        for i, name in enumerate(self.checks):
            self.viol[name] += row[f"__v{i}"] or 0

    def snapshot(self, spark) -> DataFrame:
        rows = [
            (
                name,
                self.n_rows,
                self.viol[name],
                (self.viol[name] * 1_000_000) // self.n_rows
                if self.n_rows
                else 0,
            )
            for name in self.checks
        ]
        return spark.createDataFrame(
            rows, schema="check string, n_rows long, n_viol long, ppm long"
        )


def streaming_dq(
    stream: DataFrame,
    checks: dict[str, str],
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """Continuous data-quality gate: every micro-batch evaluates the
    dq_profile predicates ON THE CLUSTER and reduces to ONE row of
    counts (map-side combined — raw rows never reach the driver);
    the driver state is a handful of integers per check. Call
    monitor.snapshot(spark) at any time for the same
    (check, n_rows, n_viol, ppm) contract as batch dq_profile —
    exactly equal on identical input, the streaming face of the
    ingest gate. Returns (query, monitor)."""
    monitor = DQMonitor(checks)
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(
            F.when(F.expr(expr) == F.lit(True), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias(f"__v{i}")
        for i, (_, expr) in enumerate(checks.items())
    ]

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        row = batch_df.agg(*aggs).collect()[0]
        monitor.merge(row, epoch_id)

    writer = (
        stream.writeStream.outputMode("update")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start(), monitor
