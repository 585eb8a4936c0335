"""Structured Streaming front-ends over the incremental-batch engine.

The engine's native cadence is incremental batch (SURVEY.md §2b,
streaming row): tier maintenance is a MERGE of affected buckets, and
late turns reopen their buckets through that MERGE however late they
arrive, so no watermark bounds correctness. Structured Streaming maps
onto it through foreachBatch, and only two front-ends are kept:

  * stream_ingest: the only Structured Streaming entry to
    ContinuousAggregates; the epoch id is the run id, so a replayed
    epoch is a committed no-op.
  * streaming_search: the only streaming driver of the EP1 lifecycle
    (search.IncrementalResults, SURVEY.md §3 EP1).

Pure-streaming operators do not belong here: a windowed rollup, dedup,
sessionizer, dense emitter or DQ/drift monitor would recompute what the
1m tier, store.upsert, session_window, the scoring core's zero-filled
scatter, dq_profile and dist_drift already answer over the store.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_muse_spark.plans.continuous import ContinuousAggregates

__all__ = ["stream_ingest", "streaming_search"]


def _start(stream: DataFrame, handle, checkpoint_dir: str, trigger_seconds):
    """Start `stream` with `handle(batch_df, epoch_id)` as its
    foreachBatch sink on a checkpointed source."""
    writer = (
        stream.writeStream.outputMode("update")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stream_ingest(
    stream: DataFrame,
    ca: ContinuousAggregates,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """Wire a streaming transcript source into the continuous aggregates.

    stream: a readStream DataFrame with the transcript schema. Each
    micro-batch becomes one ca.ingest(batch, run_id) with the epoch id as
    the run id: tier updates are exactly-once on top of the checkpointed
    source offsets. Returns the started StreamingQuery; call
    .processAllAvailable() in tests.
    """

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ca.ingest(batch_df, f"epoch-{epoch_id:012d}")

    return _start(stream, handle, checkpoint_dir, trigger_seconds)


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
    the search horizon (the same contract as score_rollup's bounds).
    A stream eventually produces event times past (or, late, before)
    any pinned window; rows outside [lo, lo + n * tier_secs) are
    dropped before the rollup, and a batch left empty is skipped.
    Returns (query, results): stop the query, then results.fetch() for
    the running top-K + mean |score|.
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
    horizon_end = lo + datetime.timedelta(seconds=int(tier_secs) * int(n_len))

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

    return _start(stream, handle, checkpoint_dir, trigger_seconds), results
