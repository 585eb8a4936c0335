"""Plan-shape pins: the shuffle counts PLANS.md claims are tested
facts, not prose. An operator that silently grows an exchange (or a
second scan) at 100 TB is a perf regression even while every value
stays correct — explain() is the cheapest place to catch it.

Counts use the ANALYZED physical plan text of explain(mode=
"formatted") BEFORE adaptive re-planning collapses anything, so the
pin is deterministic (no job runs). The kept-tier pins search a
DataFrame twice first, then read the third search's plan and count
its jobs."""

import datetime as dt

import pytest

from pyspark.sql import functions as F


def _plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _count_op(df, op):
    import re

    return len(re.findall(rf"\(\d+\) {re.escape(op)}\b", _plan(df)))


def _hourly(spark, n=60):
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        ("c1", t0 + dt.timedelta(hours=i), (i * 7) % 13) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, bucket_ts timestamp, v int"
    )


def test_hampel_single_window_exchange(spark):
    from go_muse_spark.operators.stats import hampel

    out = hampel(_hourly(spark), "v", 25, quant=1)
    assert _count_op(out, "Exchange") == 1  # series-key window only


def test_cov_family_one_exchange(spark):
    from go_muse_spark.operators.arfit import (
        dominant_period,
        effective_sample_size,
    )

    dp = dominant_period(_hourly(spark), "v", 2, 12)
    ess = effective_sample_size(_hourly(spark), "v", 8)
    # window + final per-series aggregate share the series-key
    # partitioning: exactly one exchange each
    assert _count_op(dp, "Exchange") == 1
    assert _count_op(ess, "Exchange") == 1


def test_forecast_backtest_one_exchange(spark):
    from go_muse_spark.operators.stats import forecast_backtest

    out = forecast_backtest(_hourly(spark), "v", 6)
    assert _count_op(out, "Exchange") == 1


def test_rolling_shape_one_exchange(spark):
    from go_muse_spark.operators.stats import rolling_shape

    out = rolling_shape(_hourly(spark), "v", 6 * 3600)
    assert _count_op(out, "Exchange") == 1


def test_layout_audit_single_scan(spark):
    from go_muse_spark.operators.layout import layout_audit

    df = spark.range(100).select(
        (F.col("id") % 10).cast("int").alias("a"),
        (F.col("id") % 7).cast("int").alias("b"),
    )
    out = layout_audit(df, "a", "b", (1, 3, 1, 3), bits=4, n_files=8)
    # both layouts from ONE pass over the input: one exchange (the
    # file-id aggregate), and the input subtree appears once
    assert _count_op(out, "Exchange") == 1
    assert _plan(out).count("(1) Range") == 1


def test_bloom_probe_side_never_shuffles(spark):
    from go_muse_spark.functions.bloom import bloom_build, bloom_semi_filter

    build = spark.createDataFrame([("a",), ("b",)], "k string")
    probe = spark.createDataFrame([("a",), ("z",)], "k string")
    bm = bloom_build(build, "k", k=3, m_bits=128)
    out = bloom_semi_filter(probe, bm, "k", 3, 128)
    plan = _plan(out)
    # the bitmap reaches the probe via broadcast; any Exchange in the
    # plan belongs to the tiny build-side aggregate, and the join
    # itself is a broadcast nested loop
    assert "BroadcastExchange" in plan
    assert _count_op(out, "BroadcastNestedLoopJoin") == 1


def test_snapshot_diff_two_exchanges_full_outer(spark):
    from go_muse_spark.sources.store import snapshot_diff

    old = spark.createDataFrame([("a", 1, 1.0)], "k string, b int, v double")
    new = spark.createDataFrame([("a", 1, 2.0)], "k string, b int, v double")
    out = snapshot_diff(old, new, ("k", "b"), ("v",))
    assert _count_op(out, "SortMergeJoin") == 1
    assert _count_op(out, "Exchange") == 2  # one per side, key-aligned


def _muse_rollup(spark):
    import numpy as np

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (f"c{i}", f"g{i % 2}", t0 + dt.timedelta(hours=h), float((i * h) % 5))
        for i in range(6)
        for h in range(12)
    ]
    rolled = spark.createDataFrame(
        rows, "conv_id string, g string, bucket_ts timestamp, turn_cnt double"
    )
    ref = np.zeros(12)
    ref[4:8] = [1.0, 3.0, 3.0, 1.0]
    return rolled, ref, (t0, t0 + dt.timedelta(hours=11), 12)


def _count_aggregates(df):
    import re

    return len(re.findall(r"\(\d+\) \w*Aggregate\b", _plan(df)))


def test_per_series_muse_search_one_exchange_no_merge(spark):
    from go_muse_spark.operators.search import SearchParams, muse_search_rollup

    rolled, ref, bounds = _muse_rollup(spark)
    out = muse_search_rollup(
        rolled, ref, 3600, None, SearchParams(top_n=3), bounds=bounds
    )
    # the series-key exchange feeding the scoring task; filters and
    # top-K run inside the task, so no merge aggregate follows it
    assert _count_op(out, "Exchange") == 1
    assert _count_aggregates(out) == 0
    assert _count_op(out, "TakeOrderedAndProject") == 1


def test_grouped_muse_search_keeps_merge(spark):
    from go_muse_spark.operators.search import SearchParams, muse_search_rollup

    rolled, ref, bounds = _muse_rollup(spark)
    out = muse_search_rollup(
        rolled, ref, 3600, ["g"], SearchParams(top_n=3), bounds=bounds
    )
    # a group's series span tasks: the min_by merge keeps its exchange
    assert _count_op(out, "Exchange") == 2
    assert _count_aggregates(out) >= 1


# rollup_transcripts' output type, pinned: names, order, types and
# nullability (the encoders and the stored tiers read it)
_ROLLUP_FIELDS = [
    ("conv_id", "string", True),
    ("bucket_ts", "timestamp", True),
    ("turn_cnt", "bigint", False),
    ("tool_cnt", "bigint", False),
    ("first_ts", "timestamp", True),
    ("last_ts", "timestamp", True),
]


def _fields(df):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema]


@pytest.fixture(scope="module")
def transcripts_parquet(spark, tmp_path_factory):
    from go_muse_spark.sources.transcripts import generate_transcripts

    path = str(tmp_path_factory.mktemp("plan_shapes") / "tx")
    spark.createDataFrame(generate_transcripts(n_convs=20, seed=1)).write.parquet(path)
    return spark.read.parquet(path)


def test_rollup_transcripts_schema(transcripts_parquet):
    from go_muse_spark.operators.rollup import rollup_transcripts

    tx = transcripts_parquet
    rate = [("turns_per_sec", "double", True)]
    assert _fields(rollup_transcripts(tx, "1m")) == _ROLLUP_FIELDS + rate
    with_sum = tx.withColumn("tokens", F.col("turn_idx") * 3)
    assert (
        _fields(rollup_transcripts(with_sum, "1h", sum_cols={"tok sum": "tokens"}))
        == _ROLLUP_FIELDS + [("tok sum", "bigint", True)] + rate
    )
    quoted = tx.withColumnRenamed("ts", "turn ts")
    assert (
        _fields(rollup_transcripts(quoted, "1d", ts_col="turn ts"))
        == _ROLLUP_FIELDS + rate
    )


def test_rollup_encode_plan(transcripts_parquet):
    """The turns/s pipeline: the rollup's partial + final aggregate around
    its exchange, the encoder's conv_id exchange, one Python stage, and a
    scan that reads only the columns the chunks need."""
    from go_muse_spark.operators.compress import encode_tiers_fused
    from go_muse_spark.operators.rollup import rollup_transcripts

    out = encode_tiers_fused(rollup_transcripts(transcripts_parquet, "1m"))
    plan = _plan(out)
    assert _count_op(out, "Exchange") == 2
    assert _count_op(out, "HashAggregate") == 2
    assert "partial_count(1)" in plan
    assert _count_op(out, "MapInPandas") == 1
    assert _count_op(out, "Scan parquet") == 1
    assert "ReadSchema: struct<conv_id:string,ts:timestamp>" in plan


def _jobs_of(spark, group, run):
    """Spark jobs `run()` starts, counted by job group once the listener
    bus has delivered their start events."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_per_series_search_scores_kept_tier(spark):
    """From its second search on, a DataFrame searched with one search
    shape keeps its exchanged, sorted tier: the third search has no
    Exchange and no Sort and runs one Spark job, with explicit bounds
    and with bounds=None (the bounds the second search found are kept
    with its rows, so no series_bounds job runs)."""
    from go_muse_spark.operators.search import SearchParams, muse_search_rollup

    p = SearchParams(top_n=3)
    for bounds_arg in ("given", None):
        rolled, ref, bounds = _muse_rollup(spark)
        b = bounds if bounds_arg else None
        for _ in range(2):
            muse_search_rollup(rolled, ref, 3600, None, p, bounds=b).collect()
        out = []
        jobs = _jobs_of(
            spark, f"kept-tier-{bounds_arg}",
            lambda: out.extend(
                muse_search_rollup(rolled, ref, 3600, None, p, bounds=b).collect()
            ),
        )
        assert jobs == 1, bounds_arg
        assert len(out) == 3
        third = muse_search_rollup(rolled, ref, 3600, None, p, bounds=b)
        assert _count_op(third, "Exchange") == 0
        assert _count_op(third, "Sort") == 0


def test_repeated_grouped_search_keeps_only_the_merge_exchange(spark):
    """The third grouped search on one DataFrame scores the kept tier;
    the exchange left is the min_by merge of the per-task winners."""
    from go_muse_spark.operators.search import SearchParams, muse_search_rollup

    rolled, ref, bounds = _muse_rollup(spark)
    p = SearchParams(top_n=3)
    for _ in range(2):
        muse_search_rollup(rolled, ref, 3600, ["g"], p, bounds=bounds).collect()
    out = muse_search_rollup(rolled, ref, 3600, ["g"], p, bounds=bounds)
    assert _count_op(out, "Exchange") == 1
    assert _count_aggregates(out) >= 1
