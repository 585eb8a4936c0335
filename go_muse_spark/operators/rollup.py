"""L1 — tumbling-window retention tiers (1m / 1h / 1d).

Turn streams are bucketed per conversation with date_trunc (equivalent to
epoch-aligned tumbling F.window for these tiers, but cheaper — no struct,
and the bucket column stays an orderable TimestampType that partial
aggregation, partition pruning, and the DuckDB oracle all understand).

All aggregates here are algebraic (count/sum/min/max) so Catalyst emits a
partial HashAggregate before the shuffle and a final one after — the
map-side combine is what makes this hold at 10^12 turns: shuffle volume is
O(convs x buckets), not O(turns). Hierarchical re-aggregation (1m -> 1h ->
1d) re-reads the finer tier instead of the raw table, shrinking input by
the bucket fan-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "TIERS",
    "rollup_transcripts",
    "rollup_from_finer",
    "rollup_all_tiers",
    "counter_rate",
    "prom_increase",
    "prom_rate",
    "prom_resets",
    "prom_irate",
    "prom_deriv",
    "moving_aggregate",
    "moving_quantile",
    "count_values",
]

# tier -> (date_trunc unit, bucket seconds, finer tier for re-agg)
TIERS: dict[str, tuple[str, int, str | None]] = {
    "1m": ("minute", 60, None),
    "1h": ("hour", 3600, "1m"),
    "1d": ("day", 86400, "1h"),
}


def _bucket(unit: str, col: str = "ts") -> F.Column:
    return F.date_trunc(unit, F.col(col)).alias("bucket_ts")


def _q(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def rollup_transcripts(
    df: DataFrame,
    tier: str,
    ts_col: str = "ts",
    sum_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Raw turns -> one row per (conv_id, bucket): the continuous aggregate.

    Output: conv_id, bucket_ts, turn_cnt, tool_cnt, turns_per_sec,
    first_ts, last_ts [+ one summed column per sum_cols entry
    (out_name -> source column)]. turn_cnt is the series the muse search
    runs over (FIXTURES.md §F2).
    """
    unit, secs, _ = TIERS[tier]
    ts = _q(ts_col)
    # one agg of SQL text, turns_per_sec folded in last: each F.* call and
    # each withColumn step is a round trip to the JVM and a re-analysis
    aggs = [
        "count(1) AS turn_cnt",
        "count(CASE WHEN role = 'tool' THEN 1 END) AS tool_cnt",
        f"min({ts}) AS first_ts",
        f"max({ts}) AS last_ts",
        *(f"sum({_q(src)}) AS {_q(out)}" for out, src in (sum_cols or {}).items()),
        f"count(1) / {secs}D AS turns_per_sec",
    ]
    return df.groupBy(
        df["conv_id"], F.expr(f"date_trunc('{unit}', {ts}) AS bucket_ts")
    ).agg(*map(F.expr, aggs))


def rollup_from_finer(
    finer: DataFrame, tier: str, sum_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (1m->1h, 1h->1d).

    count/sum/min/max compose exactly across tiers; turns_per_sec is
    recomputed from the summed count. sum_cols names already-summed extra
    columns in the finer tier (they re-sum).
    """
    unit, secs, _ = TIERS[tier]
    extra = [F.sum(c).alias(c) for c in sum_cols]
    return (
        finer.groupBy("conv_id", _bucket(unit, "bucket_ts"))
        .agg(
            F.sum("turn_cnt").alias("turn_cnt"),
            F.sum("tool_cnt").alias("tool_cnt"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
            *extra,
        )
        .withColumn("turns_per_sec", F.col("turn_cnt") / F.lit(float(secs)))
    )


def rollup_all_tiers(
    df: DataFrame, sum_cols: dict[str, str] | None = None
) -> dict[str, DataFrame]:
    """All three tiers, hierarchically: raw->1m, 1m->1h, 1h->1d.

    Callers should persist (or .cache) the 1m result before deriving the
    coarser tiers so the raw table is scanned once.
    """
    extra = tuple((sum_cols or {}).keys())
    tiers: dict[str, DataFrame] = {}
    tiers["1m"] = rollup_transcripts(df, "1m", sum_cols=sum_cols)
    tiers["1h"] = rollup_from_finer(tiers["1m"], "1h", extra)
    tiers["1d"] = rollup_from_finer(tiers["1h"], "1d", extra)
    return tiers


def counter_rate(
    rolled,
    value_col: str,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    counter: bool = True,
):
    """Per-series delta and per-second rate between consecutive buckets,
    with counter-reset correction (the PromQL rate()/increase() rule):
    a negative delta means the underlying counter restarted, so the
    post-reset value itself is the increase.

    Pure window functions (lag over one keyed sort) — a single exchange
    on the series key, O(n) per partition, no Python. counter=False
    gives plain gauge deltas (negative allowed). Rows without a
    predecessor (each series' first bucket) are dropped, like every
    rate() implementation.

    Returns (by..., bucket_col, value, delta, rate_per_s).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*by).orderBy(bucket_col)
    prev_v = F.lag(value_col).over(w)
    prev_t = F.lag(bucket_col).over(w)
    raw_delta = F.col(value_col) - prev_v
    delta = (
        F.when(raw_delta < 0, F.col(value_col)).otherwise(raw_delta)
        if counter
        else raw_delta
    )
    secs = F.unix_timestamp(bucket_col) - F.unix_timestamp(prev_t)
    # first-row detection uses lag of the BUCKET column (never NULL), not
    # lag of the value: a predecessor bucket carrying a NULL value is
    # still a predecessor row — its delta is NULL, but the row survives
    # (matches the oracle's predecessor-existence filter).
    return (
        rolled.select(
            *by,
            bucket_col,
            F.col(value_col).alias("value"),
            delta.alias("delta"),
            (delta / secs).alias("rate_per_s"),
            prev_t.alias("__pt"),
        )
        .filter(F.col("__pt").isNotNull())
        .drop("__pt")
    )


def prom_increase(
    samples,
    value_col: str,
    tier: str = "1h",
    by: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    counter: bool = True,
    order_cols: tuple[str, ...] = (),
):
    """PromQL-exact extrapolated increase() per tumbling tier bucket.

    counter_rate answers "delta between ROLLED buckets"; this is the
    other Prometheus primitive — raw samples in, and the published
    extrapolation rule (promql/functions.go extrapolatedRate, public
    upstream source) out: the raw reset-corrected increase between the
    bucket's first and last samples is scaled by how much of the bucket
    the samples actually cover, where each boundary gap contributes
    min(gap, half the average sample spacing) once the gap exceeds
    1.1x that spacing, and a counter is additionally clamped so the
    extrapolation never implies the counter was negative at the bucket
    start (duration-to-zero rule). Buckets need >= 2 samples spanning
    > 0 time, like Prometheus.

    Plan: ONE exchange on (by, bucket) — the in-bucket lag/sort and the
    closing aggregate share the same keys, so Catalyst reuses the
    partitioning; every arithmetic stays whole-stage-codegen on exact
    epoch-microsecond integers (bit-replayable by the SQL oracle).

    Returns (by..., bucket_ts, n_samples, raw_increase, increase).
    """
    from pyspark.sql import Window

    unit, secs, _ = TIERS[tier]
    b = F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
    order = [F.col(ts_col), *[F.col(c) for c in order_cols]]
    w = Window.partitionBy(*by, "bucket_ts").orderBy(*order)
    v = F.col(value_col).cast("double")
    if counter:
        comp = (
            F.when(
                F.col("__v") < F.lag("__v").over(w),
                F.lag("__v").over(w),
            )
            .otherwise(F.lit(0.0))
        )
    else:
        comp = F.lit(0.0)
    tagged = samples.select(
        *by, b, F.col(ts_col), *order_cols, v.alias("__v")
    ).select("*", comp.alias("__comp"))
    agg = tagged.groupBy(*by, "bucket_ts").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.min(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("__f_us"),
        F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("__l_us"),
        F.min_by("__v", F.struct(*order)).alias("__fv"),
        F.max_by("__v", F.struct(*order)).alias("__lv"),
        F.sum("__comp").alias("__resets"),
    )
    bs = F.unix_micros(F.col("bucket_ts").cast("timestamp"))
    be = bs + F.lit(secs * 1_000_000)
    raw = F.col("__lv") - F.col("__fv") + F.col("__resets")
    sampled = (F.col("__l_us") - F.col("__f_us")).cast("double")
    avg = sampled / (F.col("n_samples") - 1).cast("double")
    dstart = (F.col("__f_us") - bs).cast("double")
    dend = (be - F.col("__l_us")).cast("double")
    dstart = F.when(dstart >= 1.1 * avg, avg / 2).otherwise(dstart)
    if counter:
        dzero = sampled * (F.col("__fv") / raw)
        dstart = F.when(
            (raw > 0) & (F.col("__fv") >= 0) & (dzero < dstart), dzero
        ).otherwise(dstart)
    dend = F.when(dend >= 1.1 * avg, avg / 2).otherwise(dend)
    factor = (sampled + dstart + dend) / sampled
    return (
        agg.filter((F.col("n_samples") >= 2) & (sampled > 0))
        .select(
            *by,
            "bucket_ts",
            "n_samples",
            raw.alias("raw_increase"),
            (raw * factor).alias("increase"),
        )
    )


def prom_rate(
    samples,
    value_col: str,
    tier: str = "1h",
    by: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    counter: bool = True,
    order_cols: tuple[str, ...] = (),
):
    """PromQL-exact rate() per tumbling tier bucket: the extrapolated
    increase() divided by the range width in seconds (the published
    extrapolatedRate rule with isRate=true — identical extrapolation,
    one extra division). This is the primitive real dashboards graph;
    increase() is rate() * range under the hood in Prometheus.

    Plan: same single (by, bucket) exchange as prom_increase — the
    division is a projection, no new shuffle.

    Returns (by..., bucket_ts, n_samples, raw_increase, increase,
    rate_per_s).
    """
    _, secs, _ = TIERS[tier]
    inc = prom_increase(
        samples, value_col, tier, by, ts_col, counter, order_cols
    )
    return inc.select(
        "*", (F.col("increase") / F.lit(float(secs))).alias("rate_per_s")
    )


def prom_resets(
    samples,
    value_col: str,
    tier: str = "1d",
    by: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = (),
):
    """PromQL resets() per tumbling tier bucket: how many times the
    counter dropped below its predecessor inside the bucket (each
    strict decrease = one reset, the published resets() rule). The
    alert "did this service restart today, and how often" in one
    aggregate.

    Plan: ONE exchange on (by, bucket) — the in-bucket lag and the
    closing count share keys; the comparison is whole-stage codegen.
    Buckets with a single sample report 0 resets (lag is null, the
    when() falls through), matching Prometheus on a 1-point range.

    Returns (by..., bucket_ts, n_samples, resets).
    """
    from pyspark.sql import Window

    unit, _, _ = TIERS[tier]
    b = F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
    order = [F.col(ts_col), *[F.col(c) for c in order_cols]]
    w = Window.partitionBy(*by, "bucket_ts").orderBy(*order)
    tagged = samples.select(
        *by, b, F.col(ts_col), *order_cols,
        F.col(value_col).cast("double").alias("__v"),
    ).select(
        "*",
        F.when(F.col("__v") < F.lag("__v").over(w), F.lit(1))
        .otherwise(F.lit(0))
        .alias("__r"),
    )
    return tagged.groupBy(*by, "bucket_ts").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("__r").alias("resets"),
    )


def prom_changes(
    samples,
    value_col: str,
    tier: str = "1d",
    by: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = (),
):
    """PromQL changes() per tumbling tier bucket: how many times the
    value changed between consecutive samples inside the bucket (any
    difference counts, up or down — resets() is the strictly-decreasing
    subset). The gauge twin of resets(): "how many times did this flag
    flip today".

    Same single-exchange plan as prom_resets: (by, bucket) partitioning
    serves both the in-bucket lag and the closing count, comparison in
    whole-stage codegen. One-sample buckets report 0 changes (lag null,
    when() falls through), matching Prometheus on a 1-point range.

    Returns (by..., bucket_ts, n_samples, changes).
    """
    from pyspark.sql import Window

    unit, _, _ = TIERS[tier]
    b = F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
    order = [F.col(ts_col), *[F.col(c) for c in order_cols]]
    w = Window.partitionBy(*by, "bucket_ts").orderBy(*order)
    tagged = samples.select(
        *by, b, F.col(ts_col), *order_cols,
        F.col(value_col).cast("double").alias("__v"),
    ).select(
        "*",
        F.when(F.col("__v") != F.lag("__v").over(w), F.lit(1))
        .otherwise(F.lit(0))
        .alias("__c"),
    )
    return tagged.groupBy(*by, "bucket_ts").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("__c").alias("changes"),
    )


def moving_aggregate(
    rolled,
    value_col: str,
    window_secs: int,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    with_spread: bool = False,
):
    """Trailing sliding-window aggregates over a tier: for every bucket,
    the sum/avg/count of `value_col` across the buckets in the preceding
    `window_secs` (inclusive of the current bucket) — the tumbling
    tiers' sliding complement (24h moving average over the 1h tier,
    etc.).

    A RANGE frame over unix seconds, so gaps count as absent (not zero):
    the aggregate sees the buckets that exist, exactly like a stream
    processor's sliding window over event time. One exchange on the
    series key, O(n log n) sort, built-in window aggregation — no
    Python.

    with_spread=True appends win_sumsq (exact when value is integral)
    plus POPULATION variance/stddev — PromQL's stdvar_over_time /
    stddev_over_time convention (÷n, not n−1). The variance is derived
    from the integer-exact (n·Σx² − (Σx)²)/n² form so an oracle
    computing the same expression agrees bit-for-bit, rather than from
    a streaming moment accumulator whose rounding is engine-specific.

    Returns (by..., bucket_col, value, win_sum, win_avg, win_n
             [, win_sumsq, win_var, win_std]).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*by)
        .orderBy(F.unix_timestamp(bucket_col))
        .rangeBetween(-(window_secs - 1), 0)
    )
    cols = [
        *by,
        bucket_col,
        F.col(value_col).alias("value"),
        F.sum(value_col).over(w).alias("win_sum"),
        F.avg(value_col).over(w).alias("win_avg"),
        F.count(F.lit(1)).over(w).alias("win_n"),
    ]
    if with_spread:
        cols.append(
            F.sum(F.col(value_col) * F.col(value_col))
            .over(w)
            .alias("win_sumsq")
        )
    out = rolled.select(*cols)
    if with_spread:
        out = out.withColumn(
            "win_var",
            (
                F.col("win_n") * F.col("win_sumsq")
                - F.col("win_sum") * F.col("win_sum")
            ).cast("double")
            / (F.col("win_n") * F.col("win_n")).cast("double"),
        ).withColumn("win_std", F.sqrt(F.col("win_var")))
    return out


def count_values(
    rolled,
    value_col: str,
    bucket_col: str = "bucket_ts",
    out_col: str = "n_series",
):
    """PromQL ``count_values("label", metric)``: for every bucket, the
    number of series reporting each distinct value — the cardinality-
    by-value histogram used to spot version/shard convergence ("how
    many targets report build 1.2.3 right now").

    One hash-aggregate exchange on (bucket, value); partial aggregation
    is map-side, so at 100 TB the shuffle carries only the distinct
    (bucket, value) pairs, not the rows.
    """
    return rolled.groupBy(bucket_col, value_col).agg(
        F.count(F.lit(1)).alias(out_col)
    )


def moving_quantile(
    rolled,
    value_col: str,
    window_secs: int,
    pcts: tuple[float, ...] = (0.5, 0.95),
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
):
    """Trailing sliding-window EXACT percentiles over a tier (rolling
    p50/p95 of the last 24h, the latency-SLO monitor curve). Same RANGE
    frame convention as moving_aggregate: gaps are absent, the frame is
    inclusive of the current bucket.

    Scale note: percentile is not a subtractable aggregate, so Spark
    re-evaluates each frame — O(points x window_buckets) per series,
    fine at tier granularity (a 24h frame over a 1h tier is <= 24
    values per evaluation). For raw-event windows swap in
    cardinality.approx_quantile_rollup's Greenwald-Khanna sketch on
    tumbling buckets; the exact windowed form is the render/monitor
    path, not the 100-TB scan path.

    Returns (by..., bucket_col, value, win_n, p_<pct>...).
    """
    from pyspark.sql import Window

    if not pcts:
        raise ValueError("need at least one percentile")
    for p in pcts:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile out of range: {p}")
    w = (
        Window.partitionBy(*by)
        .orderBy(F.unix_timestamp(bucket_col))
        .rangeBetween(-(window_secs - 1), 0)
    )
    cols = [
        *by,
        bucket_col,
        F.col(value_col).alias("value"),
        F.count(F.lit(1)).over(w).alias("win_n"),
    ]
    for p in pcts:
        cols.append(
            F.expr(f"percentile({value_col}, {float(p)})")
            .over(w)
            .alias(f"p_{int(round(p * 100))}")
        )
    return rolled.select(*cols)


def prom_irate(
    samples,
    value_col: str,
    tier: str = "1h",
    by: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    counter: bool = True,
    order_cols: tuple[str, ...] = (),
):
    """PromQL-exact irate() per tumbling tier bucket: the INSTANTANEOUS
    per-second rate from the bucket's last two samples —

        irate = (last < prev ? last : last - prev) / (t_last - t_prev)

    (the published instantValue rule: a drop means the counter reset,
    so the post-reset value IS the increase). Where rate()/increase()
    average over the whole window, irate tracks fast-moving counters
    at scrape granularity; it is the right-edge derivative a latency
    dashboard's "current QPS" tile shows.

    Same-timestamp samples are deduped FIRST — one winner per
    (series, bucket, timestamp), the highest ``order_cols`` (highest
    value when none given) — so a duplicate scrape at the bucket's
    latest instant falls back to the most recent DISTINCT timestamp
    instead of dropping the bucket. Buckets then need >= 2 distinct
    timestamps (like Prometheus, whose series cannot carry duplicate
    timestamps at all); others are dropped.

    Plan: ONE exchange on (by, bucket) — the dedup window's key is a
    superset of the bucket key, so both row_numbers and the closing
    aggregate reuse the same partitioning (one extra sort, no second
    shuffle); the conditional-max pivot of the top-2 rows and the
    single delta/span division are whole-stage codegen on exact
    epoch-microsecond integers (SQL-oracle-replayable).

    Returns (by..., bucket_ts, n_samples, delta, irate_per_s).
    """
    from pyspark.sql import Window

    unit, _, _ = TIERS[tier]
    b = F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
    # order on the projected epoch column — the raw ts_col is pruned
    # away by the select below (micros preserve the full ordering)
    tie = (
        [F.col(c).desc() for c in order_cols]
        if order_cols
        else [F.col("__v").desc()]
    )
    w_dup = Window.partitionBy(*by, "bucket_ts", "__t_us").orderBy(*tie)
    w = Window.partitionBy(*by, "bucket_ts").orderBy(
        F.col("__t_us").desc(), *tie
    )
    tagged = (
        samples.select(
            *by,
            b,
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__t_us"),
            *order_cols,
            F.col(value_col).cast("double").alias("__v"),
        )
        .withColumn("__dup_rn", F.row_number().over(w_dup))
        .where(F.col("__dup_rn") == 1)
        .withColumn("__rn", F.row_number().over(w))
    )
    top2 = tagged.where(F.col("__rn") <= 2)
    agg = top2.groupBy(*by, "bucket_ts").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.max(F.when(F.col("__rn") == 1, F.col("__v"))).alias("__lv"),
        F.max(F.when(F.col("__rn") == 2, F.col("__v"))).alias("__pv"),
        F.max(F.when(F.col("__rn") == 1, F.col("__t_us"))).alias("__l_us"),
        F.max(F.when(F.col("__rn") == 2, F.col("__t_us"))).alias("__p_us"),
    )
    if counter:
        delta = F.when(
            F.col("__lv") < F.col("__pv"), F.col("__lv")
        ).otherwise(F.col("__lv") - F.col("__pv"))
    else:
        delta = F.col("__lv") - F.col("__pv")
    span_us = (F.col("__l_us") - F.col("__p_us")).cast("double")
    return (
        agg.where(
            (F.col("n_samples") == 2) & (F.col("__l_us") > F.col("__p_us"))
        )
        .select(
            *by,
            "bucket_ts",
            "n_samples",
            delta.alias("delta"),
            (delta * F.lit(1_000_000.0) / span_us).alias("irate_per_s"),
        )
    )


def prom_deriv(
    samples,
    value_col: str,
    tier: str = "1h",
    by: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    t_ahead_secs: float | None = None,
):
    """PromQL deriv() / predict_linear() per tumbling tier bucket: the
    least-squares slope of the gauge over each bucket's samples (the
    published linearRegression rule — simple linear regression of value
    on time), and, when `t_ahead_secs` is given, the regression line's
    value `t_ahead_secs` past the bucket end (predict_linear).

    Numerics: the slope is computed from EXACT integer sums — x = the
    sample's offset from the bucket start in microseconds, y = the
    value in integer micro-units — accumulated as decimal(38,0), so the
    quotient's operands are order-independent and any engine computing
    the same published formula reproduces the result bit-for-bit (the
    covariance/variance quotient is algebraically identical to
    Prometheus's float form; only the accumulation is exact). Buckets
    need >= 2 samples with distinct timestamps (variance > 0), like
    Prometheus.

    Plan: ONE exchange on (by, bucket) — tag, aggregate the five sums,
    project the quotient; everything whole-stage codegen, no window.

    Returns (by..., bucket_ts, n_samples, slope [value-units/sec],
    predicted [value units, only when t_ahead_secs is not None]).
    """
    unit, secs, _ = TIERS[tier]
    b = F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
    dec = "decimal(20,0)"
    tagged = samples.select(
        *by,
        b,
        (
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - F.unix_micros(F.date_trunc(unit, F.col(ts_col)).cast("timestamp"))
        ).cast(dec).alias("__x"),
        F.round(F.col(value_col).cast("double") * 1e6, 0)
        .cast(dec)
        .alias("__y"),
    )
    agg = tagged.groupBy(*by, "bucket_ts").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    n = F.col("n_samples").cast(dec)
    num = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    den = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    # y_u/us == value/sec exactly (the 1e6s cancel)
    slope = num / den
    cols = [
        *by,
        "bucket_ts",
        "n_samples",
        slope.alias("slope"),
    ]
    if t_ahead_secs is not None:
        # regression intercept at the bucket start (x = 0), micro-units
        icept_u = (
            F.col("__sy").cast("double")
            - (num / den) * F.col("__sx").cast("double")
        ) / F.col("n_samples").cast("double")
        x_pred = float((secs + t_ahead_secs) * 1_000_000)
        cols.append(
            ((icept_u + (num / den) * F.lit(x_pred)) / F.lit(1e6)).alias(
                "predicted"
            )
        )
    return agg.where((F.col("n_samples") >= 2) & (den > 0)).select(*cols)
