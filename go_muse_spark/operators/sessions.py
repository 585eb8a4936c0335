"""Gap-based sessionization — the time-series segmentation operator.

Splits each key's event stream into sessions at every quiet gap longer
than ``gap_s`` seconds: the standard building block for activity
analysis over an events table (and a pure-SQL-expressible fixpoint, so
the DuckDB oracle replays it exactly).

Spark-first shape (plain path): ONE hash exchange on the key, then two
linear windows in the same sort —

  1. ``lag(ts)`` marks rows whose gap from their predecessor exceeds
     ``gap_s`` (or that have no predecessor) as session STARTS,
  2. a running ``sum`` of the start flags numbers the sessions 1..k
     per key.

Cost at any scale: one shuffle of the input and an O(n) in-partition
pass — the same exchange count as a plain keyed aggregation. Equal
timestamps are safe: two rows at the same ts have gap 0 from each
other, so their session assignment does not depend on their relative
sort order (the output is deterministic even though the sort is not).

A hot key serializes inside one window task, exactly like asof_join's
plain path; pass ``bucket_secs`` for the skew-proof variant, which
partitions the heavy pass on (key, time-bucket) and restores the two
cross-bucket dependencies — the previous bucket's last timestamp (for
the boundary gap test) and the number of sessions started in earlier
buckets (a prefix sum) — through a tiny per-(key, bucket) spine, the
same carry composition asof_join uses.
Any single task is then bounded by one bucket of one key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "sessionize",
    "session_stats",
    "interval_union",
    "interval_intersect",
    "alert_episodes",
    "report_gaps",
]


def sessionize(
    df: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    gap_s: float = 1800.0,
    session_col: str = "session_id",
    bucket_secs: int | None = None,
) -> DataFrame:
    """Assign 1-based session numbers per key.

    A row starts a new session when it has no predecessor within the
    same ``on`` key or when ``ts - prev_ts > gap_s`` (a gap of exactly
    ``gap_s`` stays in the session — the half-open convention DuckDB's
    window replay shares). Adds ``session_col`` (long); every input
    column passes through unchanged.

    bucket_secs: when set, use the skew-proof (key, time-bucket)
    partitioning (see module docstring) — results are identical to the
    plain path; choose a bucket several times ``gap_s`` so most rows
    resolve in-bucket. The bucketed plan consumes the input THREE times
    (boundary-ts spine, numbering spine, main pass) — Catalyst has no
    cross-consumer subtree reuse, so a lazy upstream pipeline re-EXECUTES
    per consumer; store or localCheckpoint an expensive input first.
    """
    reserved = {"__gap_new", "__b", "__prev_ts", "__carry_ts", "__off",
                "__last", "__n_new", session_col}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"sessionize: input column(s) {sorted(clash)} collide with "
            f"the output column {session_col!r} or reserved internal "
            "names — rename them or pass a different session_col"
        )
    # via an intermediate timestamp cast: TIMESTAMP_NTZ cannot cast
    # straight to double (no-op for plain TIMESTAMp)
    epoch = F.col(ts_col).cast("timestamp").cast("double")

    if bucket_secs is None:
        w = Window.partitionBy(*on).orderBy(ts_col)
        prev = F.lag(epoch).over(w)
        is_new = (
            prev.isNull() | ((epoch - prev) > F.lit(float(gap_s)))
        ).cast("long")
        run = (
            Window.partitionBy(*on)
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.select(
            "*", F.sum(is_new).over(run).alias(session_col)
        ).withColumn(session_col, F.col(session_col).cast("long"))

    # Skew-proof variant. The big input moves ONCE, on (key, bucket);
    # everything cross-bucket rides a spine of O(#key x #active-bucket)
    # rows (partial-agg reduced map-side).
    b = F.lit(float(bucket_secs))
    withb = df.withColumn("__b", (epoch / b).cast("long"))

    # spine pass 1: last timestamp per (key, bucket), forward-carried to
    # the NEXT bucket so each bucket's first row can run the gap test
    # against its true predecessor even across empty buckets
    last_ts = withb.groupBy(*on, "__b").agg(F.max(epoch).alias("__last"))
    w_prev = (
        Window.partitionBy(*on)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = last_ts.select(
        *on, "__b", F.max("__last").over(w_prev).alias("__carry_ts")
    )

    # heavy pass: in-bucket flags, with the carried boundary timestamp
    # standing in as the first row's predecessor (__carry_ts NULL on the
    # key's first bucket -> no predecessor -> new session, matching the
    # plain path)
    w_in = Window.partitionBy(*on, "__b").orderBy(ts_col)
    joined = withb.join(carry, [*on, "__b"], "left")
    prev_in = F.coalesce(F.lag(epoch).over(w_in), F.col("__carry_ts"))
    is_new = (
        prev_in.isNull() | ((epoch - prev_in) > F.lit(float(gap_s)))
    ).cast("long")
    flagged = joined.select("*", is_new.alias("__gap_new"))

    # spine pass 2: sessions started in EARLIER buckets (an exclusive
    # prefix sum over the per-bucket flag counts) -> the key-global
    # numbering offset for each bucket
    per_bucket = flagged.groupBy(*on, "__b").agg(
        F.sum("__gap_new").alias("__n_new")
    )
    off = per_bucket.select(
        *on,
        "__b",
        F.coalesce(F.sum("__n_new").over(w_prev), F.lit(0)).alias("__off"),
    )

    w_run = (
        Window.partitionBy(*on, "__b")
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        flagged.join(off, [*on, "__b"], "left")
        .select(
            *df.columns,
            (F.col("__off") + F.sum("__gap_new").over(w_run))
            .cast("long")
            .alias(session_col),
        )
    )
    return out


def session_stats(
    df: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    gap_s: float = 1800.0,
    value_col: str | None = None,
    bucket_secs: int | None = None,
) -> DataFrame:
    """Per-session aggregates: one row per (key..., session_id) with
    n_events, start_ts, end_ts, duration_s (long seconds), and — when
    ``value_col`` is given — value_sum rounded to 3 decimals (the same
    float-stability convention the rollup contract queries use)."""
    s = sessionize(df, on, ts_col, gap_s, bucket_secs=bucket_secs)
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
        (
            F.max(F.col(ts_col).cast("timestamp").cast("double"))
            - F.min(F.col(ts_col).cast("timestamp").cast("double"))
        )
        .cast("long")
        .alias("duration_s"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 3).alias("value_sum"))
    return s.groupBy(*on, "session_id").agg(*aggs)


def interval_union(
    intervals: DataFrame,
    start_col: str = "start_us",
    end_col: str = "end_us",
    by: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Merge overlapping/touching half-open intervals per key into their
    disjoint union — coverage/uptime accounting over arbitrary interval
    sets (maintenance windows, session spans, SLA downtime), the
    interval-set complement of gap-based sessionize (which ingests
    points; this ingests spans).

    Classic sweep, relationalized: sort by (start, end); an interval
    begins a NEW merged run iff its start exceeds the running max of all
    PRECEDING ends (strictly: touching intervals [a,b) + [b,c) merge);
    a prefix sum of the new-run flags numbers the runs; one aggregate
    per (key, run) emits [min(start), max(end)). Same cost shape as
    sessionize's plain path: ONE exchange on the key, two linear window
    passes in one sort, then an aggregate that reuses the partitioning.
    All-integer comparisons — oracle-exact.

    Zero/negative-length intervals (end <= start) are dropped up front.
    Returns (by..., merge_id, start, end, n_merged, covered).
    """
    s, e = F.col(start_col), F.col(end_col)
    w_sort = Window.partitionBy(*by).orderBy(s, e)
    prev_max_end = F.max(e).over(
        w_sort.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_run = (
        prev_max_end.isNull() | (s > prev_max_end)
    ).cast("long")
    runs = (
        intervals.filter(e > s)
        .withColumn("__new", new_run)
        .withColumn(
            "merge_id",
            F.sum("__new").over(
                w_sort.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        runs.groupBy(*by, "merge_id")
        .agg(
            F.min(s).alias("start"),
            F.max(e).alias("end"),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .withColumn("covered", F.col("end") - F.col("start"))
    )


def interval_intersect(
    left: DataFrame,
    right: DataFrame,
    start_col: str = "start_us",
    end_col: str = "end_us",
    by: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Intersection of two interval SETS per key — "time the value was
    above threshold AND inside an incident window", the AND of
    coverage accounting (interval_union is the OR). Either side may
    contain overlapping intervals; the result is the canonical
    disjoint intersection.

    Classic boundary sweep, relationalized: each interval contributes
    a +1 at start and a -1 at end for its SIDE; deltas are aggregated
    per distinct boundary time FIRST (so coincident boundaries — an
    interval ending exactly where another starts — apply atomically;
    half-open semantics fall out), then two running sums per key give
    the active-count of each side and every [t_i, t_i+1) span where
    BOTH counts are positive is intersection. A final interval_union
    pass coalesces spans split by boundaries that did not change the
    active state. All-integer comparisons — oracle-exact.

    Scale shape: ONE exchange on the key; the boundary aggregate, the
    running-sum window, the lead(), and the union pass all reuse that
    partitioning (the boundary table is 2x the interval count, tiny).

    Returns (by..., merge_id, start, end, n_merged, covered).
    """
    def boundaries(df: DataFrame, tag: str) -> DataFrame:
        s, e = F.col(start_col), F.col(end_col)
        da = "__da" if tag == "a" else "__db"
        other = "__db" if tag == "a" else "__da"
        pts = df.filter(e > s).select(
            *by,
            F.explode(
                F.array(
                    F.struct(s.alias("__t"), F.lit(1).alias(da)),
                    F.struct(e.alias("__t"), F.lit(-1).alias(da)),
                )
            ).alias("__p"),
        ).select(*by, "__p.__t", f"__p.{da}")
        return pts.withColumn(other, F.lit(0))

    pts = boundaries(left, "a").unionByName(boundaries(right, "b"))
    per_t = pts.groupBy(*by, "__t").agg(
        F.sum("__da").alias("__da"), F.sum("__db").alias("__db")
    )
    w = Window.partitionBy(*by).orderBy("__t")
    run = per_t.select(
        *by,
        F.col("__t").alias("start_raw"),
        F.lead("__t").over(w).alias("end_raw"),
        F.sum("__da")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__ca"),
        F.sum("__db")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__cb"),
    )
    active = run.filter(
        (F.col("__ca") > 0)
        & (F.col("__cb") > 0)
        & F.col("end_raw").isNotNull()
        & (F.col("end_raw") > F.col("start_raw"))
    ).select(*by, F.col("start_raw").alias("__s"), F.col("end_raw").alias("__e"))
    return interval_union(active, start_col="__s", end_col="__e", by=by)


def alert_episodes(
    breaches: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    gap_s: float = 1800.0,
    aggs: dict[str, "F.Column"] | None = None,
    bucket_secs: int | None = None,
) -> DataFrame:
    """Merge instantaneous threshold breaches into alert EPISODES: the
    alert-manager primitive that turns "value exceeded the limit at
    these 137 instants" into "the alert fired twice, here's each
    incident's span and peak". Two breaches belong to the same episode
    when they are within ``gap_s`` of each other (transitively) — the
    same gap rule as sessionize, applied to the filtered breach stream.

    The caller pre-filters to breach rows (keeping the predicate out of
    this operator lets it push down to the scan — at 100 TB the breach
    filter is exactly the predicate you want in PushedFilters, reading
    ~1% of the data). Pass ``bucket_secs`` to use sessionize's
    skew-proof (key, time-bucket) numbering when one key can hold a
    pathological share of breaches.

    Determinism: episode membership depends only on the SET of breach
    timestamps per key (duplicate timestamps have zero gap, so they
    always co-locate), and every built-in aggregate here (min/max/
    count) plus any user `aggs` over integers is order-insensitive.

    Returns (on..., episode, start_us, end_us, n_breaches, aggs...).
    """
    s = sessionize(
        breaches,
        on,
        ts_col=ts_col,
        gap_s=gap_s,
        session_col="__ep",
        bucket_secs=bucket_secs,
    )
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    named = {
        "start_us": F.min(t),
        "end_us": F.max(t),
        "n_breaches": F.count(F.lit(1)),
        **(aggs or {}),
    }
    exprs = [e.alias(k) for k, e in named.items()]
    return (
        s.groupBy(*on, F.col("__ep").alias("episode"))
        .agg(*exprs)
        .select(*on, "episode", *named.keys())
    )


def report_gaps(
    df: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    min_gap_secs: int = 21600,
) -> DataFrame:
    """Silence detection — the inverse of sessionize: report every
    inter-event gap LONGER than ``min_gap_secs`` per key ("this device
    went dark for 9 hours, twice"). One row per detected gap with its
    exact integer-microsecond bounds.

    Determinism under duplicate timestamps: the window orders by the
    timestamp itself; within a duplicate cluster only the row whose
    lag() reaches back across the gap emits (the others see a 0-gap
    predecessor at the same instant), so the output SET is a function
    of the distinct-timestamp sequence, not of tie order.

    Scale shape: one exchange on the key + one lag window; the gap
    predicate then drops ~all rows, so the output is output-sensitive.
    Returns (on..., gap_start_us, gap_end_us, gap_us).
    """
    if min_gap_secs <= 0:
        raise ValueError("min_gap_secs must be positive")
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(*on).orderBy(t)
    prev = F.lag(t).over(w)
    out = df.select(
        *on,
        prev.alias("gap_start_us"),
        t.alias("gap_end_us"),
    ).filter(
        F.col("gap_start_us").isNotNull()
        & (
            F.col("gap_end_us") - F.col("gap_start_us")
            > F.lit(int(min_gap_secs) * 1_000_000)
        )
    )
    return out.withColumn(
        "gap_us", F.col("gap_end_us") - F.col("gap_start_us")
    )
