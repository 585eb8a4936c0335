"""Time-series join operators Spark lacks as built-ins.

asof_join: each left row picks the latest right row at-or-before its
timestamp within the same key — the point-in-time lookup every
time-series store offers (and DuckDB ships natively as ASOF JOIN, which
is exactly what makes it oracle-checkable here).

Spark-first shape: NOT a range join (an inequality join explodes into
O(|L| x |R|) per key before pruning) — instead the classic union+window
composition:

  1. tag and union both sides on an aligned schema (right payload rides
     as nullable __r_* columns),
  2. ONE hash exchange on the key + in-partition sort on
     (ts, is_left) — right rows sort before left rows at equal ts, so
     the match is inclusive (right.ts <= left.ts),
  3. last(__r_*, ignorenulls) over rows UNBOUNDED PRECEDING..CURRENT
     ROW forward-carries the latest right payload in O(n),
  4. keep left rows, rename the carried payload.

Cost at any scale: one shuffle of |L| + |R| rows and a linear window —
same exchange count as a plain equi-join, no quadratic blowup. A hot
key serializes inside its partition like any keyed window; pass
bucket_secs to switch to the skew-proof variant, which partitions on
(key, time-bucket) and restores cross-bucket matches through a tiny
forward-filled boundary spine — any single task is then bounded by one
bucket of one key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "asof_join",
    "asof_interp_join",
    "asof_nearest_join",
    "asof_forward_join",
    "interval_join",
]


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_secs: int = 3600,
    suffix: str = "_w",
    max_span_buckets: int = 10_000,
) -> DataFrame:
    """Containment (range) join: every (point, interval) pair with equal
    ``on`` keys and ``start_col <= ts <= end_col`` (closed on both
    ends). Overlapping intervals are allowed — a point inside k
    intervals emits k rows. Output = all point columns + each interval
    payload column as ``{name}{suffix}`` plus ``{start_col}{suffix}`` /
    ``{end_col}{suffix}``.

    Spark-first shape: a raw inequality join is a per-key cartesian
    pruned AFTER the blowup — instead each interval EXPLODES into the
    time buckets it covers (``sequence`` of floor(start/b)..floor(end/b))
    and joins the points' single bucket as a plain equi-join on
    (key, bucket), with the exact containment predicate as a post-join
    filter. This is the binning strategy behind Databricks' range-join
    hint, expressed in open DataFrame ops.

    Cost at any scale: the points move once; the intervals are
    replicated ~(span/bucket_secs + 1)× — choose ``bucket_secs`` near
    the typical interval span so the factor stays ~2. Hot (key, bucket)
    cells are bounded by bucket width, not by key history. Pathological
    rows (end < start, or a span wider than ``max_span_buckets``
    buckets) raise rather than silently exploding the plan.
    """
    payload = [
        c for c in intervals.columns if c not in (*on, start_col, end_col)
    ]
    reserved = {"__b", "__bs", "__be"}
    out_names = {f"{c}{suffix}" for c in (*payload, start_col, end_col)}
    clash = (reserved | out_names) & set(points.columns)
    if clash:
        raise ValueError(
            f"interval_join: point column(s) {sorted(clash)} collide "
            f"with output suffix {suffix!r} or reserved internal names"
        )

    b = float(bucket_secs)

    def _bucket(col):
        return (col.cast("timestamp").cast("double") / F.lit(b)).cast("long")

    p = points.withColumn("__b", _bucket(F.col(ts_col)))
    iv = intervals.select(
        *[F.col(c).alias(f"{c}{suffix}") for c in payload],
        F.col(start_col).alias(f"{start_col}{suffix}"),
        F.col(end_col).alias(f"{end_col}{suffix}"),
        *[F.col(c) for c in on],
        _bucket(F.col(start_col)).alias("__bs"),
        _bucket(F.col(end_col)).alias("__be"),
    )
    # malformed intervals fail loudly: raise_error inside the filter
    # predicate cannot be pruned away by the optimizer
    ok = (F.col("__be") >= F.col("__bs")) & (
        (F.col("__be") - F.col("__bs")) < F.lit(max_span_buckets)
    )
    iv = iv.filter(
        F.when(ok, F.lit(True)).otherwise(
            F.raise_error(
                F.lit(
                    "interval_join: interval with end < start or span > "
                    f"{max_span_buckets} buckets of {bucket_secs}s"
                )
            )
        )
    )
    exploded = iv.withColumn(
        "__b", F.explode(F.sequence(F.col("__bs"), F.col("__be")))
    ).drop("__bs", "__be")
    joined = p.join(exploded, [*on, "__b"], "inner").filter(
        (F.col(ts_col) >= F.col(f"{start_col}{suffix}"))
        & (F.col(ts_col) <= F.col(f"{end_col}{suffix}"))
    )
    return joined.select(
        *points.columns,
        *[F.col(f"{c}{suffix}") for c in payload],
        F.col(f"{start_col}{suffix}"),
        F.col(f"{end_col}{suffix}"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_s: float | None = None,
    suffix: str = "_r",
    bucket_secs: int | None = None,
) -> DataFrame:
    """Backward (most-recent-at-or-before) as-of join.

    Returns every left row plus, for each name in value_cols, a column
    ``{name}{suffix}`` holding the value from the latest right row with
    ``right.ts_col <= left.ts_col`` and equal ``on`` keys, and
    ``{ts_col}{suffix}`` with that row's timestamp — all NULL when no
    right row precedes the left row (or the match is older than
    ``tolerance_s`` seconds, when given).

    The matched values and ``{ts_col}{suffix}`` always come from one
    single right row — a right row whose payload is NULL still IS the
    match for later left rows (DuckDB ASOF semantics), it is not skipped
    in favor of an older non-null value.

    Determinism: when several right rows share one (key, ts), which one
    wins is unspecified — pre-aggregate the right side to one row per
    (key, ts) if that can occur (mirrors DuckDB ASOF JOIN, which has the
    same caveat).

    bucket_secs: when set, use the skew-proof (key, time-bucket)
    partitioning (see module docstring) — results are identical to the
    plain path; choose a bucket a few times the median match gap so
    most matches resolve in-bucket. The bucketed plan consumes the
    unioned input THREE times (boundary agg, spine keys, main join) —
    the shuffled bytes still move once, but a lazy upstream pipeline is
    re-EXECUTED per consumer (Catalyst has no cross-consumer subtree
    reuse); store or localCheckpoint expensive inputs first.
    """
    from pyspark.sql.types import StructField, StructType

    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (*on, ts_col)]
    rtypes = {f.name: f.dataType for f in right.schema.fields}
    ltypes = {f.name: f.dataType for f in left.schema.fields}
    lcols = list(left.columns)

    # fail loudly instead of emitting duplicate/shadowed columns: the
    # output adds {value}{suffix} + {ts_col}{suffix} next to every left
    # column, and three internal names ride through the union
    reserved = {"__r", "__is_left", "__m", "__b", "__carry"}
    out_names = {f"{c}{suffix}" for c in value_cols} | {f"{ts_col}{suffix}"}
    clash = (reserved | out_names) & set(lcols)
    if clash:
        raise ValueError(
            f"asof_join: left column(s) {sorted(clash)} collide with "
            f"output suffix {suffix!r} or reserved internal names — "
            "rename them or pass a different suffix"
        )
    clash_r = (reserved | {"__ts"}) & set(value_cols)
    if clash_r:
        raise ValueError(
            f"asof_join: right value column(s) {sorted(clash_r)} collide "
            "with reserved internal names (the match struct carries its "
            "timestamp as __ts) — rename them"
        )

    # the matched right row travels as ONE struct (its ts + every value
    # column), so the carried values and the carried timestamp always
    # come from the SAME row — per-column ignorenulls would skip a right
    # row whose payload is NULL for one column and stitch together a row
    # that never existed (DuckDB ASOF matches the latest row regardless
    # of payload NULLs, and so does this).
    r_struct_t = StructType(
        [StructField("__ts", rtypes[ts_col])]
        + [StructField(c, rtypes[c]) for c in value_cols]
    )
    l2 = left.select(
        *[F.col(c) for c in lcols],
        F.lit(None).cast(r_struct_t).alias("__r"),
        F.lit(True).alias("__is_left"),
    )
    r2 = right.select(
        *[
            (
                F.col(c)
                if (c in on or c == ts_col)
                else F.lit(None).cast(ltypes[c])
            ).alias(c)
            for c in lcols
        ],
        F.struct(
            F.col(ts_col).alias("__ts"),
            *[F.col(c) for c in value_cols],
        ).alias("__r"),
        F.lit(False).alias("__is_left"),
    )
    u = l2.unionByName(r2)

    if bucket_secs is None:
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col(ts_col).asc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = u.select(
            "*", F.last("__r", ignorenulls=True).over(w).alias("__m")
        )
        out = carried.filter(F.col("__is_left"))
    else:
        # Skew-proof variant: a single hot key serializes the plain path
        # inside one window task. Partitioning on (key, time-bucket)
        # caps any task at one bucket of one key; the cross-bucket match
        # is restored by a tiny per-(key, bucket) boundary spine whose
        # carry is forward-filled along buckets (sessionize's bucketed
        # path uses the same spine).
        #   exchanges: the big union moves ONCE on (key, bucket); the
        #   spine tables are O(#key x #active-buckets) rows (partial-agg
        #   reduced map-side), orders of magnitude smaller than the data.
        # via an intermediate timestamp cast: TIMESTAMP_NTZ inputs
        # cannot cast straight to double (no-op for plain TIMESTAMP)
        epoch = F.col(ts_col).cast("timestamp").cast("double")
        ub = u.withColumn(
            "__b", (epoch / F.lit(float(bucket_secs))).cast("long")
        )
        # last right row per (key, bucket), picked by max_by on the
        # timestamp alone — ordering the whole struct would require
        # every payload column to be orderable (maps are not);
        # equal-ts winner unspecified, same caveat as the plain path
        bnd = (
            ub.filter(~F.col("__is_left"))
            .groupBy(*on, "__b")
            .agg(F.expr("max_by(__r, __r.__ts)").alias("__last"))
        )
        # spine over EVERY (key, bucket) either side touches, so a left
        # bucket with no right rows still receives the carry
        spine_keys = ub.select(*on, "__b").distinct()
        w_prev = (
            Window.partitionBy(*on)
            .orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        spine = (
            spine_keys.join(bnd, [*on, "__b"], "left")
            .withColumn(
                "__carry", F.last("__last", ignorenulls=True).over(w_prev)
            )
            .select(*on, "__b", "__carry")
        )
        w_in = (
            Window.partitionBy(*on, "__b")
            .orderBy(F.col(ts_col).asc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = ub.join(spine, [*on, "__b"], "left").select(
            "*",
            F.coalesce(
                F.last("__r", ignorenulls=True).over(w_in), F.col("__carry")
            ).alias("__m"),
        )
        out = carried.filter(F.col("__is_left"))
    if tolerance_s is not None:
        fresh = (
            F.col(ts_col).cast("timestamp").cast("double")
            - F.col("__m.__ts").cast("timestamp").cast("double")
        ) <= F.lit(float(tolerance_s))
        out = out.withColumn("__m", F.when(fresh, F.col("__m")))
    return out.select(
        *lcols,
        *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in value_cols],
        F.col("__m.__ts").alias(f"{ts_col}{suffix}"),
    )


def asof_interp_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    value_col: str,
    ts_col: str = "ts",
    suffix: str = "_i",
) -> DataFrame:
    """Interpolating as-of join: each left row gets the right-side value
    LINEARLY INTERPOLATED at its timestamp between the latest right row
    at-or-before and the earliest right row strictly after (TimescaleDB
    interpolate() / kdb-style aj-with-lerp semantics, which plain
    asof_join's step-function carry cannot express).

    Output = all left columns plus ``{value_col}{suffix}`` (double,
    NULL when the left timestamp is not bracketed by right rows — no
    extrapolation), ``{ts_col}_prev`` and ``{ts_col}_next`` (the
    bracketing right timestamps; _next is NULL on an exact-timestamp
    hit where no later right row is needed... it carries the strict
    successor regardless, for observability).

    Exactly-equal timestamps hit the prev row and return its value
    untouched. Like asof_join, several right rows sharing one
    (key, ts) make the winner unspecified — pre-aggregate the right
    side if that can occur.

    Plan: tag + union both sides, ONE hash exchange on the key, ONE
    in-partition sort on (ts, is_left) — right rows sort before left
    rows at equal ts — then two frames over that single sort: a
    backward last(ignorenulls) carries the prev right row (inclusive),
    a forward first(ignorenulls) pulls the strict-next right row
    (same-ts rights land BEFORE the left row, so the following frame is
    naturally strict). Cost: one shuffle of |L| + |R| rows, no
    range-join blowup; the lerp itself is whole-stage-codegen
    arithmetic on exact epoch-microsecond integers.
    """
    return _asof_bracket(
        left, right, on, value_col, ts_col, suffix, "interp"
    )


def asof_nearest_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    value_col: str,
    ts_col: str = "ts",
    suffix: str = "_n",
) -> DataFrame:
    """Nearest as-of join: each left row picks whichever right row is
    CLOSEST in time — before or after — within the same key (pandas
    ``merge_asof(direction="nearest")`` semantics, incl. its tie rule:
    equal distance resolves BACKWARD). The lookup a label-alignment or
    sensor-fusion step wants when "latest at-or-before" is wrong for
    rows that sit just before a fresh reading.

    Output = all left columns plus ``{value_col}{suffix}`` (double,
    NULL when the key has no right rows) and ``{ts_col}_match`` (the
    chosen right timestamp). Same single-exchange union+two-frame plan
    as asof_interp_join — nearest is just a different final pick over
    the same prev/next carry.
    """
    return _asof_bracket(
        left, right, on, value_col, ts_col, suffix, "nearest"
    )


def asof_forward_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    value_col: str,
    ts_col: str = "ts",
    suffix: str = "_f",
) -> DataFrame:
    """Forward as-of join: each left row gets the EARLIEST right row
    at-or-after its timestamp within the same key (pandas
    ``merge_asof(direction="forward")`` semantics, exact-timestamp
    matches included) — "what happened next", the response-to-stimulus
    lookup backward as-of cannot express.

    Output = all left columns plus ``{value_col}{suffix}`` (double,
    NULL when no right row follows) and ``{ts_col}_match`` (the chosen
    right timestamp). Same single-exchange union+two-frame plan as the
    interp/nearest joins: a same-ts right sorts BEFORE the left row so
    the inclusive exact hit comes from the backward carry, everything
    later from the strict forward frame.
    """
    return _asof_bracket(
        left, right, on, value_col, ts_col, suffix, "forward"
    )


def _asof_bracket(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    value_col: str,
    ts_col: str,
    suffix: str,
    mode: str,
) -> DataFrame:
    reserved = {"__r", "__is_left", "__prev", "__next"}
    out_names = {f"{value_col}{suffix}", f"{ts_col}_prev", f"{ts_col}_next",
                 f"{ts_col}_match"}
    clash = (reserved | out_names) & set(left.columns)
    if clash:
        raise ValueError(
            f"asof bracket join: left column(s) {sorted(clash)} collide "
            f"with output or reserved internal names — rename them or "
            f"pass a different suffix"
        )

    lcols = list(left.columns)
    lhs = left.select(
        *[F.col(c) for c in lcols],
        F.lit(True).alias("__is_left"),
        F.lit(None)
        .cast("struct<__ts:timestamp,__v:double>")
        .alias("__r"),
    )
    rhs = right.select(
        *on,
        F.col(ts_col),
        *[
            F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
            for c in lcols
            if c not in (*on, ts_col)
        ],
        F.lit(False).alias("__is_left"),
        F.struct(
            F.col(ts_col).cast("timestamp").alias("__ts"),
            F.col(value_col).cast("double").alias("__v"),
        ).alias("__r"),
    ).select(*lcols, "__is_left", "__r")

    ub = lhs.unionByName(rhs)
    order = [F.col(ts_col).asc(), F.col("__is_left").asc()]
    w_prev = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = ub.select(
        "*",
        F.last("__r", ignorenulls=True).over(w_prev).alias("__prev"),
        F.first("__r", ignorenulls=True).over(w_next).alias("__next"),
    ).filter(F.col("__is_left"))

    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    tp = F.unix_micros(F.col("__prev.__ts"))
    tn = F.unix_micros(F.col("__next.__ts"))
    vp = F.col("__prev.__v")
    vn = F.col("__next.__v")
    if mode == "forward":
        # inclusive at equal ts: the same-ts right row sorted before the
        # left row, so it lives in __prev with tp == t; otherwise the
        # strict successor in __next is the match
        exact = F.col("__prev").isNotNull() & (tp == t)
        pick = F.when(exact, F.col("__prev")).otherwise(F.col("__next"))
        return carried.select(
            *lcols,
            pick["__v"].alias(f"{value_col}{suffix}"),
            pick["__ts"].alias(f"{ts_col}_match"),
        )
    if mode == "nearest":
        # backward unless the forward row is STRICTLY closer (pandas
        # tie rule); prev distance is >= 0 since prev is inclusive
        use_next = F.col("__next").isNotNull() & (
            F.col("__prev").isNull() | ((tn - t) < (t - tp))
        )
        pick = F.when(use_next, F.col("__next")).otherwise(F.col("__prev"))
        return carried.select(
            *lcols,
            pick["__v"].alias(f"{value_col}{suffix}"),
            pick["__ts"].alias(f"{ts_col}_match"),
        )
    interp = (
        F.when(F.col("__prev").isNull(), F.lit(None).cast("double"))
        .when(tp == t, vp)
        .when(
            F.col("__next").isNotNull(),
            vp
            + (vn - vp)
            * ((t - tp).cast("double") / (tn - tp).cast("double")),
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return carried.select(
        *lcols,
        interp.alias(f"{value_col}{suffix}"),
        F.col("__prev.__ts").alias(f"{ts_col}_prev"),
        F.col("__next.__ts").alias(f"{ts_col}_next"),
    )
