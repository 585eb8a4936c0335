"""L2 — dense bucket spine + gap fill (zero / forward-fill / linear).

The reference assumes dense, aligned, equal-length series (group.go:45-51);
real transcript rollups are sparse (silent minutes produce no bucket). We
densify with a relational spine — per-conv or globally-aligned
`sequence(min_bucket, max_bucket, interval)` + explode + left join — then
fill by one of:

  * "zero"   — missing bucket means 0 turns: `coalesce(v, 0)`. Pure
               relational, the semantically-correct fill for counts.
  * "ffill"  — `last(v, ignorenulls)` over an unbounded-preceding window.
               Pure relational (one shuffle on conv_id, sorted by bucket).
  * "linear" — linear interpolation between the nearest non-null
               neighbors, with edge ffill/bfill: two windows + lerp,
               scaling as plain shuffles.

The chunk encoders (operators/compress.py) fuse the same three fills
into their numpy pass; this relational form is what queries read and
what the encoder tests check them against.

The spine join is an equi-join on (conv_id, bucket_ts) against data
aggregated on the same keys, so AQE plans it without skew trouble; spine
size is O(convs x buckets), never O(turns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from go_muse_spark.operators.rollup import TIERS

__all__ = ["bucket_spine", "gap_fill"]


def _interval(tier: str) -> str:
    unit, _, _ = TIERS[tier]
    return f"interval 1 {unit}"


def bucket_spine(
    rollup: DataFrame, tier: str, align: str = "conv"
) -> DataFrame:
    """Dense (conv_id, bucket_ts) spine.

    align="conv":   each conv spans its own [min, max] bucket range.
    align="global": every conv spans the global [min, max] — this is what
    enforces the reference's equal-length invariant for search.
    """
    iv = _interval(tier)
    if align == "global":
        bounds = rollup.agg(
            F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")
        )
        convs = rollup.select("conv_id").distinct()
        # 1-row bounds: broadcast cross join, then one sequence per conv
        spine = convs.join(F.broadcast(bounds)).select(
            "conv_id",
            F.explode(F.sequence("lo", "hi", F.expr(iv))).alias("bucket_ts"),
        )
        return spine
    per_conv = rollup.groupBy("conv_id").agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")
    )
    return per_conv.select(
        "conv_id",
        F.explode(F.sequence("lo", "hi", F.expr(iv))).alias("bucket_ts"),
    )


def gap_fill(
    rollup: DataFrame,
    tier: str,
    value_cols: tuple[str, ...] = ("turn_cnt", "turns_per_sec"),
    mode: str = "zero",
    align: str = "conv",
) -> DataFrame:
    """Densify + fill. Adds boolean `filled` (true where the bucket was
    absent). Output keeps conv_id, bucket_ts, value_cols, filled."""
    spine = bucket_spine(rollup, tier, align=align)
    joined = spine.join(
        rollup.select("conv_id", "bucket_ts", *value_cols),
        ["conv_id", "bucket_ts"],
        "left",
    ).withColumn("filled", F.col(value_cols[0]).isNull())

    if mode == "zero":
        filled = joined.select(
            "conv_id",
            "bucket_ts",
            *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in value_cols],
            "filled",
        )
        return filled

    w_past = (
        Window.partitionBy("conv_id")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if mode == "ffill":
        return joined.select(
            "conv_id",
            "bucket_ts",
            *[
                F.last(F.col(c), ignorenulls=True).over(w_past).alias(c)
                for c in value_cols
            ],
            "filled",
        )

    if mode == "linear":
        # "nearest following" via a REVERSED running frame: frames ending
        # at UNBOUNDED FOLLOWING make Spark rescan current..end per row
        # (O(n^2) per partition — measured 33s vs 2s at sf0.1); a running
        # [unboundedPreceding, current] frame over the DESC ordering is
        # the same value computed in O(n).
        w_fut_rev = (
            Window.partitionBy("conv_id")
            .orderBy(F.col("bucket_ts").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out_cols = ["conv_id", "bucket_ts"]
        df = joined
        pos = F.col("bucket_ts").cast("double")  # seconds since epoch
        for c in value_cols:
            prev_v = F.last(F.col(c), ignorenulls=True).over(w_past)
            next_v = F.last(F.col(c), ignorenulls=True).over(w_fut_rev)
            prev_t = F.last(
                F.when(F.col(c).isNotNull(), pos), ignorenulls=True
            ).over(w_past)
            next_t = F.last(
                F.when(F.col(c).isNotNull(), pos), ignorenulls=True
            ).over(w_fut_rev)
            lerp = prev_v + (next_v - prev_v) * (pos - prev_t) / (next_t - prev_t)
            df = df.withColumn(
                c + "__f",
                F.when(F.col(c).isNotNull(), F.col(c).cast("double"))
                .when(prev_v.isNull(), next_v.cast("double"))  # leading edge: bfill
                .when(next_v.isNull(), prev_v.cast("double"))  # trailing edge: ffill
                .otherwise(lerp),
            )
            out_cols.append(c + "__f")
        return df.select(
            "conv_id",
            "bucket_ts",
            *[F.col(c + "__f").alias(c) for c in value_cols],
            "filled",
        )

    raise ValueError(f"unknown gap-fill mode {mode!r}")
