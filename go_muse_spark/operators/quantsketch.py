"""Log-bucketed quantile sketch ladder (DDSketch-style, integer-exact).

The fixed-width histogram ladder (olap.value_histogram) needs the value
range up front and its ABSOLUTE error is one bin width — useless for
heavy-tailed latencies spanning 1ms..1h. The log-bucketed sketch is the
DDSketch idea (Masson et al., VLDB'19): bucket boundaries grow
geometrically, so the RELATIVE error is bounded (here <= 2^-(mb+1),
~6.25% at mb=3) over an UNBOUNDED range, and bucket counts are linear —
1h sketches SUM-merge to 1d with zero raw rescan, same continuous-
aggregate shape as the HLL / Count-Min / histogram ladders.

Cross-engine exactness (the reason this is not a float log): values are
scaled to integer micro-units u, and the bucket is derived from u's BIT
PATTERN, not from a transcendental —

    e      = floor(log2(u))          # exact: see note below
    shift  = max(e - mb, 0)
    sb     = u >> shift              # in [2^mb, 2^(mb+1)) for e > mb
    bin_lo = sb << shift             # unique bucket key AND lower bound

log2 exactness: operands are kept < 2^32 (u >= 2^32 first shifts right
by 32 and adds 32 to e), where float64 log2 of an integer is more than
an ulp away from every integer except exact powers of two (same
argument as functions/codecs.py:56) — so floor(log2(u)) is the MSB
index in ANY correctly-rounded engine, bit-for-bit. Everything after is
int64 shifts. The DuckDB oracle replays the identical expressions.

Scale shape: one hash aggregate with map-side partials, shuffle
O(groups x occupied buckets) — buckets per group are bounded by
2^mb * 64 regardless of row count or value range. The quantile readout
is a tiny post-agg window over the already-aggregated sketch.

No reference equivalent (go-muse keeps raw vectors); this is engine-
side §2b widening alongside cardinality.py / freqsketch.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from go_muse_spark.operators.cardinality import _bucket

__all__ = ["log_hist_rollup", "log_hist_reagg", "log_hist_quantile"]


def log_hist_rollup(
    events: DataFrame,
    value_col: str,
    bucket_secs: int,
    dims: tuple[str, ...] = (),
    ts_col: str = "ts",
    mantissa_bits: int = 3,
    unit: float = 1e6,
) -> DataFrame:
    """Build the log-bucketed histogram per (bucket, dims...): one row
    per occupied bucket with its integer lower bound, shift (bucket
    width = 2^shift micro-units) and count. Non-positive / NULL / NaN
    values are excluded (log buckets are defined on u >= 1; a
    production deployment would add a dedicated zero/negative bucket,
    which merges the same way).

    Returns (bucket_epoch, dims..., bin_lo, shift, n).
    """
    if not 0 <= mantissa_bits <= 8:
        raise ValueError("mantissa_bits must be in [0, 8]")
    v = F.col(value_col).cast("double")
    u = F.round(v * F.lit(float(unit)), 0).cast("long")
    # exponent/shift are built over the ALREADY-PROJECTED __u column —
    # value_col is gone by the time they're applied
    uc = F.col("__u")
    big = uc >= F.lit(1 << 32)
    e = F.when(
        big,
        F.lit(32) + F.floor(F.log2(F.shiftright(uc, 32))),
    ).otherwise(F.floor(F.log2(uc))).cast("int")
    shift = F.greatest(e - F.lit(int(mantissa_bits)), F.lit(0))
    sb = F.expr("shiftright(__u, __shift)")
    bin_lo = F.expr("shiftleft(__sb, __shift)")
    return (
        events.filter(v.isNotNull() & ~F.isnan(v))
        .select(
            _bucket(bucket_secs, ts_col),
            *dims,
            u.alias("__u"),
        )
        .filter(F.col("__u") >= 1)
        .withColumn("__shift", shift)
        .withColumn("__sb", sb)
        .groupBy(
            "bucket_epoch",
            *dims,
            bin_lo.alias("bin_lo"),
            F.col("__shift").alias("shift"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def log_hist_reagg(
    sketch: DataFrame,
    coarse_secs: int,
    dims: tuple[str, ...] = (),
    bucket_col: str = "bucket_epoch",
) -> DataFrame:
    """Merge stored fine sketches into coarser time buckets — counts
    are linear, so this is a SUM per (coarse bucket, dims, bin): the
    continuous-aggregate re-agg with zero raw rescan, shuffle
    O(groups x occupied buckets)."""
    coarse = (
        F.col(bucket_col) - F.col(bucket_col) % F.lit(int(coarse_secs))
    ).alias(bucket_col)
    return sketch.groupBy(coarse, *dims, "bin_lo", "shift").agg(
        F.sum("n").alias("n")
    )


def log_hist_quantile(
    sketch: DataFrame,
    qs: tuple[float, ...],
    dims: tuple[str, ...] = (),
    bucket_col: str = "bucket_epoch",
) -> DataFrame:
    """Quantiles from the log-bucketed sketch: for each q the target
    rank is ceil(q * total) (the standard lower-quantile definition on
    exact int64 counts); the answer is the MIDPOINT of the unique
    bucket where the cumulative count first reaches the rank, in
    integer micro-units:

        mid_u = bin_lo + (2^shift >> 1)

    so the relative error vs the true sample quantile is bounded by
    half a bucket width: 2^-(mb+1). All arithmetic on exact integers —
    the DuckDB oracle matches bit-for-bit, no float tolerance.

    Returns (bucket, dims..., q, qvalue_u).
    """
    if not qs:
        raise ValueError("need at least one quantile")
    if any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1]: {qs}")
    keys = [bucket_col, *dims]
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("bin_lo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    base = sketch.select(
        *keys,
        "bin_lo",
        "shift",
        F.col("n").alias("__n"),
        F.sum("n").over(w_cum).alias("__cum"),
        F.sum("n").over(w_all).alias("__tot"),
    )
    e = base.select(
        "*",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    )
    rank = F.ceil(F.col("q") * F.col("__tot").cast("double"))
    prev = F.col("__cum") - F.col("__n")
    # bucket width 2^shift as an int64 shift chain (PySpark's
    # F.shiftleft wants a literal bit count; the SQL form takes columns)
    mid_u = F.col("bin_lo") + F.expr(
        "shiftright(shiftleft(CAST(1 AS BIGINT), shift), 1)"
    )
    return e.filter((F.col("__cum") >= rank) & (prev < rank)).select(
        *keys, "q", mid_u.alias("qvalue_u")
    )
