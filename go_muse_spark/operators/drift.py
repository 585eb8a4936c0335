"""Distribution-drift detection between time windows.

A 100-TB training-data pipeline needs to know when the DATA changed,
not just when a single aggregate moved: an upstream format change or a
new traffic source shifts the whole value distribution while the mean
barely twitches. The standard monitors are the Population Stability
Index (PSI, the banking/ML-ops de-facto drift score), Jensen-Shannon
divergence (symmetric, bounded, never infinite), and Shannon entropy of
a categorical mix. The reference engine has no distribution operators
at all (its group.go only indexes label values); these compose with the
tier tables the same way its rollups do.

Numerics contract (shared with the rest of the engine): every bin/term
count is an exact integer; each bin's drift contribution is ONE double
expression over those integers, rounded to integer micro-units BEFORE
the final SUM, so the total is order-independent and an oracle writing
the identical expression tree matches bit-for-bit.

Scale shape: ONE shuffle over the raw data — the (bucket, bin) hash
aggregate. Everything after runs on buckets x bins rows: the baseline
re-aggregates that tiny table (no second raw scan), joins back via
broadcast, and the per-bucket normalizer is a bounded window (<= n_bins
rows per partition). At 1000 executors the raw scan dominates; drift
itself is free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dist_drift",
    "dist_entropy",
    "heavy_change",
    "ks_drift",
]


def dist_drift(
    df: DataFrame,
    value_col: str,
    bucket_col: str,
    baseline_end: int,
    width: int,
    n_bins: int,
    metric: str = "psi",
    lo: int = 0,
) -> DataFrame:
    """Per-bucket drift of `value_col`'s distribution vs the baseline
    window (`bucket_col` < baseline_end, epoch-seconds long). Values
    are binned fixed-width (bin = clamp(floor((v - lo)/width), 0,
    n_bins-1) — under/overflow land in the edge bins, nothing is
    dropped), and each scored bucket's smoothed histogram is compared
    bin-by-bin against the pooled baseline histogram.

    Laplace smoothing (+1 per bin) keeps empty bins finite:
    p_i = (c_i + 1)/(n + B), q_i = (b_i + 1)/(n_base + B).

    metric="psi":  sum_i (p_i - q_i) * ln(p_i / q_i)   (>= 0)
    metric="jsd":  sum_i (p_i*ln(p_i/m_i) + q_i*ln(q_i/m_i)) / 2
                   with m_i = (p_i + q_i)/2            (in [0, ln 2])

    Each bin term is rounded to micro-units (long) before the sum, so
    the score is exact-summation-order independent. Buckets inside the
    baseline window are not scored. Returns (bucket_col, n, drift_u).
    """
    if metric not in ("psi", "jsd"):
        raise ValueError(f"metric must be 'psi' or 'jsd', got {metric!r}")
    if n_bins < 2 or width <= 0:
        raise ValueError("need n_bins >= 2 and width > 0")

    v = F.col(value_col).cast("long")
    bin_expr = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width))),
    ).cast("int")

    # ONE shuffle over the raw rows; all later stages run on the
    # (bucket, bin) aggregate (<= buckets * n_bins rows). Materialize
    # it once (lazy localCheckpoint — the corr_pairs / theil_sen
    # convention): four consumers read it (baseline hist, baseline
    # total, scored-bucket grid, the left join), and without the
    # checkpoint each would re-run the full raw scan+aggregate — the
    # plan audit showed 4 parquet scans where the 100-TB shape
    # affords exactly one.
    counts = (
        df.select(F.col(bucket_col).cast("long").alias("__b"),
                  bin_expr.alias("__bin"))
        .groupBy("__b", "__bin")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )

    base = (
        counts.where(F.col("__b") < baseline_end)
        .groupBy("__bin")
        .agg(F.sum("__c").alias("__bc"))
    )
    base_tot = base.agg(F.sum("__bc").alias("__bn"))

    # Dense (bucket, bin) grid so empty bins still contribute their
    # smoothed term — the drift of a bin that VANISHED is the signal.
    grid = (
        counts.where(F.col("__b") >= baseline_end)
        .select("__b")
        .distinct()
        .select(
            "__b",
            F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("__bin"),
        )
    )
    full = (
        grid.join(counts, ["__b", "__bin"], "left")
        .na.fill({"__c": 0})
        .join(F.broadcast(base), ["__bin"], "left")
        .na.fill({"__bc": 0})
        .crossJoin(F.broadcast(base_tot))
    )

    wb = Window.partitionBy("__b")
    full = full.withColumn("__n", F.sum("__c").over(wb))

    d = lambda c: c.cast("double")  # noqa: E731 - local shorthand
    p = (d(F.col("__c")) + 1.0) / (d(F.col("__n")) + float(n_bins))
    q = (d(F.col("__bc")) + 1.0) / (d(F.col("__bn")) + float(n_bins))
    if metric == "psi":
        term = (p - q) * F.log(p / q)
    else:
        m = (p + q) / 2.0
        term = (p * F.log(p / m) + q * F.log(q / m)) / 2.0

    return (
        full.select(
            F.col("__b").alias(bucket_col),
            "__n",
            F.round(term * 1e6, 0).cast("long").alias("__t"),
        )
        .groupBy(bucket_col)
        .agg(
            F.max("__n").alias("n"),
            F.sum("__t").alias("drift_u"),
        )
    )


def dist_entropy(
    df: DataFrame,
    cat_col: str,
    dims: tuple[str, ...],
) -> DataFrame:
    """Shannon entropy (nats) of the `cat_col` mix per dims... —
    "how diverse is today's traffic?" Collapsing entropy flags a
    stuck producer long before any single count alarms. H = -sum_k
    p_k ln p_k over the categories PRESENT in the group (absent
    categories contribute lim p->0 p ln p = 0, so no smoothing and no
    dense grid is needed).

    Each category's term is rounded to micro-units before the sum
    (order-independent, oracle-exact). Returns (dims..., n, k,
    entropy_u) with k = number of distinct categories observed.

    Scale: one hash aggregate on (dims, cat); the normalizing window
    partitions on dims over <= |categories| rows. One shuffle total.
    """
    counts = df.groupBy(*dims, cat_col).agg(F.count(F.lit(1)).alias("__c"))
    wd = Window.partitionBy(*dims)
    p = F.col("__c").cast("double") / F.col("__n").cast("double")
    return (
        counts.withColumn("__n", F.sum("__c").over(wd))
        .select(
            *dims,
            "__n",
            F.round(p * F.log(p) * 1e6, 0).cast("long").alias("__t"),
        )
        .groupBy(*dims)
        .agg(
            F.max("__n").alias("n"),
            F.count(F.lit(1)).alias("k"),
            (-F.sum("__t")).alias("entropy_u"),
        )
    )


def heavy_change(
    counts: DataFrame,
    key_cols: tuple[str, ...],
    bucket_col: str,
    count_col: str,
    step: int,
    top_k: int,
) -> DataFrame:
    """Heavy-CHANGE detection (Cormode & Muthukrishnan's "what's new"
    question): per bucket, the top_k keys whose count moved the most
    vs the previous bucket (bucket - step), counting appearances
    (prev=0) and disappearances (cur=0) both. The absolute-delta
    complement of heavy-hitters: a key can be huge and boring, or
    small and exploding — this finds the second kind.

    `counts` is an already-aggregated (key..., bucket, count) table
    (typically a tier). Missing sides are 0 via a full outer self-join
    on (key, bucket vs bucket+step); phantom buckets the data never
    observed (the slot after each key's last sample) are dropped by a
    broadcast semi-join against the observed-bucket set, so every
    emitted bucket is real. Ties break on the key (deterministic).

    Returns (bucket_col, key..., cur, prev, delta, rnk), rnk 1..top_k
    by (|delta| DESC, key...).

    Scale: self-join and rank both run on the aggregated table, not
    raw rows; the rank window partitions per bucket over only the
    keys active around it. Shuffles: join (key,bucket) + rank
    (bucket); the observed-bucket set broadcasts.
    """
    keys = list(key_cols)
    # three branches (cur, prev, observed buckets) read `counts`;
    # materialize once so a counts built from raw lineage is not
    # re-aggregated per branch (corr_pairs convention)
    counts = counts.localCheckpoint(eager=False)
    b = F.col(bucket_col).cast("long")
    cur = counts.select(
        *keys, b.alias("__b"), F.col(count_col).cast("long").alias("__cur")
    )
    prev = counts.select(
        *keys,
        (b + F.lit(step)).alias("__b"),
        F.col(count_col).cast("long").alias("__prev"),
    )
    observed = counts.select(b.alias("__b")).distinct()
    joined = (
        cur.join(prev, [*keys, "__b"], "full_outer")
        .na.fill({"__cur": 0, "__prev": 0})
        .join(F.broadcast(observed), ["__b"], "left_semi")
        .withColumn("__delta", F.col("__cur") - F.col("__prev"))
    )
    wr = Window.partitionBy("__b").orderBy(
        F.abs(F.col("__delta")).desc(), *[F.col(k).asc() for k in keys]
    )
    return (
        joined.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= top_k)
        .select(
            F.col("__b").alias(bucket_col),
            *keys,
            F.col("__cur").alias("cur"),
            F.col("__prev").alias("prev"),
            F.col("__delta").alias("delta"),
            "rnk",
        )
    )


def ks_drift(
    df: DataFrame,
    value_col: str,
    bucket_col: str,
    baseline_end: int,
    quant: int = 1000,
    min_points: int = 10,
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov distance per scored bucket
    vs the pooled baseline — the binning-free complement of
    dist_drift: PSI answers "how far did the histogram move under MY
    bins"; KS answers "how far apart are the two CDFs, full stop",
    with no bin-edge tuning to get wrong.

    Exactness: values quantize to 1/quant units (milli by default, the
    module convention); the empirical CDFs are step functions whose
    supremum gap is attained at a data value, so evaluating at every
    DISTINCT quantized value of either sample is exhaustive. The gap
    is carried cross-multiplied as the exact integer

        d_num = max over v of | i(v) * n  -  j(v) * m |,

    i/j the running <=v counts in baseline/bucket, m/n their sizes —
    ks = d_num / (m * n) is the only division, and the scaled
    statistic sqrt(m*n/(m+n)) * ks (the quantity compared against
    c(alpha) in the standard test) adds one sqrt. Identical
    expression text both engines — no epsilon.

    Scale shape: ONE raw shuffle (the (bucket, value) count
    aggregate, materialized once for its two consumers); the
    evaluation grid is scored_buckets x distinct baseline values plus
    the buckets' own values — bounded by the quantized value domain,
    never by row count. The baseline joins back via broadcast; both
    running sums share one window sort per bucket.

    The same grid pass also yields the Wasserstein-1 (earth-mover)
    distance for free: on the sorted distinct values v_1 < ... < v_K,

        W1 = sum_k |F_base(v_k) - F_bucket(v_k)| * (v_{k+1} - v_k),

    carried as the exact integer w1_num = sum |i*n - j*m| * dv and
    divided ONCE by m*n*quant to return to value units. KS is the sup
    of the CDF gap (tail-blind, scale-free); W1 is its integral
    (magnitude-aware — a small shift of the whole mass scores small
    even when KS saturates). Both ride the same two running sums.

    Returns (bucket_col, n, m, d_num, ks, ks_stat, w1_num, w1) for
    buckets at or after baseline_end with n >= min_points (m is the
    baseline size).
    """
    if quant < 1:
        raise ValueError("quant must be >= 1")
    b = F.col(bucket_col).cast("long")
    vq = F.round(F.col(value_col) * F.lit(int(quant)), 0).cast("long")
    counts = (
        df.select(b.alias("__b"), vq.alias("__v"))
        .groupBy("__b", "__v")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    base = (
        counts.where(F.col("__b") < baseline_end)
        .groupBy("__v")
        .agg(F.sum("__c").alias("__cb"))
    )
    base_tot = base.agg(F.sum("__cb").alias("__m"))
    scored = counts.where(F.col("__b") >= baseline_end)
    grid = (
        scored.select("__b")
        .distinct()
        .crossJoin(F.broadcast(base.select("__v")))
        .unionByName(scored.select("__b", "__v"))
        .distinct()
    )
    full = (
        grid.join(scored, ["__b", "__v"], "left")
        .na.fill({"__c": 0})
        .join(F.broadcast(base), ["__v"], "left")
        .na.fill({"__cb": 0})
        .crossJoin(F.broadcast(base_tot))
    )
    w = Window.partitionBy("__b").orderBy("__v")
    wp = Window.partitionBy("__b")
    run = full.select(
        "__b",
        "__m",
        F.sum("__c").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__j"),
        F.sum("__cb").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__i"),
        F.sum("__c").over(wp).alias("__n"),
        (F.lead("__v").over(w) - F.col("__v")).alias("__dv"),
    )
    # cross-multiplied gap in decimal(38,0): i*n reaches 1e24 when both
    # samples are ~1e12 rows — far past int64, inside the module's
    # exact-decimal convention (stats._pearson_from_sums)
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    gap = F.abs(
        dd(F.col("__i")) * dd(F.col("__n"))
        - dd(F.col("__j")) * dd(F.col("__m"))
    )
    agg = (
        run.groupBy("__b")
        .agg(
            F.max("__n").alias("n"),
            F.max("__m").alias("m"),
            F.max(gap).alias("d_num"),
            F.sum(
                F.when(
                    F.col("__dv").isNotNull(), gap * dd(F.col("__dv"))
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("w1_num"),
        )
        .where(F.col("n") >= F.lit(int(min_points)))
    )
    ks = F.col("d_num").cast("double") / (
        F.col("m").cast("double") * F.col("n").cast("double")
    )
    return agg.select(
        F.col("__b").alias(bucket_col),
        "n",
        "m",
        "d_num",
        ks.alias("ks"),
        (
            F.sqrt(
                F.col("m").cast("double")
                * F.col("n").cast("double")
                / (F.col("m") + F.col("n")).cast("double")
            )
            * ks
        ).alias("ks_stat"),
        "w1_num",
        (
            F.col("w1_num").cast("double")
            / (
                F.col("m").cast("double")
                * F.col("n").cast("double")
                * F.lit(float(quant))
            )
        ).alias("w1"),
    )
