"""Statistical monitors over the retention tiers.

rolling_zscore flags points that deviate from their own trailing
history — the standard threshold-alert / anomaly-detection primitive a
monitoring stack runs over every series (Prometheus recording rule,
Datadog anomaly monitor). The trailing window EXCLUDES the current
bucket so the point under test never contaminates its own baseline.

series_corr computes the per-series Pearson correlation between two
metric columns over aligned buckets — "does latency move with traffic
for this user?" — via the textbook sums decomposition.

Numerical contract (what makes these DuckDB-oracle-checkable): both
operators aggregate raw sums (n, Σx, Σx², Σxy, …) and apply ONE closed
formula at the end. For integral inputs the sums are exact in double at
any aggregation order, so mean/variance/z/corr are bit-identical in any
IEEE-754 engine evaluating the same expression; for double inputs the
sums agree to an ulp and the contract queries round at 1e-6. The
pooled-sums shape (never per-engine stddev/corr built-ins, whose
internal algorithms differ — Welford vs sums — across engines) is the
same trick the xcorr oracle uses.

Scale shape: rolling_zscore is one exchange on the series key + one
window sort with an O(1)-update RANGE frame (sum/count are subtractable
aggregates — Spark slides them incrementally). series_corr is a single
all-algebraic hash aggregate: partial map-side sums, shuffle
O(series), not O(points).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "rolling_zscore",
    "series_corr",
    "corr_pairs",
    "corr_pairs_lsh",
    "period_delta",
    "cusum_changepoint",
    "autocorr_lags",
    "seasonal_profile",
    "mad_outliers",
    "hampel",
    "forecast_backtest",
    "shape_exprs",
    "rolling_shape",
    "burstiness",
    "inter_arrival_stats",
    "seasonal_anomaly",
    "linear_fit",
    "change_stats",
    "classical_decompose",
    "seasonal_forecast",
    "holt_winters",
    "rolling_corr",
    "rank_corr_bucket",
    "best_changepoint",
    "theil_sen",
    "ccf_lags",
    "mann_kendall",
    "seasonal_mann_kendall",
    "kendall_tau",
]


def rolling_zscore(
    rolled: DataFrame,
    value_col: str,
    window_secs: int,
    bucket_secs: int,
    min_points: int = 8,
    threshold: float = 3.0,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Trailing z-score per point: how many sample standard deviations
    the current bucket's value sits from the mean of the PRECEDING
    `window_secs` of history (current bucket excluded; gaps are absent,
    not zero). Rows with fewer than `min_points` history buckets or
    zero history variance emit NULL z / false flag rather than a
    division artifact.

    Returns (by..., bucket_col, value, n_hist, z, is_anom).
    """
    w = (
        Window.partitionBy(*by)
        .orderBy(F.unix_timestamp(bucket_col))
        .rangeBetween(-window_secs, -bucket_secs)
    )
    v = F.col(value_col).cast("double")
    n = F.count(F.lit(1)).over(w)
    s = F.sum(v).over(w)
    ssq = F.sum(v * v).over(w)
    mean = s / n
    # sample variance from pooled sums; guard the n=1 and negative-
    # rounding-residue cases before sqrt
    var = (ssq - s * s / n) / (n - 1)
    sd = F.sqrt(F.when(var > 0, var))
    z = (v - mean) / sd
    return (
        rolled.select(
            *by,
            bucket_col,
            v.alias("value"),
            n.alias("n_hist"),
            z.alias("z"),
        )
        .withColumn("z", F.when(F.col("n_hist") >= min_points, F.col("z")))
        .withColumn(
            "is_anom", F.coalesce(F.abs(F.col("z")) >= threshold, F.lit(False))
        )
    )


def period_delta(
    rolled: DataFrame,
    value_col: str,
    period_secs: int,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Period-over-period comparison (PromQL's `offset`, the dashboard
    "vs same hour yesterday"): for each tier bucket, the value exactly
    `period_secs` earlier in the same series, via a degenerate RANGE
    frame [-period, -period] — the frame matches at most the single
    bucket at that exact offset (tier buckets are unique per series),
    so max() is just "the" value and NULL means no bucket existed there
    (a gap stays a gap; no implicit fill).

    One exchange on the series key + one window sort; the frame is O(1)
    per row (both bounds move in lockstep). Returns (by..., bucket_col,
    value, prev_value, delta) with delta NULL when there is no
    comparison bucket.
    """
    w = (
        Window.partitionBy(*by)
        .orderBy(F.unix_timestamp(bucket_col))
        .rangeBetween(-int(period_secs), -int(period_secs))
    )
    v = F.col(value_col)
    prev = F.max(v).over(w)
    return rolled.select(
        *by,
        bucket_col,
        v.alias("value"),
        prev.alias("prev_value"),
        (v - prev).alias("delta"),
    )


def series_corr(
    rolled: DataFrame,
    x_col: str,
    y_col: str,
    by: tuple[str, ...] = ("conv_id",),
    min_points: int = 3,
) -> DataFrame:
    """Per-series Pearson correlation of two metrics over their aligned
    buckets, from pooled sums:

        corr = (n*Σxy - Σx*Σy) / sqrt(n*Σxx - Σx²) / sqrt(n*Σyy - Σy²)

    Series with < min_points buckets or zero variance in either metric
    emit NULL (undefined, not 0). Returns (by..., n_points, corr).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    agg = rolled.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
    )
    n = F.col("n_points")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    corr = F.when(
        (n >= min_points) & (vx > 0) & (vy > 0),
        cov / F.sqrt(vx) / F.sqrt(vy),
    )
    return agg.select(*by, "n_points", corr.alias("corr"))


def corr_pairs(
    rolled: DataFrame,
    value_col: str,
    key_col: str = "conv_id",
    bucket_col: str = "bucket_ts",
    min_overlap: int = 10,
    min_abs_corr: float = 0.5,
    top_series: int | None = None,
) -> DataFrame:
    """All-pairs correlated-series search (the StatStream problem, zero
    lag): every unordered series pair whose Pearson correlation over
    their OVERLAPPING buckets reaches `min_abs_corr` — "which users'
    traffic moves together?". The zero-lag relational complement of the
    muse xcorr search (muse sweeps lags via FFT; this sweeps the pair
    space via a join, cf. go-muse README's correlation-search framing).

    Semantics:
      * overlap-only: buckets where either series has no row contribute
        nothing (a gap is absent, not zero) — pairs with fewer than
        `min_overlap` shared buckets are dropped, as are pairs where
        either side has zero variance on the overlap (corr undefined).
      * pooled integer-exact sums + ONE closed formula, same numerical
        contract as series_corr above.
      * pairs are emitted once with key_a < key_b.

    Scale shape: the pair space is quadratic, so the candidate set must
    be bounded BEFORE the join — `top_series` keeps only the N most
    active keys (ties broken by key) via a broadcast semi-join, making
    the self-join's per-bucket fanout ≤ N² regardless of corpus size.
    The join keys on the bucket (many buckets → even spread; a globally
    hot bucket is AQE-skew-splittable), and the pair aggregate is fully
    algebraic: map-side partial sums collapse the join output to
    O(pairs) rows per partition before the ONE exchange on (key_a,
    key_b). For unbounded all-series search at 100 TB, use the sketch
    path instead: corr(x, y) == cosine(z(x), z(y)), so z-normalize the
    aligned series vectors and feed operators/similarity.py's
    sign-random-projection LSH (embedding_near_dups) to get candidate
    pairs in O(N) buckets, then verify exactly with this operator on
    the candidates.
    """
    cols = [F.col(key_col).alias("k"), F.col(bucket_col).alias("b"),
            F.col(value_col).cast("double").alias("v")]
    r = rolled.select(*cols)
    if top_series is not None:
        top = (
            r.groupBy("k")
            .agg(F.count(F.lit(1)).alias("__npts"))
            .orderBy(F.desc("__npts"), "k")
            .limit(int(top_series))
            .select("k")
        )
        r = r.join(F.broadcast(top), "k")
    # materialize the (restricted) series table once: a self-join on the
    # lazy lineage re-executes the whole upstream scan+rollup for BOTH
    # branches. In a real deployment the rollup tier is already a
    # persisted store table (sources/store.py) so the double compute
    # never exists; localCheckpoint is the in-session equivalent (same
    # convention as operators/dedup.py _materialize).
    r = r.localCheckpoint(eager=True)
    a = r.select(F.col("k").alias("key_a"), "b", F.col("v").alias("x"))
    bdf = r.select(F.col("k").alias("key_b"), "b", F.col("v").alias("y"))
    joined = a.join(bdf, "b").where(F.col("key_a") < F.col("key_b"))
    x, y = F.col("x"), F.col("y")
    agg = joined.groupBy("key_a", "key_b").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
    )
    n = F.col("n_overlap")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    corr = cov / F.sqrt(vx) / F.sqrt(vy)
    return (
        agg.where((n >= int(min_overlap)) & (vx > 0) & (vy > 0))
        .select("key_a", "key_b", "n_overlap", corr.alias("corr"))
        .where(F.abs(F.col("corr")) >= float(min_abs_corr))
    )


def corr_pairs_lsh(
    rolled: DataFrame,
    value_col: str,
    key_col: str = "conv_id",
    bucket_col: str = "bucket_ts",
    bucket_secs: int = 86400,
    planes: int = 8,
    band_bits: int = 4,
    min_abs_corr: float = 0.5,
    anti: bool = True,
) -> DataFrame:
    """Correlation search over ALL series without the quadratic join —
    the corr_pairs scale path (StatStream/BRAID's sketch idea, done as
    sign-random-projection LSH).

    Semantics differ from corr_pairs deliberately: series live on the
    GLOBAL bucket spine with absent buckets = 0 (a user with no turns
    that day had zero turns), so Pearson corr(x, y) == cosine(z(x),
    z(y)) over a COMMON index and the hyperplane trick applies. Each
    series gets a `planes`-bit signature (sign of z(x)·h_p per plane);
    pairs sharing any `band_bits`-wide signature band are candidates
    (simhash-style pigeonhole: hamming distance < planes/band_bits
    guarantees a shared band) and are then verified EXACTLY, so every
    emitted pair carries its true full-spine corr >= min_abs_corr.
    Output is candidate-recall-bounded like ann_lsh/simhash — a pair at
    plane-collision prob p = 1 - theta/pi surfaces with prob
    ~ 1-(1-p^band_bits)^(planes/band_bits); recall rises toward 1 as
    corr -> +1 (or -1), the near-duplicate regime LSH exists for.
    Negating a series complements every signature bit, so corr ~ -1
    pairs land in COMPLEMENT bands rather than shared ones; `anti=True`
    (default) joins on the CANONICAL band value min(bv, width-1-bv),
    which equates a band with its bitwise complement — still one
    output-sensitive equi-join — so strong anti-correlation is searched
    at the same recall as strong positive.

    Everything the signature depends on is INTEGER arithmetic (counts
    are integral; the plane signs are lcg_sign; the z-dot sign test is
    cleared of its positive denominators: sign(z(x)·h_p) ==
    sign(T*Σv_t*h_pt - Σv*H_p) with H_p = Σ_spine h_pt), so the
    signatures — and therefore the candidate set and the exact verify —
    replay bit-identically in DuckDB. Values are cast to long: the
    integral-counts contract is what buys cross-engine exactness.

    Scale shape: ONE map-side-combined groupBy(key) computes the per-key
    stats and all `planes` hyperplane dots as sum columns (planes <= 62,
    so column-wise beats an explode x planes row blowup plus a second
    (key, plane) exchange); signatures are one row per series; candidate
    generation is the banded equi-join (output-sensitive, never
    all-pairs); the verify joins sparse rows only for candidate pairs.
    No stage touches the O(N^2) pair space.
    """
    if planes % band_bits != 0 or planes > 62:
        raise ValueError(f"planes={planes} not divisible by band_bits="
                         f"{band_bits} (or > 62)")
    from ..functions.text import LCG_A, LCG_C, LCG_M, LCG_STRIDE, lcg_sign

    r0 = rolled.select(
        F.col(key_col).alias("k"),
        F.unix_timestamp(bucket_col).alias("be"),
        F.col(value_col).cast("long").alias("v"),
    )
    lo, hi = r0.agg(F.min("be"), F.max("be")).first()
    if lo is None:
        return (
            r0.select("k")
            .select(F.col("k").alias("key_a"), F.col("k").alias("key_b"),
                    F.lit(0.0).alias("corr"))
            .limit(0)
        )
    n_spine = (int(hi) - int(lo)) // int(bucket_secs) + 1
    # spine-position rows; reused by the plane agg, the per-key stats,
    # and both sides of the verify join -> materialize once (same
    # rationale as corr_pairs above)
    r = r0.select(
        "k",
        ((F.col("be") - F.lit(int(lo))) / F.lit(int(bucket_secs)))
        .cast("long").alias("t"),
        "v",
    ).localCheckpoint(eager=True)

    # H_p = sum of plane signs over the whole spine: tiny (planes rows),
    # integer-exact, computed vectorized on the driver
    seeds = (
        np.arange(planes, dtype=np.int64)[:, None] * LCG_STRIDE
        + np.arange(n_spine, dtype=np.int64)[None, :]
    ) % LCG_M
    signs = np.where((LCG_A * seeds + LCG_C) % LCG_M * 2 >= LCG_M, 1, -1)
    hsum = signs.sum(axis=1)

    # ONE groupBy("k") computes the per-key stats AND every plane dot:
    # planes <= 62, so the dots are `planes` sum COLUMNS of the same
    # map-side-combined aggregate instead of an explode x planes row
    # blowup feeding a second (k, p) exchange plus an H_p join — the
    # H_p constants fold in as literals. Fewer exchanges at every scale,
    # and the verify reuses sx/sxx from the same per-key table.
    T = F.lit(int(n_spine)).cast("long")
    dots = [
        F.sum(F.col("v") * F.expr(lcg_sign("spark", str(p), "t")))
        .alias(f"dp{p}")
        for p in range(planes)
    ]
    perkey = r.groupBy("k").agg(
        F.sum("v").alias("sx"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
        *dots,
    )
    bits = [
        F.when(
            T * F.col(f"dp{p}") - F.col("sx") * F.lit(int(hsum[p])) >= 0,
            F.lit(1 << p).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for p in range(planes)
    ]
    sg = bits[0]
    for b in bits[1:]:
        sg = sg + b
    sig = (
        perkey.select("k", "sx", "sxx", sg.alias("sg"))
        .localCheckpoint(eager=True)
    )
    stats = sig
    n_bands = planes // band_bits
    width = 1 << band_bits
    # integer shifts only (a float pow/floor would go inexact past 2^53
    # for wide signatures); n_bands is tiny so a literal-shift union is
    # both exact and planner-friendly
    parts = [
        sig.select(
            "k",
            F.lit(i).alias("bi"),
            (F.shiftright(F.col("sg"), i * band_bits) % width).alias("bv"),
        )
        for i in range(n_bands)
    ]
    bands = parts[0]
    for part in parts[1:]:
        bands = bands.unionByName(part)
    if anti:
        # anti arm folded into ONE equi-join: band i of a negated series
        # is the bitwise complement (width-1 - bv), and
        #   bv_a == bv_b  OR  bv_a == (width-1) - bv_b
        # is exactly  min(bv_a, width-1-bv_a) == min(bv_b, width-1-bv_b)
        # (width-1 is odd, so bv == width-1-bv never holds and the
        # canonical value is unambiguous). Joining on the canonical band
        # value searches positive AND anti correlation in a single
        # output-sensitive join instead of a two-arm union.
        bands = bands.withColumn(
            "bv", F.least(F.col("bv"), F.lit(width - 1) - F.col("bv"))
        )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["bi", "bv"])
        .where(F.col("a.k") < F.col("b.k"))
        .select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .distinct()
    )
    # exact full-spine verify on the candidates only; left joins keep
    # zero-overlap pairs (their Sxy is 0, corr can be strongly negative)
    ra = r.select(F.col("k").alias("key_a"), "t", F.col("v").alias("va"))
    rb = r.select(F.col("k").alias("__kb"),
                  F.col("t").alias("tb"), F.col("v").alias("vb"))
    sxy = (
        cand.join(ra, "key_a")
        .join(rb, (F.col("key_b") == F.col("__kb"))
              & (F.col("t") == F.col("tb")), "left")
        .groupBy("key_a", "key_b")
        .agg(F.coalesce(F.sum(F.col("va") * F.col("vb")), F.lit(0))
             .cast("long").alias("sxy"))
    )
    sa = stats.select(F.col("k").alias("key_a"), F.col("sx").alias("sxa"),
                      F.col("sxx").alias("sxxa"))
    sb = stats.select(F.col("k").alias("key_b"), F.col("sx").alias("sxb"),
                      F.col("sxx").alias("sxxb"))
    va = T * F.col("sxxa") - F.col("sxa") * F.col("sxa")
    vb = T * F.col("sxxb") - F.col("sxb") * F.col("sxb")
    corr = (T * F.col("sxy") - F.col("sxa") * F.col("sxb")) \
        / F.sqrt(va) / F.sqrt(vb)
    return (
        sxy.join(sa, "key_a")
        .join(sb, "key_b")
        .where((va > 0) & (vb > 0))
        .select("key_a", "key_b", corr.alias("corr"))
        .where(F.abs(F.col("corr")) >= float(min_abs_corr))
    )


def cusum_changepoint(
    rolled: DataFrame,
    value_col: str,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    min_points: int = 4,
) -> DataFrame:
    """Offline CUSUM change-point detection per series: the bucket that
    maximizes the cumulative deviation from the series mean — the
    classic single-change-point location statistic (max_k |Σ_{i<=k}
    (x_i - x̄)|, the argmax of the CUSUM curve).

    Numerical contract: the statistic is computed SCALED BY n so it
    stays in exact integer arithmetic for integral inputs —

        T_k = n * prefix_k - k * total        (== n² * CUSUM_k / n)

    where prefix_k is the inclusive prefix sum and k the 1-based rank.
    No division, no doubles, so the argmax (ties broken by earliest
    bucket) is bit-identical in any engine. Overflow headroom: |T_k| <=
    n * |total|; with 10^6 buckets of 10^9-scaled values that is ~1e15,
    inside int64.

    Scale shape: ONE exchange on the series key; the ordered prefix
    window, the series totals (window over the same partition, no
    order), and the final argmax rank all reuse that partitioning, so
    Catalyst plans a single shuffle for the whole operator. O(1) state
    per row; series with < min_points buckets are dropped (a change
    point over 2-3 points is noise).

    Returns (by..., n_points, cp_bucket, tstat) with tstat = max |T_k|.
    """
    v = F.col(value_col).cast("long")
    w_ord = (
        Window.partitionBy(*by)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*by)
    prefix = F.sum(v).over(w_ord)
    k = F.count(F.lit(1)).over(w_ord)
    total = F.sum(v).over(w_all)
    n = F.count(F.lit(1)).over(w_all)
    t = n * prefix - k * total
    scored = rolled.select(
        *by,
        F.col(bucket_col).alias("cp_bucket"),
        n.alias("n_points"),
        F.abs(t).alias("tstat"),
    ).filter(F.col("n_points") >= int(min_points))
    w_rank = Window.partitionBy(*by).orderBy(
        F.col("tstat").desc(), F.col("cp_bucket").asc()
    )
    return (
        scored.withColumn("__r", F.row_number().over(w_rank))
        .filter(F.col("__r") == 1)
        .select(*by, "n_points", "cp_bucket", "tstat")
    )


def autocorr_lags(
    rolled: DataFrame,
    value_col: str,
    lag_secs: tuple[int, ...],
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    min_pairs: int = 3,
) -> DataFrame:
    """Sample autocorrelation of a series at fixed bucket lags (the ACF
    points a seasonality detector reads: lag 1h for persistence, lag
    24h for daily seasonality). For each lag L the pairs are (x_t,
    x_{t-L}) where BOTH buckets exist — gaps drop the pair rather than
    implying zero (same no-implicit-fill stance as period_delta).

    The lagged partner comes from a degenerate RANGE frame [-L, -L]
    per lag — no self-join, no second scan of the input; all lags share
    one exchange + one window sort on the series key. Pair sums (n, Σx,
    Σy, Σxx, Σyy, Σxy) are exact int64 for integral inputs, and the
    Pearson formula is applied once at the end (see module docstring
    contract). Zero-variance or < min_pairs series emit NULL acf.

    Returns (by..., lag_s, n_pairs, acf).
    """
    if not lag_secs:
        raise ValueError("need at least one lag")
    v = F.col(value_col).cast("long")
    sec = F.unix_timestamp(F.col(bucket_col).cast("timestamp"))
    lagged = rolled.select(
        *by,
        v.alias("__x"),
        *[
            F.max(v)
            .over(
                Window.partitionBy(*by)
                .orderBy(sec)
                .rangeBetween(-int(L), -int(L))
            )
            .alias(f"__y_{L}")
            for L in lag_secs
        ],
    )
    # unpivot the per-lag partner columns into (lag_s, y) rows, keeping
    # only realized pairs
    pairs = lagged.select(
        *by,
        "__x",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(L)).alias("lag_s"),
                        F.col(f"__y_{L}").alias("__y"),
                    )
                    for L in lag_secs
                ]
            )
        ).alias("__p"),
    ).select(*by, "__x", "__p.lag_s", "__p.__y")
    x, y = F.col("__x"), F.col("__y")
    agg = (
        pairs.filter(y.isNotNull())
        .groupBy(*by, "lag_s")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(x).alias("__sx"),
            F.sum(y).alias("__sy"),
            F.sum(x * x).alias("__sxx"),
            F.sum(y * y).alias("__syy"),
            F.sum(x * y).alias("__sxy"),
        )
    )
    n = F.col("n_pairs")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    acf = F.when(
        (n >= int(min_pairs)) & (vx > 0) & (vy > 0),
        cov.cast("double")
        / F.sqrt(vx.cast("double"))
        / F.sqrt(vy.cast("double")),
    )
    return agg.select(*by, "lag_s", "n_pairs", acf.alias("acf"))


def seasonal_profile(
    events: DataFrame,
    value_col: str,
    by: tuple[str, ...] = (),
    ts_col: str = "ts",
) -> DataFrame:
    """Time-of-week seasonal profile: per (by..., day-of-week,
    hour-of-day), the observation count and mean value — the baseline
    shape a seasonal anomaly detector subtracts ("is 3am Sunday
    normally this quiet?").

    Engine-neutral calendar math: hour/dow come from INTEGER epoch
    arithmetic (hod = epoch div 3600 mod 24; dow = (epoch div 86400
    + 3) mod 7, 0 = Monday — 1970-01-01 was a Thursday), never from
    per-engine dayofweek() builtins whose numbering conventions differ.
    Values are quantized to 1e-3 so the sums are exact int64 and the
    mean is ONE double division of identical operands.

    Scale shape: a single hash aggregate with map-side partials onto at
    most |by| x 168 groups — the profile is O(1) per key regardless of
    input size. Returns (by..., dow, hod, n, vsum_mu, mean_mu).
    """
    # integer `div` on epoch MICROSECONDS end to end: unix_timestamp()
    # truncation vs an oracle's epoch() double rounding can flip the
    # bucket for events in the last half-second of an hour
    vmu = F.expr(f"cast(round({value_col} * 1000) as bigint)")
    hod = F.expr(
        f"(unix_micros(cast({ts_col} as timestamp)) div 3600000000) % 24"
    )
    dow = F.expr(
        f"((unix_micros(cast({ts_col} as timestamp)) div 86400000000) + 3) % 7"
    )
    return (
        events.groupBy(*by, dow.alias("dow"), hod.alias("hod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(vmu).alias("vsum_mu"),
        )
        .withColumn(
            "mean_mu",
            F.round(F.col("vsum_mu") / F.col("n"), 0).cast("long"),
        )
    )


def mad_outliers(
    events: DataFrame,
    value_col: str,
    by: tuple[str, ...] = ("user_id",),
    k: int = 3,
) -> DataFrame:
    """Robust per-series outlier accounting via median absolute
    deviation: how many of a series' observations sit more than
    ``k * MAD`` from its median — the estimator that, unlike the
    z-score, is not itself dragged by the outliers it is hunting.

    Medians are LOW medians (the value at 1-based rank (n+1) div 2 of
    the sorted sample): a pure rank pick, no interpolation, so the
    result is an actual data value and identical in any engine — the
    determinism reason quantile_cont/percentile built-ins are banned
    here (their interpolation and type rules differ). Values are
    quantized to 1e-3 (int64); every comparison is integer.

    Scale shape: one exchange on the series key; the two rank passes
    (values, then deviations) and the final count all reuse that
    partitioning — per-partition sorts, no further shuffle. Window
    nesting rules force each rank pick into its own projection step
    (rank, then conditional max over the partition), hence the two
    select stages per median. Returns (by..., n, med_mu, mad_mu,
    n_outliers).
    """
    vmu = F.expr(f"cast(round({value_col} * 1000) as bigint)")
    w_all = Window.partitionBy(*by)

    def _low_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w_rank = Window.partitionBy(*by).orderBy(col)
        ranked = df.select(
            "*",
            F.row_number().over(w_rank).alias("__r"),
            F.count(F.lit(1)).over(w_all).alias("__n"),
        )
        # low-median rank: (n+1) div 2, phrased as 2*r == (n+1) - (n+1)%2
        hit = (F.col("__r") * 2) == (
            (F.col("__n") + 1) - (F.col("__n") + 1) % 2
        )
        return ranked.select(
            "*", F.max(F.when(hit, F.col(col))).over(w_all).alias(out)
        ).drop("__r", "__n")

    base = events.select(*by, vmu.alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    with_med = _low_median(base, "__v", "med_mu").withColumn(
        "__dev", F.abs(F.col("__v") - F.col("med_mu"))
    )
    with_mad = _low_median(with_med, "__dev", "mad_mu")
    return (
        with_mad.groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med_mu").alias("med_mu"),
            F.min("mad_mu").alias("mad_mu"),
            F.sum(
                (F.col("__dev") > F.lit(int(k)) * F.col("mad_mu")).cast(
                    "long"
                )
            ).alias("n_outliers"),
        )
        .select(*by, "n", "med_mu", "mad_mu", "n_outliers")
    )


def inter_arrival_stats(
    events: DataFrame,
    bucket_secs: int,
    by: tuple[str, ...] = ("event_type",),
    pcts: tuple[float, ...] = (0.5, 0.95),
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Inter-arrival (response-latency) distribution: per entity, the
    gap between each event and the previous one, aggregated into
    per-(bucket, dims) count / mean / exact percentiles. On a
    transcript corpus this is turn-taking latency — "how long does a
    `purchase` sit behind the user's previous action, p95, per day".

    The delta is attributed to the LATER event's bucket and dims (the
    thing that waited). Ordering inside an entity is (ts, tiebreak) so
    equal timestamps pair deterministically in any engine; an entity's
    first event has no predecessor and contributes nothing.

    Shape: ONE exchange on the entity key + window lag (same partition
    feeds deltas for every dim), then a hash aggregate on
    (bucket, dims). Exact `percentile` sorts values per group —
    per-group memory O(group rows); at 100 TB swap in
    cardinality.approx_quantile_rollup's Greenwald-Khanna sketch for a
    shuffle independent of row count. Deltas are integral microseconds,
    so sums are exact and the percentile interpolation is the only
    rounding step (contract query rounds it to micro-units).

    Returns (bucket_epoch, by..., n, mean_us, p_<pct>_us...).
    """
    if not pcts:
        raise ValueError("need at least one percentile")
    for p in pcts:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile out of range: {p}")
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col).orderBy(t, F.col(tiebreak_col))
    delta = (t - F.lag(t).over(w)).alias("__delta_us")
    bucket = F.expr(
        f"unix_micros(cast({ts_col} as timestamp))"
        f" div {int(bucket_secs) * 1_000_000}"
    ) * F.lit(int(bucket_secs))
    rows = events.select(
        *by, bucket.alias("bucket_epoch"), delta
    ).filter(F.col("__delta_us").isNotNull())
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.avg("__delta_us").alias("mean_us"),
    ]
    for p in pcts:
        aggs.append(
            F.expr(f"percentile(__delta_us, {float(p)})").alias(
                f"p_{int(round(p * 100))}_us"
            )
        )
    return rows.groupBy("bucket_epoch", *by).agg(*aggs)


def seasonal_anomaly(
    events: DataFrame,
    value_col: str,
    k: float = 3.0,
    ts_col: str = "ts",
    keep_cols: tuple[str, ...] = ("event_id", "user_id"),
) -> DataFrame:
    """Seasonal (time-of-week) anomaly detection: flag events whose
    value deviates more than k sigma from the corpus's OWN (dow, hod)
    baseline — the "is 3am Sunday normally this quiet?" detector that
    seasonal_profile exists to feed.

    Plan shape at 100 TB: the profile is ONE hash aggregate with
    map-side partials onto at most 168 groups, then a BROADCAST join
    back against the event scan — the second pass is map-only, the big
    side never shuffles. (Catalyst broadcasts a 168-row side on its
    own; the hint makes the contract explicit.)

    Determinism: calendar buckets from integer epoch division (same
    convention as seasonal_profile), values quantized to 1e-3 so the
    pooled sums (n, Σv, Σv²) are exact int64 in any engine; sigma is
    one sqrt over identical doubles and the k·sigma comparison sees
    bit-identical operands on both sides. Groups with n == 1 have no
    sample variance and never flag.

    Returns (keep_cols..., dow, hod, vmu, mean_mu_r, z_u) — flagged
    rows only; z_u is the residual/sigma ratio in 1e-6 units.
    """
    vmu = F.expr(f"cast(round({value_col} * 1000) as bigint)")
    hod = F.expr(
        f"(unix_micros(cast({ts_col} as timestamp)) div 3600000000) % 24"
    )
    dow = F.expr(
        f"((unix_micros(cast({ts_col} as timestamp)) div 86400000000) + 3) % 7"
    )
    base = events.select(
        *keep_cols, dow.alias("dow"), hod.alias("hod"), vmu.alias("vmu")
    )
    prof = base.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vmu").alias("s"),
        F.sum(F.col("vmu") * F.col("vmu")).alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - F.lit(1)
    )
    prof = prof.select(
        "dow",
        "hod",
        "n",
        mean.alias("__mean"),
        F.sqrt(var).alias("__sigma"),
    )
    j = base.join(F.broadcast(prof), ["dow", "hod"])
    resid = F.col("vmu") - F.col("__mean")
    return (
        j.filter(
            (F.col("n") > 1)
            & (F.col("__sigma") > 0.0)
            & (F.abs(resid) > F.lit(float(k)) * F.col("__sigma"))
        )
        .select(
            *keep_cols,
            "dow",
            "hod",
            "vmu",
            F.round(F.col("__mean"), 0).cast("long").alias("mean_mu_r"),
            F.round(resid / F.col("__sigma") * 1e6, 0)
            .cast("long")
            .alias("z_u"),
        )
    )


def linear_fit(
    rolled: DataFrame,
    value_col: str,
    window_secs: int,
    bucket_secs: int,
    horizon_secs: int = 3600,
    min_points: int = 3,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Trailing least-squares fit per bucket (PromQL deriv() /
    predict_linear()): the slope of value over the preceding
    `window_secs` of the series and the extrapolated value
    `horizon_secs` ahead — the "disk full in N hours?" primitive.

    Time enters as the BUCKET INDEX (epoch div bucket_secs), so with
    integral values every pooled sum (n, Σt, Σy, Σtt, Σty) and both
    closed-form numerators stay exact int64 (frame <= window buckets;
    products ~1e11 at tier scale) — the two divisions are the only
    rounding, identical in any IEEE engine, same contract as the other
    pooled-sums operators. Windows with < min_points buckets or zero
    time-variance emit NULLs.

    One exchange on the series key; the RANGE frame slides with O(1)
    subtractable-aggregate updates. Returns (by..., bucket_col, value,
    n_win, slope_per_s, predict).
    """
    if window_secs % bucket_secs:
        raise ValueError("window_secs must be a multiple of bucket_secs")
    win_b = window_secs // bucket_secs
    hor_b = float(horizon_secs) / bucket_secs
    tidx = (F.unix_timestamp(F.col(bucket_col)) / F.lit(bucket_secs)).cast(
        "long"
    )
    base = rolled.select(
        *by,
        F.col(bucket_col),
        tidx.alias("__t"),
        F.col(value_col).cast("long").alias("__y"),
    )
    w = (
        Window.partitionBy(*by)
        .orderBy("__t")
        .rangeBetween(-(win_b - 1), 0)
    )
    n = F.count(F.lit(1)).over(w)
    st = F.sum("__t").over(w)
    sy = F.sum("__y").over(w)
    stt = F.sum(F.col("__t") * F.col("__t")).over(w)
    sty = F.sum(F.col("__t") * F.col("__y")).over(w)
    denom = n * stt - st * st
    num = n * sty - st * sy
    slope_b = F.when(
        (n >= min_points) & (denom > 0),
        num.cast("double") / denom.cast("double"),
    )
    mean_t = st.cast("double") / n
    mean_y = sy.cast("double") / n
    predict = mean_y + slope_b * (
        F.col("__t").cast("double") + F.lit(hor_b) - mean_t
    )
    return base.select(
        *by,
        bucket_col,
        F.col("__y").alias("value"),
        n.alias("n_win"),
        (slope_b / F.lit(float(bucket_secs))).alias("slope_per_s"),
        predict.alias("predict"),
    )


def change_stats(
    rolled: DataFrame,
    value_col: str,
    window_secs: int,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """PromQL changes() + resets() over a tier: per bucket, how many
    times the series VALUE changed, and how many times it DECREASED
    (counter reset), across the trailing `window_secs` — the flap /
    restart detectors.

    One exchange on the series key; the per-row change/reset flags come
    from lag() and the trailing totals from a RANGE frame over the same
    partition-order, so both window passes share one sort. A series'
    first bucket has no predecessor and contributes no flag (PromQL
    semantics: transitions, not points). Flags are exact integers —
    no float content at all.

    Returns (by..., bucket_col, value, n_win, n_changes, n_resets).
    """
    t = F.unix_timestamp(F.col(bucket_col))
    w_ord = Window.partitionBy(*by).orderBy(t)
    v = F.col(value_col)
    prev = F.lag(v).over(w_ord)
    base = rolled.select(
        *by,
        F.col(bucket_col),
        t.alias("__t"),
        v.alias("value"),
        F.when(prev.isNull(), F.lit(0))
        .otherwise((v != prev).cast("long"))
        .alias("__chg"),
        F.when(prev.isNull(), F.lit(0))
        .otherwise((v < prev).cast("long"))
        .alias("__rst"),
    )
    w_rng = (
        Window.partitionBy(*by)
        .orderBy("__t")
        .rangeBetween(-(window_secs - 1), 0)
    )
    return base.select(
        *by,
        bucket_col,
        "value",
        F.count(F.lit(1)).over(w_rng).alias("n_win"),
        F.sum("__chg").over(w_rng).alias("n_changes"),
        F.sum("__rst").over(w_rng).alias("n_resets"),
    )


def classical_decompose(
    dense: DataFrame,
    value_col: str,
    period: int,
    bucket_secs: int,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Classical additive seasonal-trend decomposition (the moving-
    average textbook algorithm STL refines): per series, split an
    integer-valued DENSE tier into

        y = trend + seasonal + residual

    with trend = the textbook centered moving average — a plain
    ``period``-point MA for odd periods, the 2xM double MA for even
    periods (a ``period + 1``-point window with HALF weight on the two
    endpoints, so each phase contributes exactly equal total weight;
    statsmodels' ``seasonal_decompose`` trend) — NULL at the edges
    where the window is incomplete; seasonal = the per-phase mean of
    the detrended values, centered so the seasonal component sums to
    zero over one period; residual the exact remainder. "Is Monday 9am
    traffic high because of growth (trend), because it's Monday 9am
    (seasonal), or is something actually happening (residual)?" is the
    question every capacity dashboard answers with this decomposition.

    Numerical contract: the input must be integer-valued (a count
    tier); everything is computed in integer micro-units. The trick
    that keeps it engine-exact: half weights never materialize as
    doubles — for even periods the weighted window sum is carried
    scaled by 2 as S = sum[-h..h] + sum[-h+1..h-1] (endpoints counted
    once, interior twice — a pure int64), the detrended value as
    d = scale*y - S with scale = 2*period (period, and S the plain
    window sum, for odd periods), so the only doubles anywhere are
    THREE divisions of identical exact-integer operands (trend,
    per-phase mean, centering mean), each rounded once to micro-units.
    A DuckDB oracle replays
    every output bit.

    Scale shape: ONE linear pass with three exchanges of the tier —
    series key (trend window), (series, phase) window (per-phase
    sums), series key again (centering over the period's phase
    representatives). All window functions, no self-joins: a join
    formulation would make Spark recompute the whole input subtree
    once per branch of the diamond (measured: 11 exchanges and a
    triple scan vs 3 exchanges here). No Python anywhere.

    Requires a gap-filled dense spine (rows-frame == time-frame).
    Returns (by..., bucket_col, y, trend_mu, seasonal_mu, resid_mu)
    with *_mu in 1e-6 units, NULL where the trend window is
    incomplete. Series shorter than one trend window (no complete
    window anywhere) have no defined seasonal profile and are dropped.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    even = period % 2 == 0
    half = period // 2
    # weighted-window denominator: the 2xM half-weight sum is carried
    # scaled by 2 for even periods so S stays a pure int64
    scale = 2 * period if even else period
    win = period + 1 if even else period
    y = F.col(value_col).cast("long")
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(bucket_col))
        .rowsBetween(-half, half)
    )
    w_inner = (
        Window.partitionBy(*by)
        .orderBy(F.col(bucket_col))
        .rowsBetween(-(half - 1), half - 1)
    )
    # integer `div`, never float-divide-then-cast: a 1-ulp-low double
    # quotient truncates an exact bucket boundary into the wrong phase
    phase = (
        F.expr(f"unix_timestamp({bucket_col}) div {int(bucket_secs)}")
        % F.lit(period)
    ).alias("__ph")
    # S = weighted window sum, scaled by 2 for even periods (endpoints
    # once + interior twice == the 2xM half-weight MA numerator)
    s_expr = (
        F.sum(y).over(w) + F.sum(y).over(w_inner) if even else F.sum(y).over(w)
    )
    base = dense.select(
        *by,
        bucket_col,
        phase,
        y.alias("__y"),
        s_expr.alias("__sw"),
        F.count(F.lit(1)).over(w).alias("__nw"),
    ).withColumn(
        "__d",  # scale*y - weighted window sum: exact int64 detrend
        F.when(
            F.col("__nw") == win,
            F.lit(scale) * F.col("__y") - F.col("__sw"),
        ),
    )
    # per-phase detrended mean, as a window over (series, phase) —
    # sum() skips the NULL edge rows, so __nd counts only complete-
    # window rows exactly like a filtered group-by would
    w_ph = Window.partitionBy(*by, "__ph")
    sd = F.sum("__d").over(w_ph)
    nd = F.sum(F.col("__d").isNotNull().cast("long")).over(w_ph)
    s_mu = F.when(
        nd > 0,
        F.round(sd * F.lit(1_000_000) / (F.lit(scale) * nd), 0).cast("long"),
    )
    # one representative row per (series, phase) feeds the centering
    rn = F.row_number().over(
        Window.partitionBy(*by, "__ph").orderBy(F.col(bucket_col))
    )
    staged = base.select(
        *by,
        bucket_col,
        "__y",
        "__sw",
        "__nw",
        s_mu.alias("__s_mu"),
        (rn == 1).alias("__rep"),
    )
    w_key = Window.partitionBy(*by)
    rep_s = F.when(F.col("__rep") & F.col("__s_mu").isNotNull(), F.col("__s_mu"))
    c_mu = F.round(
        F.sum(rep_s).over(w_key)
        / F.sum(rep_s.isNotNull().cast("long")).over(w_key),
        0,
    ).cast("long")
    trend_mu = F.when(
        F.col("__nw") == win,
        F.round(F.col("__sw") * F.lit(1_000_000) / F.lit(scale), 0).cast(
            "long"
        ),
    )
    seasonal_mu = F.when(
        F.col("__nw") == win, F.col("__s_mu") - c_mu
    )
    return (
        staged.where(F.col("__s_mu").isNotNull())
        .select(
            *by,
            bucket_col,
            F.col("__y").alias("y"),
            trend_mu.alias("trend_mu"),
            seasonal_mu.alias("seasonal_mu"),
            (
                F.col("__y") * F.lit(1_000_000)
                - trend_mu
                - seasonal_mu
            ).alias("resid_mu"),
        )
    )


def seasonal_forecast(
    dense: DataFrame,
    value_col: str,
    period: int,
    bucket_secs: int,
    horizons: int = 24,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Seasonal forecast on top of classical_decompose — the
    decomposition forecast Holt-Winters refines with smoothing: per
    series, deseasonalize (y - seasonal), fit ONE least-squares line
    to the deseasonalized values over bucket index, and forecast each
    future bucket as line(t) + seasonal(phase(t)). Upgrades the linear
    predict (linear_fit / PromQL predict_linear) with the seasonal
    shape: a daily-periodic series forecasts tomorrow's 9am spike
    instead of a flat trend line.

    Numerical contract (SQL-oracle-replayable): the fit's pooled sums
    n, Σp, Σp², Σdz, Σp·dz are exact int64 over per-series-centered
    indices p (abs bucket index minus the series min — centering keeps
    n·Σp·dz far from int64 range); slope and the line value are then
    the SAME double expression tree in both engines
    (mean_dz + slope*(p_f - mean_p)), rounded ONCE to micro-units,
    and the integer seasonal term is added after rounding.

    Horizons anchor at the series' LAST OBSERVED bucket (h=1 is the
    first bucket after the data ends), even though the fit domain
    stops period//2 buckets earlier where the centered trend window
    runs out — the line extrapolates across that tail like any
    forecast extrapolates past its fit domain.

    Plan: classical_decompose's three window exchanges, then ONE
    series-key aggregate that carries BOTH the fit sums and the
    per-phase seasonal values (a ≤period-entry map via
    map_from_entries(collect_set(...)) — seasonal_mu is constant per
    phase, so the set collapses to one entry per phase), and a tiny
    horizons explode with a map lookup. Single pass: a join-back
    formulation re-executed the whole decompose subtree per diamond
    branch (measured: 4 exchanges + 9 window sorts vs 3 + 5 here).
    Series with a degenerate fit (Ds = 0, fewer than two distinct
    indices) or a future phase never observed are dropped, identically
    in both engines.

    Returns (by..., bucket_ts [future], h, forecast_mu).
    """
    if horizons < 1:
        raise ValueError("horizons must be >= 1")
    dec = classical_decompose(
        dense, value_col, period, bucket_secs, by=by, bucket_col=bucket_col
    )
    idx = F.expr(
        f"unix_timestamp({bucket_col}) div {int(bucket_secs)}"
    ).alias("__ai")
    # keep ALL rows: edge rows (NULL seasonal) anchor the horizon at
    # the true series end; fit sums skip them via null-skipping SUMs
    rows = dec.select(
        *by,
        idx,
        (F.col("y") * F.lit(1_000_000) - F.col("seasonal_mu")).alias(
            "__dz"
        ),
        F.col("seasonal_mu"),
    )
    w_key = Window.partitionBy(*by)
    fit_ai = F.when(F.col("__dz").isNotNull(), F.col("__ai"))
    centered = rows.select(
        *by,
        "__ai",
        (F.col("__ai") - F.min(fit_ai).over(w_key)).alias("__p"),
        F.min(fit_ai).over(w_key).alias("__minai"),
        "__dz",
        "seasonal_mu",
    )
    in_fit = F.col("__dz").isNotNull()
    fit = centered.groupBy(*by).agg(
        F.count("__dz").alias("__n"),
        F.min("__minai").alias("__minai"),
        F.max("__ai").alias("__maxai"),
        F.sum(F.when(in_fit, F.col("__p"))).alias("__sp"),
        F.sum(F.when(in_fit, F.col("__p") * F.col("__p"))).alias("__spp"),
        F.sum("__dz").alias("__sdz"),
        F.sum(F.col("__p") * F.col("__dz")).alias("__spdz"),
        # per-phase seasonal map in the SAME pass: seasonal_mu is
        # constant per (series, phase), so collect_set collapses to
        # exactly one (phase, value) entry per observed phase
        F.map_from_entries(
            F.collect_set(
                F.when(
                    in_fit,
                    F.struct(
                        (F.col("__ai") % F.lit(int(period))).alias("k"),
                        F.col("seasonal_mu").alias("v"),
                    ),
                )
            )
        ).alias("__smap"),
    )
    ns = F.col("__n") * F.col("__spdz") - F.col("__sp") * F.col("__sdz")
    ds = F.col("__n") * F.col("__spp") - F.col("__sp") * F.col("__sp")
    fitted = fit.where(ds > 0).select(
        *by,
        "__minai",
        "__maxai",
        "__smap",
        (ns.cast("double") / ds.cast("double")).alias("__slope"),
        (F.col("__sdz").cast("double") / F.col("__n").cast("double")).alias(
            "__mdz"
        ),
        (F.col("__sp").cast("double") / F.col("__n").cast("double")).alias(
            "__mp"
        ),
    )
    horizon = fitted.select(
        "*",
        F.explode(
            F.sequence(F.lit(1), F.lit(int(horizons)))
        ).alias("h"),
    ).select(
        *by,
        "h",
        (F.col("__maxai") + F.col("h")).alias("__af"),
        (F.col("__maxai") - F.col("__minai") + F.col("h")).alias("__pf"),
        "__smap",
        "__slope",
        "__mdz",
        "__mp",
    )
    line_mu = F.round(
        F.col("__mdz")
        + F.col("__slope") * (F.col("__pf").cast("double") - F.col("__mp")),
        0,
    ).cast("long")
    seasonal = F.element_at(
        F.col("__smap"), (F.col("__af") % F.lit(int(period))).cast("long")
    )
    return (
        horizon.select(
            *by,
            F.timestamp_seconds(
                F.col("__af") * F.lit(int(bucket_secs))
            ).alias(bucket_col),
            "h",
            (line_mu + seasonal).alias("forecast_mu"),
        )
        # a future phase never observed has no seasonal value: drop,
        # same as the SQL oracle's inner join on phase
        .where(F.col("forecast_mu").isNotNull())
    )


def holt_winters(
    samples: DataFrame,
    value_col: str,
    tier: str = "1h",
    by: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    sf: float = 0.5,
    tf: float = 0.25,
) -> DataFrame:
    """PromQL holt_winters() / double_exponential_smoothing() per
    tumbling tier bucket: the level/trend recurrence of the published
    funcDoubleExponentialSmoothing rule folded over the bucket's
    time-ordered samples, returning the final smoothed level —

        s1 := y[0];  b := y[1] - y[0]
        for i in 1..l-1:
            b  := (i == 1) ? b : tf*(s1 - s0) + (1 - tf)*b
            s0, s1 := s1, sf*y[i] + (1 - sf)*(s1 + b)

    Buckets need >= 2 samples, like Prometheus.

    Execution: the recurrence is inherently sequential PER BUCKET but
    embarrassingly parallel ACROSS buckets, so it runs as ONE hash
    aggregate (collect_list of (t_us, value) structs, map-side partial)
    followed by a whole-stage-codegen projection: array_sort + an
    ``F.aggregate`` fold over the array with a (s0, s1, b, j) struct
    accumulator — zero Python in the plan, zero window functions, one
    exchange on (by, bucket). At 100x the array length is bounded by
    samples-per-bucket (a scrape-rate constant), not by data volume.

    Numerics: defaults sf/tf are DYADIC (0.5, 0.25) so the complement
    weights (1-sf), (1-tf) are exact; every fold step then evaluates
    the identical IEEE-754 expression tree in any engine replaying the
    recurrence in doubles (the DuckDB oracle walks the same recurrence
    with a recursive CTE and matches bit-for-bit at micro-unit
    rounding). Non-dyadic factors still agree to an ulp per step.

    Returns (by..., bucket_ts, n_samples, smoothed).
    """
    if not 0.0 < sf < 1.0 or not 0.0 < tf < 1.0:
        raise ValueError("smoothing/trend factors must be in (0, 1)")
    from go_muse_spark.operators.rollup import TIERS

    unit, _, _ = TIERS[tier]
    b = F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
    tagged = samples.select(
        *by,
        b,
        F.struct(
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t_us"),
            F.col(value_col).cast("double").alias("v"),
        ).alias("__pt"),
    )
    agg = tagged.groupBy(*by, "bucket_ts").agg(
        F.array_sort(F.collect_list("__pt")).alias("__pts")
    )
    arr = F.col("__pts")
    y1 = F.element_at(arr, 1)["v"]
    y2 = F.element_at(arr, 2)["v"]
    sf_c, tf_c = F.lit(float(sf)), F.lit(float(tf))
    one = F.lit(1.0)

    def step(acc, x):
        # b update lags one sample: first fold step keeps the seed b
        b_new = F.when(acc["j"] == 0, acc["b"]).otherwise(
            tf_c * (acc["s1"] - acc["s0"]) + (one - tf_c) * acc["b"]
        )
        return F.struct(
            acc["s1"].alias("s0"),
            (sf_c * x["v"] + (one - sf_c) * (acc["s1"] + b_new)).alias(
                "s1"
            ),
            b_new.alias("b"),
            (acc["j"] + F.lit(1)).alias("j"),
        )

    folded = F.aggregate(
        F.slice(arr, 2, F.size(arr) - 1),
        F.struct(
            F.lit(0.0).alias("s0"),
            y1.alias("s1"),
            (y2 - y1).alias("b"),
            F.lit(0).alias("j"),
        ),
        step,
    )
    return (
        agg.where(F.size(arr) >= 2)
        .select(
            *by,
            "bucket_ts",
            F.size(arr).alias("n_samples"),
            folded["s1"].alias("smoothed"),
        )
    )



def _pearson_from_sums(n, sx, sy, sxx, syy, sxy, min_points):
    """Pooled-sums → Pearson closed form shared by rolling_corr and
    rank_corr_bucket (series_corr/corr_pairs predate it and keep their
    committed expression trees). The n·Σxx − Σx² products are evaluated
    in decimal(38,0) so they stay EXACT far past int64 — with plain
    long math, n·Σrx² wraps silently at ~75k ranked series per bucket
    (n⁴/3 > 2^63) and the corr silently diverges from an oracle whose
    engine promotes to int128. The one cast to double of the exact
    integer difference is correctly rounded and engine-identical, so
    oracle bit-parity holds at any scale below 10^38.
    """

    def d(c):
        return c.cast("decimal(38,0)")

    vx = (d(n) * d(sxx) - d(sx) * d(sx)).cast("double")
    vy = (d(n) * d(syy) - d(sy) * d(sy)).cast("double")
    cov = (d(n) * d(sxy) - d(sx) * d(sy)).cast("double")
    return F.when(
        (n >= min_points) & (vx > 0) & (vy > 0),
        cov / F.sqrt(vx) / F.sqrt(vy),
    )


def rolling_corr(
    rolled: DataFrame,
    x_col: str,
    y_col: str,
    window_secs: int,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    min_points: int = 3,
) -> DataFrame:
    """Trailing-window Pearson correlation between two metrics of the
    SAME series — "are this conversation's turn volume and tool usage
    still moving together, right now?". The sliding complement of
    series_corr (whole-history corr): every bucket gets the corr over
    the preceding `window_secs` (inclusive), so regime changes show up
    as the curve decorrelating in place.

    Numerics: the five pooled sums (Σx Σy Σxy Σx² Σy²) come from RANGE
    window aggregates over the raw (integral) metric values — exact
    integers — and the corr is ONE closed-form double expression
    (n·Σxy − ΣxΣy) / sqrt(n·Σxx − Σx²) / sqrt(n·Σyy − Σy²), the same
    contract as series_corr, so an oracle writing the identical tree
    agrees bit-for-bit. Windows with < min_points buckets or zero
    variance on either side emit NULL (undefined, not 0).

    Scale shape: one exchange on the series key + one sort, all five
    sums share the single RANGE frame (one window pass); gaps are
    absent, not zero, exactly like moving_aggregate. No Python.

    Returns (by..., bucket_col, x, y, win_n, corr).
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")

    def d(c):
        # squares and their sums run in decimal(38,0): with micro-unit
        # values, x² (1e18) and Σx² wrap int64 long before the
        # closed-form products do — exactness must start at the square.
        return c.cast("decimal(38,0)")

    w = (
        Window.partitionBy(*by)
        .orderBy(F.unix_timestamp(bucket_col))
        .rangeBetween(-(window_secs - 1), 0)
    )
    base = rolled.select(
        *by,
        bucket_col,
        x.alias("__x"),
        y.alias("__y"),
        F.count(F.lit(1)).over(w).alias("win_n"),
        F.sum(x).over(w).alias("__sx"),
        F.sum(y).over(w).alias("__sy"),
        F.sum(d(x) * d(x)).over(w).alias("__sxx"),
        F.sum(d(y) * d(y)).over(w).alias("__syy"),
        F.sum(d(x) * d(y)).over(w).alias("__sxy"),
    )
    corr = _pearson_from_sums(
        F.col("win_n"), F.col("__sx"), F.col("__sy"), F.col("__sxx"),
        F.col("__syy"), F.col("__sxy"), min_points,
    )
    return base.select(
        *by,
        bucket_col,
        F.col("__x").alias("x"),
        F.col("__y").alias("y"),
        "win_n",
        corr.alias("corr"),
    )


def rank_corr_bucket(
    rolled: DataFrame,
    x_col: str,
    y_col: str,
    key_col: str = "conv_id",
    bucket_col: str = "bucket_ts",
    min_points: int = 3,
) -> DataFrame:
    """Per-bucket Spearman rank correlation ACROSS series: within each
    bucket, rank every series by metric x and by metric y, then Pearson
    over the two rank vectors — "does talking more still go with using
    more tools today, monotonically?". Robust to outliers and to any
    monotone rescaling of either metric, which Pearson is not.

    Tie rule: ranks are row_number() ordered by (value, key) — a total
    order, so both engines produce the identical permutation and the
    whole computation stays in exact integers until the one closed-form
    corr expression (same tree as series_corr). This is the
    deterministic "tie-broken Spearman" variant, NOT the
    fractional-average-tie textbook variant: with heavy integer ties
    the two differ, and the average-tie variant cannot be made
    bit-stable without a second ordering pass. The tie-break is part of
    the operator contract and the oracle writes the same ORDER BY.

    Scale shape: one exchange on the bucket (ranks are per-bucket
    windows), one map-side-combined aggregate on the same key — two
    window sorts share the single partitioning. Buckets with <
    min_points series or zero rank variance (all-tied metric) emit
    NULL.

    Returns (bucket_col, n_series, corr) — one row per bucket.
    """
    wx = Window.partitionBy(bucket_col).orderBy(F.col(x_col), F.col(key_col))
    wy = Window.partitionBy(bucket_col).orderBy(F.col(y_col), F.col(key_col))
    ranked = rolled.select(
        bucket_col,
        F.row_number().over(wx).cast("long").alias("__rx"),
        F.row_number().over(wy).cast("long").alias("__ry"),
    )
    rx, ry = F.col("__rx"), F.col("__ry")

    def d(c):
        # Σrank² ≈ n³/3 wraps int64 at ~3e6 series per bucket; keep the
        # squares and sums exact in decimal(38,0) all the way.
        return c.cast("decimal(38,0)")

    agg = ranked.groupBy(bucket_col).agg(
        F.count(F.lit(1)).alias("n_series"),
        F.sum(rx).alias("__sx"),
        F.sum(ry).alias("__sy"),
        F.sum(d(rx) * d(rx)).alias("__sxx"),
        F.sum(d(ry) * d(ry)).alias("__syy"),
        F.sum(d(rx) * d(ry)).alias("__sxy"),
    )
    corr = _pearson_from_sums(
        F.col("n_series"), F.col("__sx"), F.col("__sy"), F.col("__sxx"),
        F.col("__syy"), F.col("__sxy"), min_points,
    )
    return agg.select(bucket_col, "n_series", corr.alias("corr"))


def best_changepoint(
    rolled: DataFrame,
    value_col: str,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    min_seg: int = 3,
) -> DataFrame:
    """Single best level-shift changepoint per series (one step of
    binary segmentation with the classic piecewise-constant SSE cost):
    the split index k that minimizes SSE(left) + SSE(right) over the
    series' ordered buckets — "when did this conversation's volume
    regime change?". Repeated application to the two halves is full
    binary segmentation; the one-split step is the alertable quantity
    (where + how much variance the split explains).

    Numerics: with prefix sums S_k = Σ_{i≤k} x_i over INTEGRAL values,
    SSE(split at k) = Σx² − S_k²/k − (S_n−S_k)²/(n−k), so the only
    non-integer quantity is h(k) = S_k²·(n−k) + (S_n−S_k)²·k divided
    by k(n−k). The numerator products run in decimal(38,0) — EXACT far
    past int64, where a micro-unit value column (S_n ~ 3·10⁹ already
    wraps S_n² in long math) would otherwise corrupt the argmax
    silently — and the IEEE double division of the exact operands is
    correctly rounded and IDENTICAL on any engine:
    the argmax (ties → smallest k) is bit-stable and oracle-checkable.
    gain = SSE(no split) − SSE(best split) ≥ 0 is the explained sum of
    squares.

    Scale shape: ONE exchange on the series key; the prefix sums, the
    per-candidate h(k), and the argmax row_number all ride that same
    partitioning (running + unbounded frames, no second shuffle). The
    candidate space is the series' own length — nothing quadratic.

    Returns (by..., n, split_k, split_bucket, gain) — split_k is the
    left-segment length, split_bucket the first bucket of the RIGHT
    segment, gain in value² units (double). Series shorter than
    2·min_seg emit nothing.
    """
    v = F.col(value_col).cast("long")
    word = Window.partitionBy(*by).orderBy(bucket_col)
    wall = Window.partitionBy(*by)
    run = (
        Window.partitionBy(*by)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = rolled.select(
        *by,
        F.row_number().over(word).alias("__k"),
        F.sum(v).over(run).alias("__sk"),
        F.count(F.lit(1)).over(wall).alias("__n"),
        F.sum(v).over(wall).alias("__sn"),
        F.lead(bucket_col, 1).over(word).alias("__next_b"),
    )
    n, k = F.col("__n"), F.col("__k")
    sk, sn = F.col("__sk"), F.col("__sn")
    cand = base.where(
        (k >= F.lit(int(min_seg))) & (k <= n - F.lit(int(min_seg)))
    )
    def _d(c):
        return c.cast("decimal(38,0)")

    h = (
        (_d(sk) * _d(sk) * _d(n - k) + _d(sn - sk) * _d(sn - sk) * _d(k))
        .cast("double")
        / (k * (n - k)).cast("double")
    )
    scored = cand.withColumn("__h", h)
    wbest = Window.partitionBy(*by).orderBy(F.desc("__h"), "__k")
    best = scored.withColumn("__r", F.row_number().over(wbest)).where(
        F.col("__r") == 1
    )
    gain = F.col("__h") - (_d(sn) * _d(sn)).cast("double") / n.cast("double")
    return best.select(
        *by,
        n.alias("n"),
        k.alias("split_k"),
        F.col("__next_b").alias("split_bucket"),
        gain.alias("gain"),
    )


def theil_sen(
    rolled: DataFrame,
    value_col: str,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    min_points: int = 3,
) -> DataFrame:
    """Theil–Sen robust trend per series: the (lower) median of all
    pairwise slopes (x_j−x_i)/(t_j−t_i), i < j — up to ~29% outliers
    cannot move it, unlike linear_fit's least squares. The estimator
    dashboards want when one spike would otherwise fake a trend.

    Determinism contract: slopes are IEEE divisions of exact integers
    (integral values, epoch-second buckets), so every slope double is
    correctly rounded and identical across engines; the median is the
    LOWER median (order statistic at ceil(p/2) over (slope, i, j) —
    a total order), not the interpolated midpoint, so no float
    averaging is introduced. The intercept is the lower median of
    (x_i − slope·t_i) under the same rule.

    Scale shape: the pair space is per-series O(n²) — bounded by the
    TIER length, not the corpus (run it over the 1d tier: n ≤ days of
    retention). ONE exchange gathers the series; the pair expansion is
    a broadcast-free in-partition self-join on the series key; both
    medians ride the same partitioning. For per-series n beyond ~10³,
    downsample to a coarser tier first (the estimator is rank-based —
    resistant to the aggregation).

    Returns (by..., n, n_pairs, slope, intercept).
    """
    t = F.unix_timestamp(bucket_col).cast("long")
    v = F.col(value_col).cast("long")
    r = rolled.select(*by, t.alias("__t"), v.alias("__v"))
    # materialize the rolled series once: the self-join and the
    # residual join would otherwise re-execute the whole upstream
    # scan+rollup per branch (same convention as corr_pairs /
    # operators/dedup.py _materialize; in production the tier is
    # already a persisted store table).
    r = r.localCheckpoint(eager=False)
    l = r.select(*by, F.col("__t").alias("__ti"), F.col("__v").alias("__vi"))
    rr = r.select(*by, F.col("__t").alias("__tj"), F.col("__v").alias("__vj"))
    pairs = l.join(rr, list(by)).where(F.col("__ti") < F.col("__tj"))
    slope = (F.col("__vj") - F.col("__vi")).cast("double") / (
        F.col("__tj") - F.col("__ti")
    ).cast("double")
    p = pairs.withColumn("__s", slope)
    wm = Window.partitionBy(*by).orderBy("__s", "__ti", "__tj")
    wc = Window.partitionBy(*by)
    med = (
        p.withColumn("__r", F.row_number().over(wm))
        .withColumn("__p", F.count(F.lit(1)).over(wc))
        .where(F.col("__r") == F.floor((F.col("__p") + 1) / 2))
        .select(*by, F.col("__p").alias("n_pairs"), F.col("__s").alias("slope"))
    )
    resid = r.join(med, list(by)).withColumn(
        "__e", F.col("__v").cast("double") - F.col("slope") * F.col("__t").cast("double")
    )
    wme = Window.partitionBy(*by).orderBy("__e", "__t")
    wcn = Window.partitionBy(*by)
    out = (
        resid.withColumn("__r", F.row_number().over(wme))
        .withColumn("__n", F.count(F.lit(1)).over(wcn))
        .where(
            (F.col("__r") == F.floor((F.col("__n") + 1) / 2))
            & (F.col("__n") >= F.lit(int(min_points)))
        )
        .select(
            *by,
            F.col("__n").alias("n"),
            "n_pairs",
            "slope",
            F.col("__e").alias("intercept"),
        )
    )
    return out


def ccf_lags(
    rolled: DataFrame,
    x_col: str,
    y_col: str,
    lag_secs: tuple[int, ...],
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    min_pairs: int = 3,
) -> DataFrame:
    """Sample CROSS-correlation function between two metrics of the
    same series at fixed signed bucket lags — the exact, per-pair
    complement of the muse FFT search: corr(x_t, y_{t-L}) for each
    requested L, so a POSITIVE peak lag means y LEADS x by L seconds
    ("clicks now predict turns L later"). The diagnostic a user runs
    after muse flags a pair, to read the response delay off a small
    exact table (cf. the reference's per-lag cc vector, xcorr.go, which
    muse reduces to its max — this keeps the whole slice).

    Same machinery as autocorr_lags: the lagged partner y_{t-L} comes
    from a degenerate RANGE frame [-L, -L] per lag (signed lags allowed
    — a negative L reads the FUTURE partner), so ALL lags share one
    exchange + one window sort on the series key; no self-join, no
    second scan. Pairs where either bucket is missing are dropped, not
    zero-filled. Squares/products accumulate in decimal(38,0) (exact
    past int64 for micro-unit inputs) and the Pearson closed form is
    applied once (module contract, _pearson_from_sums). Series with
    < min_pairs realized pairs or zero variance at a lag emit NULL.

    Returns (by..., lag_s, n_pairs, ccf).

    Scale shape: one exchange on the series key, one sort, (2K+1)
    degenerate frames over it, then a map-side-combined aggregate on
    (by, lag) — cost is O(lags) column ops per row, never a row blowup
    before the shuffle.
    """
    if not lag_secs:
        raise ValueError("need at least one lag")
    x = F.col(x_col).cast("long")
    yv = F.col(y_col).cast("long")
    sec = F.unix_timestamp(F.col(bucket_col).cast("timestamp"))

    def d(c):
        return c.cast("decimal(38,0)")

    lagged = rolled.select(
        *by,
        x.alias("__x"),
        *[
            F.max(yv)
            .over(
                Window.partitionBy(*by)
                .orderBy(sec)
                .rangeBetween(-int(L), -int(L))
            )
            .alias(f"__y_{i}")
            for i, L in enumerate(lag_secs)
        ],
    )
    pairs = lagged.select(
        *by,
        "__x",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(L)).alias("lag_s"),
                        F.col(f"__y_{i}").alias("__y"),
                    )
                    for i, L in enumerate(lag_secs)
                ]
            )
        ).alias("__p"),
    ).select(*by, "__x", "__p.lag_s", "__p.__y")
    xx, yy = F.col("__x"), F.col("__y")
    agg = (
        pairs.filter(yy.isNotNull())
        .groupBy(*by, "lag_s")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(xx).alias("__sx"),
            F.sum(yy).alias("__sy"),
            F.sum(d(xx) * d(xx)).alias("__sxx"),
            F.sum(d(yy) * d(yy)).alias("__syy"),
            F.sum(d(xx) * d(yy)).alias("__sxy"),
        )
    )
    ccf = _pearson_from_sums(
        F.col("n_pairs"), F.col("__sx"), F.col("__sy"), F.col("__sxx"),
        F.col("__syy"), F.col("__sxy"), int(min_pairs),
    )
    return agg.select(*by, "lag_s", "n_pairs", ccf.alias("ccf"))


def _mk_parts(
    rolled: DataFrame,
    value_col: str,
    by: tuple[str, ...],
    bucket_col: str,
) -> DataFrame:
    """Per-key Mann-Kendall building blocks shared by the plain and
    seasonal (Hirsch-Slack) tests: exact-integer S, n, and the two
    tie sums. Returns (by..., n, s_stat, __tie3, __tie2)."""
    t = F.unix_timestamp(F.col(bucket_col).cast("timestamp"))
    v = F.col(value_col).cast("long")
    r = rolled.select(*by, t.alias("__t"), v.alias("__v"))
    r = r.localCheckpoint(eager=False)  # theil_sen convention: the
    # self-join must not re-run the upstream scan+rollup per branch
    l = r.select(*by, F.col("__t").alias("__ti"), F.col("__v").alias("__vi"))
    rr = r.select(*by, F.col("__t").alias("__tj"), F.col("__v").alias("__vj"))
    s = (
        l.join(rr, list(by))
        .where(F.col("__ti") < F.col("__tj"))
        .groupBy(*by)
        .agg(
            F.sum(
                F.signum((F.col("__vj") - F.col("__vi")).cast("double"))
                .cast("long")
            ).alias("s_stat")
        )
    )
    ties = (
        r.groupBy(*by, "__v")
        .agg(F.count(F.lit(1)).alias("__t"))
        .groupBy(*by)
        .agg(
            F.sum("__t").alias("n"),
            F.sum(
                F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5)
            ).alias("__tie3"),
            F.sum(F.col("__t") * (F.col("__t") - 1)).alias("__tie2"),
        )
    )
    # single-point series produce no pairs: left join from ties keeps
    # them with S = 0 so the seasonal sum still counts their n
    return ties.join(s, list(by), "left").na.fill({"s_stat": 0})


def mann_kendall(
    rolled: DataFrame,
    value_col: str,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    min_points: int = 4,
) -> DataFrame:
    """Mann-Kendall monotone-trend test per series: the nonparametric
    "is this series going up?" detector (Mann 1945, Kendall 1975; the
    standard in hydrology/ops for trend ALERTING, where Theil-Sen gives
    the magnitude). S = sum over i<j of sign(v_j - v_i); under H0
    (no trend) S is ~normal with the tie-corrected variance

        Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18,

    t ranging over the sizes of the tied-value groups. The continuity-
    corrected z = (S-1)/sqrt(Var) for S>0, 0 for S=0, (S+1)/sqrt(Var)
    for S<0, and tau_b = S / sqrt(D0 * (D0 - T1)) with D0 = n(n-1)/2,
    T1 = sum_t t(t-1)/2 (time has no ties on a tier grid, so the
    x-side tie term vanishes).

    Determinism contract (module convention): S, n, and both tie sums
    are EXACT integers (values are integral tier aggregates; n is
    bounded by tier length so n**3 < 2**53 holds for any real
    retention); Var*18 is carried as an exact long and z / tau_b are
    each ONE double expression over those integers — an oracle
    spelling the identical tree matches bit-for-bit.

    Scale shape: same two-exchange budget as theil_sen, and the same
    per-series O(tier-length**2) pair bound (run over the daily tier,
    n <= retention days): one series-key exchange feeds BOTH the
    in-partition pair self-join that sums sign() and the tied-group
    count; the two tiny per-series tables merge on the same key. The
    raw corpus is scanned once, upstream of the rollup.

    Returns (by..., n, s_stat, var18, z, tau_b). Series with
    n < min_points or zero variance (all values tied: Var = 0) are
    dropped — no trend verdict is emitted rather than a NaN.
    """
    j = _mk_parts(rolled, value_col, by, bucket_col)
    n = F.col("n")
    var18 = n * (n - 1) * (2 * n + 5) - F.col("__tie3")
    ss = F.col("s_stat")
    sd = F.sqrt(var18.cast("double") / F.lit(18.0))
    z = F.when(ss > 0, (ss - 1).cast("double") / sd).when(
        ss < 0, (ss + 1).cast("double") / sd
    ).otherwise(F.lit(0.0))
    d0 = n * (n - 1) / F.lit(2)
    tau_den = F.sqrt(
        d0.cast("double")
        * (d0 - F.col("__tie2") / F.lit(2)).cast("double")
    )
    tau = ss.cast("double") / tau_den
    return (
        j.where((n >= F.lit(int(min_points))) & (var18 > 0))
        .select(
            *by,
            n.alias("n"),
            "s_stat",
            var18.alias("var18"),
            z.alias("z"),
            tau.alias("tau_b"),
        )
    )


def seasonal_mann_kendall(
    rolled: DataFrame,
    value_col: str,
    phase_col: str,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    min_points: int = 8,
) -> DataFrame:
    """Seasonal (Hirsch-Slack 1984) Mann-Kendall: the trend test a
    SEASONAL series actually needs — plain MK on a weekly-patterned
    metric reads the Monday/Sunday gap as "trend". Here pairs are
    formed only WITHIN each season phase (same weekday vs same
    weekday), and the per-phase statistics sum:

        S = sum_p S_p,   Var(S) = sum_p Var_p(S)   (independent
        phases under H0), z continuity-corrected as in mann_kendall.

    A phase whose values are all tied contributes S_p = 0, Var_p = 0
    — INCLUDED, not dropped (dropping would bias the variance); the
    verdict is only withheld when the TOTAL variance is zero.

    All per-phase parts are exact integers (shared _mk_parts), so the
    summed S and 18*Var are exact and order-independent; z is one
    double expression — the module's oracle contract.

    Scale shape: same as mann_kendall with the phase in the key — the
    (by, phase) exchange feeds pair join and tie scan, then ONE more
    tiny aggregate collapses phases; pair space shrinks to
    O(sum_p n_p^2), a factor n_phases below plain MK.

    Returns (by..., n, n_phases, s_stat, var18, z).
    """
    parts = _mk_parts(
        rolled, value_col, tuple(by) + (phase_col,), bucket_col
    )
    n = F.col("n")
    var18_p = n * (n - 1) * (2 * n + 5) - F.col("__tie3")
    agg = (
        parts.select(
            *by,
            n.alias("__n"),
            F.col("s_stat").alias("__s"),
            var18_p.alias("__v18"),
        )
        .groupBy(*by)
        .agg(
            F.sum("__n").alias("n"),
            F.count(F.lit(1)).alias("n_phases"),
            F.sum("__s").alias("s_stat"),
            F.sum("__v18").alias("var18"),
        )
    )
    ss = F.col("s_stat")
    sd = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    z = F.when(ss > 0, (ss - 1).cast("double") / sd).when(
        ss < 0, (ss + 1).cast("double") / sd
    ).otherwise(F.lit(0.0))
    return agg.where(
        (F.col("n") >= F.lit(int(min_points))) & (F.col("var18") > 0)
    ).select(*by, "n", "n_phases", "s_stat", "var18", z.alias("z"))


def kendall_tau(
    rolled: DataFrame,
    x_col: str,
    y_col: str,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    min_points: int = 4,
) -> DataFrame:
    """Kendall tau-b between two metrics of the same series over
    aligned buckets — the rank-concordance complement to series_corr
    (Pearson, linear) and rank_corr_bucket (Spearman, rank-linear):
    tau asks only "when x moves up, does y?", pair by pair, so a
    single outlier shifts it by at most O(1/n) — the most robust of
    the three and the one with the cleanest integer form.

        S = sum over i<j of sign(x_j - x_i) * sign(y_j - y_i)
        tau_b = S / sqrt((D0 - Tx)(D0 - Ty)),  D0 = n(n-1)/2,
        Tx/Ty = sum over tied groups t(t-1)/2 in x / in y.

    S, D0, Tx, Ty are exact integers (integral tier values, n bounded
    by tier length); tau_b is ONE double expression over them — the
    module's oracle contract. Concordant/discordant/tied-pair counts
    are also emitted (cd_stat = C - D = S; the pair classes an analyst
    reads when tau is surprising).

    Scale shape: identical to mann_kendall — one series-key exchange
    shared by the in-partition pair self-join and both tie scans; the
    pair space is per-series O(tier-length**2), bounded by retention.

    Returns (by..., n, s_stat, tau_b). Series with n < min_points or
    a degenerate margin (all x tied or all y tied) are dropped.
    """
    xv = F.col(x_col).cast("long")
    yv = F.col(y_col).cast("long")
    t = F.unix_timestamp(F.col(bucket_col).cast("timestamp"))
    r = rolled.select(*by, t.alias("__t"), xv.alias("__x"), yv.alias("__y"))
    r = r.localCheckpoint(eager=False)
    l = r.select(
        *by, F.col("__t").alias("__ti"),
        F.col("__x").alias("__xi"), F.col("__y").alias("__yi"),
    )
    rr = r.select(
        *by, F.col("__t").alias("__tj"),
        F.col("__x").alias("__xj"), F.col("__y").alias("__yj"),
    )
    sgn = lambda a, b: F.signum((a - b).cast("double")).cast("long")  # noqa: E731
    s = (
        l.join(rr, list(by))
        .where(F.col("__ti") < F.col("__tj"))
        .groupBy(*by)
        .agg(
            F.sum(
                sgn(F.col("__xj"), F.col("__xi"))
                * sgn(F.col("__yj"), F.col("__yi"))
            ).alias("s_stat")
        )
    )

    def tie_pairs(col: str, alias: str):
        return (
            r.groupBy(*by, col)
            .agg(F.count(F.lit(1)).alias("__t"))
            .groupBy(*by)
            .agg(
                F.sum("__t").alias("n" if alias == "tx" else "__n2"),
                (F.sum(F.col("__t") * (F.col("__t") - 1)) / F.lit(2))
                .cast("long")
                .alias(alias),
            )
        )

    j = s.join(tie_pairs("__x", "tx"), list(by)).join(
        tie_pairs("__y", "ty"), list(by)
    )
    n = F.col("n")
    d0 = (n * (n - 1) / F.lit(2)).cast("long")
    den = F.sqrt(
        (d0 - F.col("tx")).cast("double") * (d0 - F.col("ty")).cast("double")
    )
    return (
        j.where(
            (n >= F.lit(int(min_points)))
            & (d0 > F.col("tx"))
            & (d0 > F.col("ty"))
        )
        .select(
            *by,
            n.alias("n"),
            "s_stat",
            (F.col("s_stat").cast("double") / den).alias("tau_b"),
        )
    )


def hampel(
    rolled: DataFrame,
    value_col: str,
    window_buckets: int,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    k_num: int = 44478,
    k_den: int = 10000,
    quant: int = 1000,
) -> DataFrame:
    """Hampel filter: ROLLING robust outlier detection — per series, a
    centered window of ``window_buckets`` observations yields a rolling
    low-median and rolling MAD, and the point is an outlier when

        k_den * |x - med| > k_num * MAD

    (default k_num/k_den = 44478/10000 = 3 x 1.4826, the classic
    "3 sigma" with the Gaussian MAD-to-sigma factor, carried as an
    exact rational so the comparison is pure int64). This is the
    despike pass run before gap-fill/decompose on ops series: unlike
    the global ``mad_outliers`` it adapts to level shifts — a value
    normal for January but absurd for one quiet Sunday hour flags.

    Median convention: LOW median (1-based rank (n+1) div 2 of the
    sorted window), the module's standard rank pick — an actual data
    value, no interpolation, identical in any engine. Values are
    quantized to 1/``quant`` units (int64); every comparison is
    integer. Windows are over OBSERVED buckets (rows frame): gap-fill
    first if strict time adjacency matters (tier convention).

    Only FULL windows judge: the first/last ``window_buckets div 2``
    points of each series emit NULL med/mad/is_outlier rather than a
    verdict from a truncated window whose breakdown point collapses.

    Scale shape: ONE exchange on the series key, one window sort; the
    window materializes per row as a sorted int64 array of length
    ``window_buckets`` (map-side, O(w log w) per row, w is 25ish —
    no second shuffle, no self-join, memory bounded by w not series
    length). The two medians are array element picks on that array.

    Returns (by..., bucket_col, val_q, med_q, mad_q, is_outlier) with
    *_q in quantized units.
    """
    if window_buckets < 3 or window_buckets % 2 == 0:
        raise ValueError("window_buckets must be odd and >= 3")
    half = window_buckets // 2
    vq = (
        F.expr(f"cast(round({value_col} * {int(quant)}) as bigint)")
        if quant != 1
        else F.col(value_col).cast("long")
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(bucket_col))
        .rowsBetween(-half, half)
    )
    base = rolled.select(*by, bucket_col, vq.alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    arred = base.select(
        *by,
        bucket_col,
        "__v",
        F.sort_array(F.collect_list("__v").over(w)).alias("__w"),
    ).withColumn(
        "med_q",
        F.when(
            F.size("__w") == F.lit(int(window_buckets)),
            F.expr("element_at(__w, cast((size(__w) + 1) div 2 as int))"),
        ),
    )
    out = arred.withColumn(
        "mad_q",
        F.when(
            F.col("med_q").isNotNull(),
            F.expr(
                "element_at(array_sort(transform(__w,"
                " e -> abs(e - med_q))),"
                " cast((size(__w) + 1) div 2 as int))"
            ),
        ),
    )
    dev = F.abs(F.col("__v") - F.col("med_q"))
    return out.select(
        *by,
        bucket_col,
        F.col("__v").alias("val_q"),
        "med_q",
        "mad_q",
        F.when(
            F.col("mad_q").isNotNull(),
            (F.lit(int(k_den)) * dev > F.lit(int(k_num)) * F.col("mad_q"))
            .cast("int"),
        ).alias("is_outlier"),
    )


def forecast_backtest(
    rolled: DataFrame,
    value_col: str,
    season_lag: int,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Forecast-accuracy backtest, exact: per series, compare the
    SEASONAL-NAIVE predictor (x[t - season_lag]) against PERSISTENCE
    (x[t-1]) on their common support, reporting summed absolute
    errors and the MASE-style ratio — "is this series actually
    seasonal, or does last-value beat last-week?" is the gate that
    decides whether the seasonal_forecast/holt_winters path earns its
    keep on a series, per series, from data.

    Numerical contract: both error sums are exact int64 (integer tier
    values, positional lags over observed buckets — the module's
    dense-spine convention); mase_u = round(1e6 * seasonal_sum /
    naive_sum) is the ONE division. A series whose persistence errors
    sum to 0 (constant on the support) has no defined ratio -> NULL.
    mase_u < 1e6 means the seasonal forecaster wins.

    Scale shape: one exchange on the series key, one window sort
    emitting both lags, one map-side-combined aggregate. Nothing else.

    Returns (by..., n_eval, sae_seasonal, sae_naive, mase_u).
    """
    if season_lag < 2:
        raise ValueError("season_lag must be >= 2")
    v = F.col(value_col).cast("long")
    w = Window.partitionBy(*by).orderBy(F.col(bucket_col))
    lagged = rolled.select(
        *by,
        v.alias("__x"),
        F.lag(v, 1).over(w).alias("__p"),
        F.lag(v, int(season_lag)).over(w).alias("__s"),
    ).where(F.col("__p").isNotNull() & F.col("__s").isNotNull())
    agg = lagged.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(F.abs(F.col("__x") - F.col("__s"))).alias("sae_seasonal"),
        F.sum(F.abs(F.col("__x") - F.col("__p"))).alias("sae_naive"),
    )
    return agg.select(
        *by,
        "n_eval",
        "sae_seasonal",
        "sae_naive",
        F.when(
            F.col("sae_naive") > 0,
            F.round(
                F.col("sae_seasonal").cast("double")
                / F.col("sae_naive").cast("double")
                * F.lit(1e6),
                0,
            ).cast("long"),
        ).alias("mase_u"),
    )


def shape_exprs() -> dict[str, str]:
    """Skewness / excess-kurtosis final expressions over exact integer
    moment columns (n, s1..s4), shared text for Spark and any oracle.
    The central-moment algebra is pre-multiplied so each statistic is
    ONE division of exact integers:

        A2 = n*s2 - s1^2            (n^2 * variance numerator)
        A3 = n^2*s3 - 3n*s1*s2 + 2*s1^3
        A4 = n^3*s4 - 4n^2*s1*s3 + 6n*s1^2*s2 - 3*s1^4
        skew = A3 / A2^(3/2)        kurt_excess = n*A4 / A2^2 - 3

    x^(3/2) is written x*sqrt(x) — one sqrt, no pow()."""
    a2 = "(n*s2 - s1*s1)"
    a3 = "(n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1)"
    a4 = "(n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 - 3*s1*s1*s1*s1)"
    a2d = f"cast({a2} as double)"
    return {
        "skew": f"cast({a3} as double) / ({a2d} * sqrt({a2d}))",
        "kurt": (
            f"cast(n as double) * cast({a4} as double)"
            f" / ({a2d} * {a2d}) - 3.0"
        ),
    }


def rolling_shape(
    rolled: DataFrame,
    value_col: str,
    window_secs: int,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
    min_points: int = 8,
) -> DataFrame:
    """Rolling distribution SHAPE per series: skewness and excess
    kurtosis over a trailing event-time window — the two moments that
    move FIRST when a latency or traffic distribution grows a tail,
    long before mean/stddev dashboards notice. A kurtosis step on a
    stable mean is the classic "rare huge values appeared" signature.

    Numerics: values cast to int64, the four power sums carried in
    decimal(38,0) over a RANGE frame (gaps count as absent), and both
    statistics are single divisions of exact integer combinations
    (see shape_exprs — shared text, so any engine replays the same
    doubles). NULL when the window has < min_points rows or zero
    variance.

    Scale shape: ONE exchange on the series key, one window sort, four
    running sums in the same frame — identical cost class as
    stddev_over_time, no extra pass for the higher moments.

    Returns (by..., bucket_col, n_win, skew, kurt).
    """
    w = (
        Window.partitionBy(*by)
        .orderBy(F.unix_timestamp(F.col(bucket_col).cast("timestamp")))
        .rangeBetween(-(int(window_secs) - 1), 0)
    )

    v = F.col(value_col).cast("long").cast("decimal(38,0)")
    base = rolled.select(
        *by,
        bucket_col,
        F.count(F.lit(1)).over(w).cast("decimal(38,0)").alias("n"),
        F.sum(v).over(w).alias("s1"),
        F.sum(v * v).over(w).alias("s2"),
        F.sum(v * v * v).over(w).alias("s3"),
        F.sum(v * v * v * v).over(w).alias("s4"),
    )
    ex = shape_exprs()
    guard = (F.col("n") >= F.lit(int(min_points))) & (
        F.expr("n*s2 - s1*s1") > F.lit(0)
    )
    return base.select(
        *by,
        bucket_col,
        F.col("n").cast("long").alias("n_win"),
        F.when(guard, F.expr(ex["skew"])).alias("skew"),
        F.when(guard, F.expr(ex["kurt"])).alias("kurt"),
    )


def burstiness(
    events: DataFrame,
    by: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    min_gaps: int = 4,
) -> DataFrame:
    """Goh-Barabasi burstiness of the inter-event gap distribution,
    per series: B = (sigma - mu) / (sigma + mu) over the gaps —
    B -> -1 metronome-regular, B ~ 0 Poisson, B -> 1 heavy-tailed
    bursts. The single number that says whether a conversation's
    activity is clockwork or avalanches, and therefore whether
    rate-based alerting on it means anything.

    Numerics: gaps in exact integer microseconds; n, sum(g), sum(g^2)
    carried in decimal(38,0) (a 30-day span in us squares to ~1e25,
    past int64); sigma uses the POPULATION form sqrt((n*S2 - S1^2))
    / n, and B is algebraically reduced so the ONE division is
    (sqrt(n*S2 - S1^2) - S1) / (sqrt(n*S2 - S1^2) + S1) — exact
    integer operands into two sqrt/sub/add, then one divide:
    engine-identical.

    Scale shape: one exchange on the series key, one lag, one
    map-combined aggregate. Returns (by..., n_gaps, mean_us, b_u);
    b_u is NULL when every gap is zero (B would be 0/0).
    """
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(*by).orderBy(t)
    g = (t - F.lag(t).over(w)).alias("__g")
    base = events.select(*by, g).where(F.col("__g").isNotNull())

    def d(c):
        return c.cast("decimal(38,0)")

    agg = base.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(d(F.col("__g"))).alias("s1"),
        F.sum(d(F.col("__g")) * d(F.col("__g"))).alias("s2"),
    )
    n, s1, s2 = (
        d(F.col("n_gaps")),
        F.col("s1"),
        F.col("s2"),
    )
    # sqrt(n*S2 - S1^2) = n*sigma; B = (n*sigma - S1)/(n*sigma + S1).
    # All gaps zero (every event at one timestamp) is 0/0, which ANSI
    # mode raises and non-ANSI turns into NaN: emit NULL instead
    root = F.sqrt((n * s2 - s1 * s1).cast("double"))
    b = F.when(
        s1 > 0, (root - s1.cast("double")) / (root + s1.cast("double"))
    )
    return agg.where(F.col("n_gaps") >= F.lit(int(min_gaps))).select(
        *by,
        F.col("n_gaps").cast("long").alias("n_gaps"),
        F.expr("cast(s1 as double) / n_gaps").alias("mean_us"),
        F.round(b * 1e6, 0).cast("long").alias("b_u"),
    )
