"""L4 — muse similarity search as a Spark-first grouped operator.

Reference capability (muse.go / muse_batch.go): given one reference series
and a table of labeled equal-length series, z-normalize everything,
cross-correlate via FFT, keep the best (largest-|score|) lag per series,
reduce to the best series per group key, then apply maxLag / threshold /
sign post-filters and a global top-K by |score|.

Spark shape (SURVEY.md §3, §4):
  * the prepared reference spectrum (numpy complex128) is computed once on
    the driver and broadcast — the reference's "precompute ref FFT once"
    optimization (muse.go:39) done the cluster way;
  * scoring is a pandas UDF over a hash exchange on the series key, one
    task per core: one 2-D rfft per flush scores a whole matrix of
    candidates — a vectorization the reference lacks;
  * per-group best-of is a two-level reduce: local argmax inside each
    task, then a tiny relational min_by merge — mirroring the reference's
    per-group max -> global heap (muse.go:86-90). Each series is its own
    hash key, so a hot group (millions of members) still spreads across
    every task;
  * maxLag/threshold/sign are a post-filter, NOT a search window
    (results.go:46-52 — preserved deliberately), and top-K is
    orderBy(|score| desc).limit(K), which Spark executes as
    TakeOrderedAndProject: a bounded per-partition heap + merge, exactly
    the reference's Results heap (results.go:62-68) distributed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from go_muse_spark import kernels as K
from go_muse_spark.labels import label_id_cols
from go_muse_spark.operators.compress import complete_series_runs

__all__ = [
    "SearchParams",
    "muse_search",
    "muse_search_rollup",
    "score_series",
    "score_rollup",
    "series_bounds",
    "apply_result_filters",
    "top_k",
    "mean_abs_score",
    "IncrementalResults",
    "score_rollup_multi",
    "muse_search_multi",
    "adaptive_flush_rows",
]

SIGN_ANY, SIGN_POS, SIGN_NEG = "any", "pos", "neg"


@dataclass
class SearchParams:
    """Knobs of the reference's NewResults + score mode (results.go:29-43).

    mode="abs"    -> Batch.Run semantics: score = |cc| clamped <=1
                     (muse_batch.go:74-77).
    mode="signed" -> Muse.Run semantics: signed cc clamped to [-1,1]
                     (muse.go:73-76).
    max_lag None  -> no lag filter.
    """

    top_n: int = 20
    max_lag: int | None = 10
    threshold: float = 0.0
    sign: str = SIGN_ANY
    mode: str = "abs"


def _best_per_group(gk: np.ndarray, sk: np.ndarray, scores: np.ndarray):
    """Row indices of each group's best scored series within one batch:
    order by (-|score|, series_key) and keep each group's first row —
    exact ties resolve to the lowest series_key, matching _merge_best."""
    order = np.lexsort((sk, -np.abs(scores)))
    return order[~pd.Series(gk[order]).duplicated().to_numpy()]


def _merge_best(local_best: DataFrame, *keys: str) -> DataFrame:
    """Second-level reduce of the per-batch winners: the best row per
    `keys`. Exact ties go to the LOWEST series_key for determinism (the
    reference's is map order, i.e. unspecified): min_by over the struct
    (-|score|, series_key)."""
    return (
        local_best.withColumn("_abs", F.abs("score"))
        .groupBy(*keys)
        .agg(
            F.expr(
                "min_by(struct(series_key, lag, score), struct(-_abs, series_key))"
            ).alias("best")
        )
        .select(
            *keys,
            F.col("best.series_key").alias("series_key"),
            F.col("best.lag").alias("lag"),
            F.col("best.score").alias("score"),
        )
    )


def score_series(
    df: DataFrame,
    ref_values: np.ndarray,
    group_by: "list[str] | Column | None",
    mode: str = "abs",
    series_key: str = "conv_id",
    values_col: str = "values",
) -> DataFrame:
    """Score every series and reduce to the best per group.

    df must carry `series_key` (string identity), `values_col`
    (array<double>, all equal length == len(ref_values) — the reference's
    group.go:45-51 invariant, enforced inside the kernel), and any label
    columns named in group_by.

    group_by=None/[] reproduces indexLabelValues' "no labels => every
    series its own group" (group.go:84-89).

    Returns (group_key, series_key, lag, score) — one row per group.
    """
    spark = df.sparkSession
    spec = K.prepare_ref(np.asarray(ref_values, dtype=np.float64))
    bc = spark.sparkContext.broadcast((spec.x_spec, spec.n, spec.ref_n))
    signed = mode == "signed"

    # mirror score_rollup_multi: a prebuilt Column (e.g. label_id_map
    # over map-typed dims) is the group key verbatim; Column.__bool__
    # raises, so the isinstance test must come first
    if isinstance(group_by, Column):
        keyed = df.withColumn("group_key", group_by)
    elif group_by:
        keyed = df.withColumn("group_key", label_id_cols(group_by))
    else:
        keyed = df.withColumn("group_key", F.col(series_key))

    out_schema = "group_key string, series_key string, lag long, score double"

    # Every input ROW is a complete series and the per-group reduce
    # (max by |score|) is associative+commutative, so scoring needs NO
    # exchange at all: mapInPandas scores each Arrow batch wherever the
    # data already lives and emits one partial best per group present in
    # the batch; the relational min_by merge below combines partials.
    # (The reference's two-level reduce, muse.go:86-90, as a map-side
    # combine — hot groups are a non-issue here, as on the long-form
    # rollup path, where each series is its own exchange key.)

    def score_batches(batches):
        x_spec, n, ref_n = bc.value
        local_spec = K.RefSpectrum(x_spec, n, ref_n)
        for pdf in batches:
            if not len(pdf):
                continue
            y = np.stack(pdf["__vals"].to_numpy())
            lags, scores = K.batch_xcorr(local_spec, y)
            scores = (
                K.clamp_signed(scores) if signed else K.clamp_abs(scores)
            )
            gk = pdf["group_key"].to_numpy()
            sk = pdf["__sk"].to_numpy()
            pick = _best_per_group(gk, sk, scores)
            yield pd.DataFrame(
                {
                    "group_key": gk[pick],
                    "series_key": sk[pick],
                    "lag": lags[pick],
                    "score": scores[pick],
                }
            )

    local_best = keyed.select(
        "group_key",
        F.col(series_key).alias("__sk"),
        F.col(values_col).alias("__vals"),
    ).mapInPandas(score_batches, out_schema)

    return _merge_best(local_best, "group_key")


def series_bounds(rolled: DataFrame, tier_secs: int, bucket_col: str = "bucket_ts"):
    """Global [lo, hi] bucket range and aligned series length n (one tiny
    agg). Empty input -> (None, None, 0): the reference's empty-batch
    early-exit (muse.go:47-50) — callers return an empty result."""
    row = rolled.agg(
        F.min(bucket_col).alias("lo"), F.max(bucket_col).alias("hi")
    ).collect()[0]
    lo, hi = row["lo"], row["hi"]
    if lo is None or hi is None:
        return None, None, 0
    n = int((hi - lo).total_seconds() // tier_secs) + 1
    return lo, hi, n


def score_rollup(
    rolled: DataFrame,
    ref_values: np.ndarray,
    tier_secs: int,
    group_by: "list[str] | Column | None" = None,
    mode: str = "abs",
    series_cols: tuple[str, ...] = ("conv_id",),
    value_col: str = "turn_cnt",
    bucket_col: str = "bucket_ts",
    bounds=None,
) -> DataFrame:
    """Score directly off long-form rollup rows — the scale path.

    Instead of materializing per-series arrays (spine explode + collect_list
    = two extra shuffles and a wide row), sparse (series, bucket_idx, value)
    rows flow straight into the grouped scoring UDF, which scatters them
    into a dense zero-initialized matrix (gap-fill "zero" implicit) and runs
    one batched rfft. Plan: scan -> partial agg (rollup upstream) ->
    ONE hash exchange on the series key into one task per core -> numpy.
    Equal length falls out of the shared global [lo, hi] range; since each
    series is its own hash key, a hot group spreads across every task.

    group_by names label columns; None => per-series (group.go:84-89).

    Implementation: the single-reference case of score_rollup_multi
    (one entry, ref_key dropped) — ONE copy of the tie-break-sensitive
    scoring machinery exists, so a determinism fix can never diverge
    the two paths (their bit-parity is test-asserted).
    """
    out = score_rollup_multi(
        rolled,
        {"": np.asarray(ref_values, dtype=np.float64)},
        tier_secs,
        group_by,
        mode,
        series_cols,
        value_col,
        bucket_col,
        bounds=bounds,
    )
    return out.drop("ref_key")

def muse_search_rollup(
    rolled: DataFrame,
    ref_values: np.ndarray,
    tier_secs: int,
    group_by: "list[str] | Column | None" = None,
    params: SearchParams | None = None,
    series_cols: tuple[str, ...] = ("conv_id",),
    value_col: str = "turn_cnt",
    bounds=None,
) -> DataFrame:
    """Batch.Run equivalent over long-form rollup rows (the scale path)."""
    p = params or SearchParams()
    scored = score_rollup(
        rolled, ref_values, tier_secs, group_by, p.mode,
        series_cols, value_col, bounds=bounds,
    )
    passed = apply_result_filters(scored, p.max_lag, p.threshold, p.sign)
    return top_k(passed, p.top_n)


def apply_result_filters(
    scored: DataFrame,
    max_lag: int | None = None,
    threshold: float = 0.0,
    sign: str = SIGN_ANY,
) -> DataFrame:
    """Results.passed (results.go:46-52): |lag|<=maxLag AND |score|>=thr
    AND sign matches. All three are post-filters on the best-lag result."""
    out = scored
    if max_lag is not None:
        out = out.filter(F.abs(F.col("lag")) <= F.lit(int(max_lag)))
    if threshold:
        out = out.filter(F.abs(F.col("score")) >= F.lit(float(threshold)))
    if sign == SIGN_POS:
        out = out.filter(F.col("score") >= 0)
    elif sign == SIGN_NEG:
        out = out.filter(F.col("score") < 0)
    return out


def top_k(scored: DataFrame, k: int) -> DataFrame:
    """Global top-K by |score| desc (Results heap, results.go:55-87).
    Spark executes orderBy+limit as TakeOrderedAndProject — a bounded
    per-partition heap + driver merge, the distributed twin of the
    reference's size-K min-heap. group_key tie-break for determinism."""
    return scored.orderBy(
        F.abs(F.col("score")).desc(), F.col("group_key")
    ).limit(int(k))


def mean_abs_score(scored: DataFrame) -> float:
    """Results.Fetch's mean |score| companion value (results.go:83-86)."""
    row = scored.agg(F.avg(F.abs(F.col("score"))).alias("m")).collect()[0]
    return float(row["m"]) if row["m"] is not None else 0.0


def muse_search(
    df: DataFrame,
    ref_values: np.ndarray,
    group_by: "list[str] | Column | None" = None,
    params: SearchParams | None = None,
    series_key: str = "conv_id",
    values_col: str = "values",
) -> DataFrame:
    """Full Batch.Run equivalent: score -> reduce -> filter -> top-K."""
    p = params or SearchParams()
    scored = score_series(
        df, ref_values, group_by, p.mode, series_key, values_col
    )
    passed = apply_result_filters(scored, p.max_lag, p.threshold, p.sign)
    return top_k(passed, p.top_n)


class IncrementalResults:
    """The reference's EP1 lifecycle: a persistent Results accumulator fed
    by successive candidate batches (muse.go:46-92, muse_test.go:67-69).

    Each ``update(df)`` scores one batch (any of the search entry points)
    and folds its rows into a bounded driver-side top-K — the distributed
    twin of the mutex-guarded score heap (results.go:55-72): per-batch
    reduction happens on the cluster (filters + orderBy/limit), and only
    <= top_n rows ever reach the driver per update. ``fetch()`` returns
    the final Scores, descending by |score|, plus mean |score|
    (results.go:75-87).
    """

    def __init__(self, params: SearchParams | None = None) -> None:
        self.params = params or SearchParams()
        self._rows: list = []

    def update(self, scored: DataFrame) -> "IncrementalResults":
        """Fold one batch of (group_key, series_key, lag, score) rows."""
        p = self.params
        passed = apply_result_filters(scored, p.max_lag, p.threshold, p.sign)
        batch = top_k(passed, p.top_n).collect()
        merged = self._rows + list(batch)
        merged.sort(key=lambda r: (-abs(r["score"]), r["group_key"]))
        self._rows = merged[: p.top_n]
        return self

    def fetch(self) -> tuple[list, float]:
        """(rows desc by |score|, mean |score|) — Results.Fetch."""
        if not self._rows:
            return [], 0.0
        mean = sum(abs(r["score"]) for r in self._rows) / len(self._rows)
        return list(self._rows), mean


def adaptive_flush_rows(nfft: int) -> int:
    """Flush width for the dense scoring scatter, adapted to FFT length.

    The flush's live set is ~6 arrays of rows x nfft doubles/complex
    (dense scatter, zero-pad, forward spectrum, product, irfft, |cc|);
    a fixed 256 rows is ~1 GB per Python worker at 64k-point series.
    Cap the dense set near 16 MB (64 rows at nfft 4096, 16 at 16384):
    with one scoring task per core every worker fills whole flushes, and
    wider ones only raise worker RSS. Very short series keep the full
    256-row batch; the floor of 8 keeps the batched rfft worthwhile at
    extreme lengths."""
    return min(256, max(8, (1 << 24) // (max(nfft, 1) * 64)))


def score_rollup_multi(
    rolled: DataFrame,
    refs: "dict[str, np.ndarray]",
    tier_secs: int,
    group_by: "list[str] | Column | None" = None,
    mode: str = "abs",
    series_cols: tuple[str, ...] = ("conv_id",),
    value_col: str = "turn_cnt",
    bucket_col: str = "bucket_ts",
    bounds=None,
) -> DataFrame:
    """Score MANY prepared references against the corpus in ONE scan —
    the fleet-search shape the reference's one-ref-per-Batch API cannot
    express (a k-pattern sweep there re-reads and re-FFTs the corpus k
    times). Same plan as score_rollup (one exchange on the series key,
    sparse scatter, batched rfft) with one change: each flush computes
    the candidates' spectrum ONCE (kernels.batch_y_spec) and finishes k
    cheap multiply+irfft passes against the broadcast reference spectra
    — corpus I/O, shuffle, z-norm and the forward FFT are all amortized
    across the whole pattern set.

    refs: {ref_key: values} — every reference must match the aligned
    series length; zero-variance references raise (muse.go:33-42).

    Returns (ref_key, group_key, series_key, lag, score): per ref, the
    best candidate per group.
    """
    spark = rolled.sparkSession
    if not refs:
        raise ValueError("need at least one reference")
    if bounds is None:
        lo, hi, n = series_bounds(rolled, tier_secs, bucket_col)
    else:
        lo, hi, n = bounds
    out_schema = (
        "ref_key string, group_key string, series_key string, "
        "lag long, score double"
    )
    if n == 0:
        return spark.createDataFrame([], out_schema)
    names, specs = [], []
    for name, vals in refs.items():
        arr = np.asarray(vals, dtype=np.float64)
        if arr.size != n:
            raise ValueError(
                f"reference {name!r} length {arr.size} != aligned "
                f"series length {n}"
            )
        names.append(name)
        specs.append(K.prepare_ref(arr))
    fft_n, ref_n = specs[0].n, specs[0].ref_n
    x_specs = np.stack([sp.x_spec for sp in specs])
    bc = spark.sparkContext.broadcast((names, x_specs, fft_n, ref_n))
    signed = mode == "signed"

    sk = F.concat_ws("|", *[F.col(c) for c in series_cols]).alias("__sk")
    idx = (
        (F.unix_timestamp(F.col(bucket_col)) - F.unix_timestamp(F.lit(lo)))
        / F.lit(int(tier_secs))
    ).cast("long").alias("__idx")
    val = F.col(value_col).cast("double").alias("__val")
    # group_by: None/[] => per-series (group.go:84-89); a list of
    # first-class label columns => canonical "k:v,..." key via
    # label_id_cols; a prebuilt Column (e.g. labels.label_id_map over a
    # map<string,string> dims column for the reference's dynamic label
    # subsets, group.go:76-104) is used as the group key verbatim.
    per_series = not isinstance(group_by, Column) and not group_by
    if per_series:
        keyed = rolled.select(sk, idx, val)
    else:
        gk = (
            group_by
            if isinstance(group_by, Column)
            else label_id_cols(group_by)
        )
        keyed = rolled.select(gk.alias("group_key"), sk, idx, val)
    # One scoring task per core: each series is its own hash key, so more
    # partitions never split a hot group or a long series, they only add
    # per-task Python overhead (a task's Python memory is O(flush + series)).
    n_part = spark.sparkContext.defaultParallelism

    def score_partition(batches):
        ref_names, xs, nfft, rn = bc.value
        batch_rows_eff = adaptive_flush_rows(nfft)
        y = np.zeros((batch_rows_eff, rn), dtype=np.float64)
        meta: list = []

        def flush():
            if not meta:
                return None
            y_spec, ok = K.batch_y_spec(y[: len(meta)], nfft, rn)
            g = np.array([m[0] for m in meta])
            s = np.array([m[1] for m in meta])
            outs = []
            for r, name in enumerate(ref_names):
                lags, scores = K.xcorr_from_spec(xs[r], y_spec, ok, nfft)
                sc = K.clamp_signed(scores) if signed else K.clamp_abs(scores)
                pick = _best_per_group(g, s, sc)
                outs.append(
                    pd.DataFrame(
                        {
                            "ref_key": name,
                            "group_key": g[pick],
                            "series_key": s[pick],
                            "lag": lags[pick],
                            "score": sc[pick],
                        }
                    )
                )
            y[: len(meta)] = 0.0
            meta.clear()
            return pd.concat(outs, ignore_index=True)

        for pdf in complete_series_runs(batches, "__sk"):
            sks = pdf["__sk"].to_numpy()
            gks = sks if per_series else pdf["group_key"].to_numpy()
            idxs = pdf["__idx"].to_numpy(dtype=np.int64)
            vals = pdf["__val"].to_numpy(dtype=np.float64)
            change = np.flatnonzero(sks[1:] != sks[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(sks)]))
            for s_, e_ in zip(starts, ends):
                row = len(meta)
                y[row, idxs[s_:e_]] = vals[s_:e_]
                meta.append((gks[s_], sks[s_]))
                if len(meta) == batch_rows_eff:
                    out = flush()
                    if out is not None:
                        yield out
        out = flush()
        if out is not None:
            yield out

    local_best = (
        keyed.repartition(n_part, "__sk")
        .sortWithinPartitions("__sk", "__idx")
        .mapInPandas(score_partition, out_schema)
    )
    return _merge_best(local_best, "ref_key", "group_key")


def muse_search_multi(
    rolled: DataFrame,
    refs: "dict[str, np.ndarray]",
    tier_secs: int,
    group_by: "list[str] | Column | None" = None,
    params: SearchParams | None = None,
    series_cols: tuple[str, ...] = ("conv_id",),
    value_col: str = "turn_cnt",
    bounds=None,
) -> DataFrame:
    """k-pattern Batch.Run: one corpus scan, per-reference filters and
    top-K (Results semantics applied independently per ref_key — the
    same rank/tie rules as top_k, partitioned by reference)."""
    from pyspark.sql import Window

    p = params or SearchParams()
    scored = score_rollup_multi(
        rolled, refs, tier_secs, group_by, p.mode,
        series_cols, value_col, bounds=bounds,
    )
    passed = apply_result_filters(scored, p.max_lag, p.threshold, p.sign)
    w = Window.partitionBy("ref_key").orderBy(
        F.abs(F.col("score")).desc(), F.col("group_key")
    )
    return (
        passed.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= p.top_n)
        .drop("__rk")
    )
