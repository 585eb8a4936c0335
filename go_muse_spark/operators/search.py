"""L4 — muse similarity search as a Spark-first grouped operator.

Reference capability (muse.go / muse_batch.go): given one reference series
and a table of labeled equal-length series, z-normalize everything,
cross-correlate via FFT, keep the best (largest-|score|) lag per series,
reduce to the best series per group key, then apply maxLag / threshold /
sign post-filters and a global top-K by |score|.

Input is long-form tier rows (series, bucket_ts, value), scattered into
zero-filled equal-length series inside the scoring task. _score_tasks is
the one scoring core under score_rollup, muse_search_rollup and
muse_search_multi.

Spark shape (SURVEY.md §3, §4):
  * the prepared reference spectrum (numpy complex128) is computed once on
    the driver and carried in the scoring task's closure — the
    reference's "precompute ref FFT once" optimization (muse.go:39); the
    pickled command reaches every task anyway, so no broadcast file is
    left behind per search;
  * scoring is a pandas UDF over a hash exchange on the series key, one
    task per core: one 2-D rfft per flush scores a whole matrix of
    candidates — a vectorization the reference lacks;
  * the exchanged tier is kept for repeat searches, as go-muse builds its
    Group once and runs Batch.Run against it per reference: the first
    search of a DataFrame records its search shape (tier, series, value
    and bucket columns, bounds or bounds=None, partitions, group key)
    and runs the one-shot plan; the second with the same shape keeps
    the exchanged, sorted rows as a local checkpoint (filled by that
    search's own scoring job), and every later one scores them in ONE
    job with no scan, exchange or sort (nor a series_bounds job: with
    bounds=None the bounds the second search found are kept with its
    rows). Params and references are not part of the shape; a Column
    group key matches only the same Column object. A new shape drops
    the kept tier (Spark frees its blocks once no result built on it is
    left), and the entry goes when the DataFrame is garbage-collected.
    A repeated search therefore sees the rows, and bounds, as of the
    DataFrame's second search: re-read the tier after an ingest (a
    catalog or Iceberg DataFrame would otherwise see each new
    snapshot), and after losing an executor, whose local checkpoint
    blocks go with it;
  * per-series search (no group_by, group.go:84-89) needs no merge: each
    series is scored once, in one task, and is its own group. The task
    applies maxLag/threshold/sign and keeps a running top-K in top_k's
    total order, so the plan is ONE exchange, ONE scoring stage and a
    TakeOrderedAndProject over at most tasks x K rows;
  * grouped search is a two-level reduce: local argmax inside each task,
    then a tiny relational min_by merge — mirroring the reference's
    per-group max -> global heap (muse.go:86-90). Each series is its own
    hash key, so a hot group (millions of members) still spreads across
    every task;
  * maxLag/threshold/sign are a post-filter on the best lag, NOT a search
    window (results.go:46-52 — preserved deliberately), and top-K is
    orderBy(|score| desc).limit(K), which Spark executes as
    TakeOrderedAndProject: a bounded per-partition heap + merge, exactly
    the reference's Results heap (results.go:62-68) distributed.
"""

from __future__ import annotations

import datetime as dt
import threading
import weakref
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from go_muse_spark import kernels as K
from go_muse_spark.labels import label_id_cols
from go_muse_spark.operators.compress import complete_series_runs
from go_muse_spark.operators.rollup import _q

__all__ = [
    "SearchParams",
    "muse_search_rollup",
    "score_rollup",
    "series_bounds",
    "apply_result_filters",
    "top_k",
    "IncrementalResults",
    "muse_search_multi",
    "adaptive_flush_rows",
]

SIGN_ANY, SIGN_POS, SIGN_NEG = "any", "pos", "neg"

_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)

# scoring-task output schemas, as types: a DDL string would be parsed
# by the JVM on every search
_SCORED = StructType(
    [
        StructField("group_key", StringType()),
        StructField("series_key", StringType()),
        StructField("lag", LongType()),
        StructField("score", DoubleType()),
    ]
)
_SCORED_MULTI = StructType([StructField("ref_key", StringType()), *_SCORED.fields])


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


def series_bounds(rolled: DataFrame, tier_secs: int, bucket_col: str = "bucket_ts"):
    """Global [lo, hi] bucket range and aligned series length n (one tiny
    agg). Empty input -> (None, None, 0): the reference's empty-batch
    early-exit (muse.go:47-50) — callers return an empty result.

    The agg returns integer micros, and lo/hi come back as UTC-aware
    datetimes: collect() would give naive local datetimes, whose
    difference is an hour off across a DST change, and a naive bound
    passed back as `bounds` converts through mktime, which picks one
    side of an ambiguous fall-back hour."""
    b = _q(bucket_col)
    row = rolled.selectExpr(
        f"unix_micros(min({b})) AS lo", f"unix_micros(max({b})) AS hi"
    ).collect()[0]
    lo_us, hi_us = row["lo"], row["hi"]
    if lo_us is None:
        return None, None, 0
    n = (hi_us - lo_us) // (int(tier_secs) * 1_000_000) + 1
    lo, hi = (_EPOCH + dt.timedelta(microseconds=us) for us in (lo_us, hi_us))
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

    Implementation: _score_tasks with one reference and no ref_key
    column, the one scoring core every muse search shares, so a
    tie-break or determinism fix lands in every search at once.

    Searched again with the same shape, `rolled` is scored from its kept
    exchanged tier (module docstring): the rows as of its second
    search, so re-read the tier after an ingest.
    """
    scored = _score_tasks(
        rolled, {"": ref_values}, tier_secs, group_by, mode, series_cols,
        value_col, bucket_col, bounds, ref_key=False,
    )
    if _per_series(group_by):
        return scored
    return _merge_best(scored, "group_key")


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
    """Batch.Run equivalent over long-form rollup rows (the scale path).

    Per-series search filters and keeps its top-K inside each scoring
    task, so the plan is one exchange, one scoring stage and top_k over
    at most tasks x top_n rows; grouped search merges groups across
    tasks first, then filters.

    Repeat searches of one `rolled` (a fresh reference each, the same
    tier, columns, bounds and group_by; a Column group_by only as the
    same object) score its kept exchanged tier: from the third on, a
    per-series search is one Spark job. They see the rows, and with
    bounds=None the bounds, as of the second search, so re-read the
    tier after an ingest, or after an executor is lost on a cluster."""
    p = params or SearchParams()
    if _per_series(group_by):
        passed = _score_tasks(
            rolled, {"": ref_values}, tier_secs, None, p.mode, series_cols,
            value_col, "bucket_ts", bounds, keep=p, ref_key=False,
        )
    else:
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
    reference's size-K min-heap. group_key tie-break for determinism.
    Columns are taken as scored[...], one py4j round trip each, not
    F.col, which costs over ten with its call-site capture."""
    return scored.orderBy(
        F.abs(scored["score"]).desc(), scored["group_key"]
    ).limit(int(k))


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


def _per_series(group_by) -> bool:
    """group_by None/[] => every series its own group (group.go:84-89).
    Column.__bool__ raises, so the isinstance test must come first."""
    return not isinstance(group_by, Column) and not group_by


def _keep_top(held, g, s, lags, scores, p: SearchParams):
    """Fold one flush into a reference's running top-K: Results.passed
    (apply_result_filters' predicates), then the first p.top_n rows in
    top_k's total order, |score| descending, then group_key. `held` is
    the previous (g, s, lags, scores) or None."""
    ok = np.ones(scores.size, dtype=bool)
    if p.max_lag is not None:
        ok &= np.abs(lags) <= int(p.max_lag)
    if p.threshold:
        ok &= np.abs(scores) >= float(p.threshold)
    if p.sign == SIGN_POS:
        ok &= scores >= 0
    elif p.sign == SIGN_NEG:
        ok &= scores < 0
    cand = (g[ok], s[ok], lags[ok], scores[ok])
    if held is not None:
        cand = tuple(np.concatenate(pair) for pair in zip(held, cand))
    order = np.lexsort((cand[0], -np.abs(cand[3])))[: int(p.top_n)]
    return tuple(c[order] for c in cand)


def _score_tasks(
    rolled: DataFrame,
    refs: "dict[str, np.ndarray]",
    tier_secs: int,
    group_by,
    mode: str,
    series_cols: tuple[str, ...],
    value_col: str,
    bucket_col: str,
    bounds,
    keep: SearchParams | None = None,
    ref_key: bool = True,
) -> DataFrame:
    """The scoring stage every rollup search shares: the rows inside
    [lo, hi] go through ONE hash exchange on the series key into one
    task per core, sorted by (series, bucket); each task scatters whole
    series into a dense zero-initialized flush matrix and scores it with
    one batched rfft per flush.

    Each task emits, per reference and flush, the best series of every
    group present in the flush (grouped; _merge_best finishes across
    tasks) or every series (per-series: a series is scored once, in one
    task, and is its own group, so its row is already final).

    keep (per-series only): the task applies keep's result filters and
    emits, per reference, only its running top keep.top_n rows in
    top_k's total order. A global top-K row is then always in its task's
    top-K, and task memory stays O(flush + refs x K).

    ref_key=False leaves the ref_key column out (single-reference
    callers)."""
    spark = rolled.sparkSession
    if not refs:
        raise ValueError("need at least one reference")
    tier_secs = int(tier_secs)
    per_series = _per_series(group_by)
    if keep is not None and not per_series:
        raise ValueError("in-task top-K needs per-series search")
    # One scoring task per core: each series is its own hash key, so more
    # partitions never split a hot group or a long series, they only add
    # per-task Python overhead (a task's Python memory is O(flush + series)).
    n_part = spark.sparkContext.defaultParallelism
    # group_by: a list of first-class label columns => canonical
    # "k:v,..." key via label_id_cols; a prebuilt Column (e.g.
    # labels.label_id_map over a map<string,string> dims column for the
    # reference's dynamic label subsets, group.go:76-104) is used as the
    # group key verbatim. In the shape it is the Column object itself:
    # two Columns can print alike (two UDFs of one name over one column).
    if per_series:
        group_shape = None
    elif isinstance(group_by, Column):
        group_shape = _SameColumn(group_by)
    else:
        group_shape = tuple(group_by)
    shape = (
        tier_secs, tuple(series_cols), value_col, bucket_col, n_part,
        group_shape, None if bounds is None else _span(bounds, tier_secs),
    )
    kept = _kept_entry(rolled)
    tier, span = _kept_hit(kept, shape)
    if tier is None:
        span = shape[-1] or _span(
            series_bounds(rolled, tier_secs, bucket_col), tier_secs
        )
    lo_us, hi_us, n = span
    out_schema = _SCORED_MULTI if ref_key else _SCORED
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
    # the spectra ride in the task closure: the pickled command reaches
    # every task anyway, and a per-call sc.broadcast would leave one file
    # in the SparkContext temp dir per search until the session stops
    nfft, rn = specs[0].n, specs[0].ref_n
    xs = np.stack([sp.x_spec for sp in specs])
    signed = mode == "signed"
    lo_s = lo_us // 1_000_000

    def exchanged() -> DataFrame:
        # SQL text, not a chain of F.* Columns: each Column call is a
        # py4j round trip and plan building dominated the short
        # per-series op.
        b = _q(bucket_col)
        proj = [
            f"concat_ws('|', {', '.join(map(_q, series_cols))}) AS __sk",
            f"CAST((unix_timestamp({b}) - {lo_s}) / {tier_secs} AS BIGINT) AS __idx",
            f"CAST({_q(value_col)} AS DOUBLE) AS __val",
        ]
        inside = rolled.where(
            f"{b} >= timestamp_micros({lo_us}) AND {b} <= timestamp_micros({hi_us})"
        )
        if per_series:
            keyed = inside.selectExpr(*proj)
        else:
            gk = group_by if isinstance(group_by, Column) else label_id_cols(group_by)
            keyed = inside.select(gk.alias("group_key"), *map(F.expr, proj))
        # keyed[...] column refs, not names: see top_k
        spread = keyed.repartition(n_part, keyed["__sk"])
        return spread.sortWithinPartitions(spread["__sk"], spread["__idx"])

    def frame(r, g, s, lags, scores):
        cols = {"ref_key": names[r]} if ref_key else {}
        cols.update(group_key=g, series_key=s, lag=lags, score=scores)
        return pd.DataFrame(cols)

    def score_partition(batches):
        rows = adaptive_flush_rows(nfft)
        y = np.zeros((rows, rn), dtype=np.float64)
        gks: list = []
        sks: list = []
        held = [None] * len(names)

        def flush():
            m = len(sks)
            y_spec, ok = K.batch_y_spec(y[:m], nfft, rn)
            s = np.array(sks)
            g = s if per_series else np.array(gks)
            y[:m] = 0.0
            gks.clear()
            sks.clear()
            outs = []
            for r, x in enumerate(xs):
                lags, sc = K.xcorr_from_spec(x, y_spec, ok, nfft)
                sc = K.clamp_signed(sc) if signed else K.clamp_abs(sc)
                if keep is not None:
                    held[r] = _keep_top(held[r], g, s, lags, sc, keep)
                    continue
                pick = slice(None) if per_series else _best_per_group(g, s, sc)
                outs.append(frame(r, g[pick], s[pick], lags[pick], sc[pick]))
            return outs

        for pdf in complete_series_runs(batches, "__sk"):
            run_sk = pdf["__sk"].to_numpy()
            run_gk = run_sk if per_series else pdf["group_key"].to_numpy()
            idxs = pdf["__idx"].to_numpy(dtype=np.int64)
            vals = pdf["__val"].to_numpy(dtype=np.float64)
            change = np.flatnonzero(run_sk[1:] != run_sk[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(run_sk)]))
            for s_, e_ in zip(starts, ends):
                y[len(sks), idxs[s_:e_]] = vals[s_:e_]
                gks.append(run_gk[s_])
                sks.append(run_sk[s_])
                if len(sks) == rows:
                    outs = flush()
                    if outs:
                        yield pd.concat(outs, ignore_index=True)
        outs = flush() if sks else []
        if keep is not None:
            outs = [frame(r, *h) for r, h in enumerate(held) if h is not None]
        if outs:
            yield pd.concat(outs, ignore_index=True)

    if tier is None:
        tier = _kept_tier(kept, shape, span, exchanged)
    return tier.mapInPandas(score_partition, out_schema)


def _span(bounds, tier_secs: int):
    """(lo_us, hi_us, n) of search bounds (lo, hi, n). The bounds become
    micros literals so they convert exactly as F.lit(lo) does; hi is
    capped at the last second of the n-bucket span, so no row can
    scatter outside the matrix (a row before lo would wrap to the
    series' end, one after it would raise IndexError)."""
    lo, hi, n = bounds
    if n == 0:
        return None, None, 0
    lo_us = TimestampType().toInternal(lo)
    hi_us = min(
        TimestampType().toInternal(hi),
        (lo_us // 1_000_000 + n * tier_secs) * 1_000_000 - 1,
    )
    return lo_us, hi_us, n


class _SameColumn:
    """A Column group key in a search shape: equal only to a wrapper of
    the same Column object (Column's own == builds a Column)."""

    __slots__ = ("col",)

    def __init__(self, col: Column) -> None:
        self.col = col

    def __eq__(self, other) -> bool:
        return isinstance(other, _SameColumn) and other.col is self.col


class _Kept:
    """What the scoring core keeps of one searched DataFrame: the shape
    of its latest search and, from that shape's second search on, its
    exchanged and sorted rows as a local checkpoint with the
    (lo_us, hi_us, n) span they were built for."""

    __slots__ = ("shape", "frame", "span")

    def __init__(self) -> None:
        self.shape = None
        self.frame: DataFrame | None = None
        self.span = None


# Searched DataFrames -> _Kept. Weak keys: an entry, and with it the
# last reference to its checkpoint, goes when its DataFrame does. The
# values never refer back to the key. The lock guards every entry.
_KEPT: "weakref.WeakKeyDictionary[DataFrame, _Kept]" = weakref.WeakKeyDictionary()
_KEPT_LOCK = threading.Lock()


def _kept_entry(rolled: DataFrame) -> _Kept:
    with _KEPT_LOCK:
        kept = _KEPT.get(rolled)
        if kept is None:
            kept = _KEPT[rolled] = _Kept()
        return kept


def _kept_hit(kept: _Kept, shape: tuple):
    """(checkpoint, span) if a search of this shape has kept its tier,
    else (None, None). The span is read with the checkpoint, so a search
    with bounds=None scores the rows and bounds of the one search that
    kept them, and runs no series_bounds job."""
    with _KEPT_LOCK:
        if kept.shape == shape and kept.frame is not None:
            return kept.frame, kept.span
    return None, None


def _kept_tier(kept: _Kept, shape: tuple, span: tuple, exchanged) -> DataFrame:
    """The exchanged, sorted rows a search with no kept tier scores. The
    first search of a shape records it and scores exchanged() as a
    one-shot search would; the second keeps exchanged() as a local
    checkpoint and scores that.

    A new shape drops the old checkpoint without unpersisting it: a
    result built on it may still be collected, and Spark's
    ContextCleaner frees the blocks once nothing refers to them. Two
    threads that both make a shape's second search each build a
    checkpoint; the first one stored is kept."""
    with _KEPT_LOCK:
        if kept.shape == shape and kept.frame is not None and kept.span == span:
            return kept.frame
        seen = kept.shape == shape
        if not seen:
            kept.shape, kept.frame, kept.span = shape, None, None
    if not seen:
        return exchanged()
    # not eager: the search's own scoring job fills the checkpoint, so
    # the building search runs no separate job to count its rows
    tier = exchanged().localCheckpoint(eager=False)
    with _KEPT_LOCK:
        if kept.shape == shape and kept.frame is None:
            kept.frame, kept.span = tier, span
    return tier


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
    """k-pattern Batch.Run: MANY references scored against the corpus in
    ONE scan and exchange — the fleet-search shape the reference's
    one-ref-per-Batch API cannot express. Each flush computes the
    candidates' spectrum once (kernels.batch_y_spec) and finishes one
    multiply+irfft per reference carried in the task.

    refs: {ref_key: values}; every reference must match the aligned
    series length, and zero-variance references raise (muse.go:33-42).
    Filters and top-K follow Results semantics independently per
    ref_key (top_k's rank/tie rules, partitioned by reference).
    Per-series search keeps each reference's top-K inside the scoring
    tasks, as muse_search_rollup does; grouped search first merges each
    reference's groups across tasks (_merge_best). Repeat searches of
    one `rolled` score its kept exchanged tier, as muse_search_rollup's
    do, and see its rows as of the second search."""
    from pyspark.sql import Window

    p = params or SearchParams()
    if _per_series(group_by):
        passed = _score_tasks(
            rolled, refs, tier_secs, None, p.mode, series_cols, value_col,
            "bucket_ts", bounds, keep=p,
        )
    else:
        scored = _merge_best(
            _score_tasks(
                rolled, refs, tier_secs, group_by, p.mode, series_cols,
                value_col, "bucket_ts", bounds,
            ),
            "ref_key", "group_key",
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
