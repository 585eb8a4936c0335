"""M1/M2 — muse search engine parity on the reference's golden queries.

Reproduces, through the Spark operator (not the raw kernels), over
long-form hourly rows (one row per series and non-zero bucket):
  * TestBatchRunSimple (muse_batch_test.go:9-44): groupBy graph, abs mode;
  * TestBatchRunMultiDimensional (muse_batch_test.go:46-82): 2-dim labels,
    groupBy graph keeps the best host per graph;
  * TestRunSimple sign filters (muse_test.go:75-121): signed mode, POS/NEG;
  * no-groupBy => per-series groups (group.go:84-89);
  * maxLag post-filter semantics (results.go:46-52).
"""

import datetime as dt

import numpy as np

from go_muse_spark.operators.search import (
    SearchParams,
    apply_result_filters,
    muse_search_rollup,
    score_rollup,
    top_k,
)

REF = [0.0, 0, 0, 0, 1, 2, 3, 3, 2, 1, 0, 0]

SIMPLE = {
    "perfectMatch": [0.0, 0, 0, 0, 2, 4, 6, 6, 4, 2, 0, 0],
    "slightlyLower": [0.0, 0, 0, 0, 2, 4, 6, 4, 2, 0, 0, 0],
    "evenLower": [0.0, 0, 0, 2, 4, 2, 0, 0, 0, 0, 0, 0],
    "evenLowerShiftedAhead": [0.0, 0, 0, 0, 0, 0, 0, 0, 2, 3, 2, 0],
    "zeros": [3.0, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3],
}
# muse_batch_test.go:24-30 (abs mode)
SIMPLE_EXPECT = {
    "graph:perfectMatch": (0, 1.000),
    "graph:slightlyLower": (0, 0.929),
    "graph:evenLowerShiftedAhead": (-3, 0.754),
    "graph:evenLower": (2, 0.733),
    "graph:zeros": (0, 0.000),
}

T0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def long_form(spark, series, t0=T0, **labels):
    """{series_key: values} -> long-form hourly rows (conv_id, *labels,
    bucket_ts, turn_cnt) from t0, and their bounds (t0, t0+(n-1)h, n).
    Each label is a column: name=({series_key: value}). Zero values are
    dropped; the scoring scatter zero-fills them."""
    n = len(next(iter(series.values())))
    rows = [
        (sk, *(lab[sk] for lab in labels.values()),
         t0 + dt.timedelta(hours=b), float(v))
        for sk, vals in series.items()
        for b, v in enumerate(vals)
        if v
    ]
    cols = "".join(f"{c} string, " for c in labels)
    rolled = spark.createDataFrame(
        rows, f"conv_id string, {cols}bucket_ts timestamp, turn_cnt double"
    )
    return rolled, (t0, t0 + dt.timedelta(hours=n - 1), n)


def simple_rows(spark):
    return long_form(spark, SIMPLE, graph={k: k for k in SIMPLE})


def test_batch_run_simple(spark):
    rolled, bounds = simple_rows(spark)
    res = muse_search_rollup(
        rolled,
        np.array(REF),
        3600,
        group_by=["graph"],
        params=SearchParams(top_n=20, max_lag=10, threshold=0.0, mode="abs"),
        bounds=bounds,
    )
    got = {r["group_key"]: (r["lag"], r["score"]) for r in res.collect()}
    assert set(got) == set(SIMPLE_EXPECT)
    for key, (lag, score) in SIMPLE_EXPECT.items():
        assert got[key][0] == lag, key
        assert abs(got[key][1] - score) < 1e-3, key
    # descending |score| order out of top_k
    ordered = [r["group_key"] for r in res.collect()]
    assert ordered[0] == "graph:perfectMatch" and ordered[-1] == "graph:zeros"


def test_per_series_grouping_signed(spark):
    # group_by=None -> every series its own group; signed Muse.Run scores
    # (muse_test.go:55-61: evenLowerShiftedAhead is NEGATIVE -0.754 for the
    # sign-flipped variant)
    flipped = dict(SIMPLE)
    flipped["evenLowerShiftedAhead"] = [0.0, 0, 0, 0, 0, 0, 0, 0, -2, -3, -2, 0]
    rolled, bounds = long_form(spark, flipped)
    scored = score_rollup(rolled, np.array(REF), 3600, None, "signed", bounds=bounds)
    got = {r["group_key"]: (r["lag"], r["score"]) for r in scored.collect()}
    assert got["evenLowerShiftedAhead"][0] == -3
    assert abs(got["evenLowerShiftedAhead"][1] - (-0.754)) < 1e-3
    assert abs(got["perfectMatch"][1] - 1.0) < 1e-3

    # sign filters (muse_test.go:89-108): POS keeps 3 nonzero + zeros row
    pos = apply_result_filters(scored, 10, 0.0, "pos")
    keys = {r["group_key"] for r in pos.collect()}
    assert "evenLowerShiftedAhead" not in keys
    assert {"perfectMatch", "slightlyLower", "evenLower", "zeros"} == keys
    neg = apply_result_filters(scored, 10, 0.0, "neg")
    assert {r["group_key"] for r in neg.collect()} == {"evenLowerShiftedAhead"}
    # threshold drops the sigma=0 zero-score row (muse_test.go thresholds)
    thr = apply_result_filters(scored, 10, 0.5, "any")
    assert "zeros" not in {r["group_key"] for r in thr.collect()}


def test_multi_dimensional_group_best(spark):
    # muse_batch_test.go:46-82: groupBy graph, best host wins per graph
    ref = [0.0, 0.0, 0.0, 0.0, 0.1, 0.2, 0.3, 0.4]
    comp = [
        ("graph1", "host1", [0.0, 0.0, 0.0, 0.0, 0.1, 0.2, 0.3, 0.4]),
        ("graph1", "host2", [0.2, 0.1, 0.2, 0.1, 0.2, 0.1, 0.2, 0.1]),
        ("graph2", "host1", [0.0, 0.0, 0.0, 0.0, 0.2, 0.4, 0.4, 0.8]),
        ("graph3", "host1", [0.2, 0.1, 0.2, 0.1, 0.2, 0.1, 0.22, 0.1]),
        ("graph4", "host1", [0.0, 0.0, 0.0, 0.0, -0.2, -0.4, 0.0, -0.8]),
        ("graph5", "host1", [0.0, 0.0, 0.0, -0.2, -0.4, -0.6, 1.0, 0.0]),
    ]
    rolled, bounds = long_form(
        spark,
        {f"{g}|{h}": v for g, h, v in comp},
        graph={f"{g}|{h}": g for g, h, _ in comp},
        host={f"{g}|{h}": h for g, h, _ in comp},
    )
    res = muse_search_rollup(
        rolled,
        np.array(ref),
        3600,
        group_by=["graph"],
        params=SearchParams(top_n=20, max_lag=10, mode="abs"),
        bounds=bounds,
    )
    got = {r["group_key"]: r for r in res.collect()}
    expect = {
        "graph:graph1": ("host1", 0, 1.000),
        "graph:graph2": ("host1", 0, 0.976),
        "graph:graph4": ("host1", 0, 0.759),
        "graph:graph5": ("host1", 2, 0.719),
        "graph:graph3": ("host1", 1, 0.248),
    }
    assert set(got) == set(expect)
    for k, (host, lag, score) in expect.items():
        assert got[k]["series_key"].endswith(host), k
        assert got[k]["lag"] == lag, k
        assert abs(got[k]["score"] - score) < 1e-3, k
    # groupBy graph+host -> 6 distinct groups (group_test.go style)
    res2 = score_rollup(
        rolled, np.array(ref), 3600, ["graph", "host"], "abs", bounds=bounds
    )
    assert res2.count() == 6


def test_max_lag_is_post_filter(spark):
    # SURVEY.md §2c gotcha 1: argmax runs over ALL lags; if the best lag
    # falls outside maxLag the row is dropped, not re-searched.
    rolled, bounds = simple_rows(spark)
    scored = score_rollup(rolled, np.array(REF), 3600, ["graph"], bounds=bounds)
    res = apply_result_filters(scored, max_lag=1, threshold=0.0)
    keys = {r["group_key"] for r in res.collect()}
    # evenLowerShiftedAhead (lag -3) and evenLower (lag 2) must vanish
    assert keys == {"graph:perfectMatch", "graph:slightlyLower", "graph:zeros"}


def test_top_k_limit(spark):
    rolled, bounds = simple_rows(spark)
    scored = score_rollup(rolled, np.array(REF), 3600, ["graph"], bounds=bounds)
    res = top_k(scored, 2).collect()
    assert [r["group_key"] for r in res] == [
        "graph:perfectMatch",
        "graph:slightlyLower",
    ]


def test_rollup_partition_invariance(spark):
    """The rollup path's per-series exchange and two-level reduce give
    identical rows whatever the input partitioning and Arrow batch size:
    1 vs 16 input partitions x maxRecordsPerBatch 7 vs default, per series
    (all 46 series, and a top-10 below the series count) and grouped
    (duplicate series exercise the lowest-series_key tie)."""
    rng = np.random.default_rng(5)
    t0, n = dt.datetime(2025, 1, 1), 30
    ref = np.zeros(n)
    ref[8:13] = [1.0, 3.0, 5.0, 3.0, 1.0]
    rows = []
    for i in range(40):
        vals = rng.poisson(2.0, size=n) * (rng.random(n) < 0.6)
        if i == 0:  # an exact match: best of group g0, duplicated below
            vals = ref.astype(int)
        for sk in (f"s{i:02d}", f"s{i:02d}dup") if i % 8 == 0 else (f"s{i:02d}",):
            rows += [
                (sk, f"g{i % 5}", t0 + dt.timedelta(hours=b), int(v))
                for b, v in enumerate(vals) if v
            ]
    # pin the aligned span to exactly n buckets
    rows += [("s99", "g0", t0 + dt.timedelta(hours=h), 1) for h in (0, n - 1)]
    rolled = spark.createDataFrame(
        rows, "conv_id string, g string, bucket_ts timestamp, turn_cnt long"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default_batch = spark.conf.get(key)

    def run(group_by, n_part, batch, top_n):
        p = SearchParams(top_n=top_n, max_lag=None, mode="abs")
        spark.conf.set(key, batch)
        try:
            return sorted(
                (r["group_key"], r["series_key"], r["lag"], r["score"])
                for r in muse_search_rollup(
                    rolled.repartition(n_part), ref, 3600, group_by, p
                ).collect()
            )
        finally:
            spark.conf.set(key, default_batch)

    for group_by, top_n, n_rows in ((None, 100, 46), (None, 10, 10), (["g"], 100, 5)):
        base = run(group_by, 1, default_batch, top_n)
        assert len(base) == n_rows
        for n_part, batch in ((16, default_batch), (1, "7"), (16, "7")):
            got = run(group_by, n_part, batch, top_n)
            assert got == base, (group_by, top_n, n_part, batch)
    # grouped: the duplicate ties its original exactly; the lower key wins
    assert base[0][:3] == ("g:g0", "s00", 0) and abs(base[0][3] - 1.0) < 1e-9


def test_incremental_results_accumulator(spark):
    """EP1: successive batches against one Results accumulator
    (muse_test.go:67-69); later better scores displace earlier ones.
    fetch() also carries Results.Fetch's mean |score| (results.go:83-86)."""
    from go_muse_spark.operators.search import IncrementalResults

    ref = np.array([0, 0, 0, 0, 1, 2, 3, 3, 2, 1, 0, 0], dtype=float)
    batch1, bounds = long_form(
        spark, {"a": [0, 0, 0, 2, 4, 2, 0, 0, 0, 0, 0, 0], "b": [3.0] * 12}
    )
    batch2, bounds2 = long_form(
        spark,
        {"c": [0, 0, 0, 0, 2, 4, 6, 6, 4, 2, 0, 0],
         "d": [0, 0, 0, 0, 2, 4, 6, 4, 2, 0, 0, 0]},
    )
    assert bounds2 == bounds
    acc = IncrementalResults(SearchParams(top_n=3, max_lag=None, mode="abs"))
    for b in (batch1, batch2):
        acc.update(score_rollup(b, ref, 3600, bounds=bounds))
    rows, mean = acc.fetch()
    got = [(r["series_key"], round(r["score"], 3)) for r in rows]
    assert got == [("c", 1.0), ("d", 0.929), ("a", 0.733)]
    assert abs(mean - (1.0 + 0.929 + 0.733) / 3) < 1e-3


def test_empty_inputs_yield_empty_results(spark):
    """Reference empty-batch early-exit (muse.go:47-50): an empty table
    flows through the search as an empty result, no errors."""
    from go_muse_spark.operators.search import series_bounds

    ref = np.array([0, 0, 1, 2, 1, 0, 0, 0], dtype=float)
    empty_rollup = spark.createDataFrame(
        [], "conv_id string, bucket_ts timestamp, turn_cnt long"
    )
    assert series_bounds(empty_rollup, 3600) == (None, None, 0)
    assert (
        muse_search_rollup(empty_rollup, ref, 3600,
                           params=SearchParams(top_n=5)).count() == 0
    )

def test_series_bounds_ignores_driver_time_zone(spark, monkeypatch):
    """series_bounds takes n from integer micros and returns UTC-aware
    bounds: with the driver in a DST zone, an 8-hour hourly corpus
    across the spring-forward and the fall-back change still has n == 8,
    and the search gives the rows it gives with the driver in UTC."""
    import time

    from go_muse_spark.operators.search import series_bounds

    utc = dt.timezone.utc
    # 2025-03-09 07:00 and 2025-11-02 06:00 UTC are 02:00 local in New York
    starts = (dt.datetime(2025, 3, 9, 3, tzinfo=utc),
              dt.datetime(2025, 11, 2, 2, tzinfo=utc))
    series = {
        "a": [0, 0, 0, 1, 3, 3, 1, 0],
        "b": [0, 0, 1, 3, 3, 1, 0, 0],
        "c": [1, 2, 1, 2, 1, 3, 1, 2],
        "d": [2, 2, 2, 2, 2, 2, 2, 2],
    }
    p = SearchParams(top_n=4, max_lag=None, mode="abs")

    def run():
        out = []
        for t0 in starts:
            rolled, _ = long_form(spark, series, t0)
            lo, hi, n = series_bounds(rolled, 3600)
            ref = np.zeros(n)
            ref[3:7] = [1.0, 3.0, 3.0, 1.0]
            res = muse_search_rollup(rolled, ref, 3600, params=p)
            out.append((n, [tuple(r) for r in res.collect()]))
        return out

    want = run()
    try:
        monkeypatch.setenv("TZ", "America/New_York")
        time.tzset()
        got = run()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert [n for n, _ in want] == [8, 8]
    assert [n for n, _ in got] == [8, 8]
    assert got == want


def test_multi_ref_matches_single_ref_per_key(spark):
    """muse_search_multi with k refs, a top-K at least the series count
    and no lag filter, must reproduce k independent score_rollup runs
    bit-for-bit (same kernels, amortized rfft), and must apply top-K
    per reference."""
    import pytest

    from go_muse_spark.operators.search import muse_search_multi, series_bounds
    from go_muse_spark.operators.rollup import rollup_transcripts
    from go_muse_spark.sources.transcripts import generate_transcripts

    pdf = generate_transcripts(n_convs=25, seed=11, hot_turns=400).to_pandas()
    rolled = rollup_transcripts(spark.createDataFrame(pdf), "1h")
    lo, hi, n = series_bounds(rolled, 3600)
    refA = np.zeros(n); refA[n // 4 : n // 4 + 5] = [1, 3, 5, 3, 1]
    refB = np.zeros(n); refB[n // 2 : n // 2 + 4] = [2, -5, -5, 2]
    refs = {"A": refA, "B": refB}
    n_series = rolled.select("conv_id").distinct().count()
    every = SearchParams(top_n=n_series, max_lag=None, mode="abs")
    multi = muse_search_multi(
        rolled, refs, 3600, params=every, bounds=(lo, hi, n)
    ).collect()
    by_ref = {}
    for r in multi:
        by_ref.setdefault(r["ref_key"], {})[r["group_key"]] = (
            r["series_key"], r["lag"], r["score"],
        )
    for name, ref in refs.items():
        single = {
            r["group_key"]: (r["series_key"], r["lag"], r["score"])
            for r in score_rollup(
                rolled, ref, 3600, bounds=(lo, hi, n)
            ).collect()
        }
        assert len(single) == n_series
        assert by_ref[name] == single, name
    # per-ref top-K: k rows per reference, same membership as the
    # single-ref pipeline's top-K
    p = SearchParams(top_n=5, max_lag=n, threshold=0.0, mode="abs")
    topm = muse_search_multi(
        rolled, refs, 3600, params=p, bounds=(lo, hi, n)
    ).collect()
    cnt = {}
    for r in topm:
        cnt[r["ref_key"]] = cnt.get(r["ref_key"], 0) + 1
    assert cnt == {"A": 5, "B": 5}
    for name, ref in refs.items():
        want = {
            (r["group_key"], r["series_key"], r["lag"], r["score"])
            for r in muse_search_rollup(
                rolled, ref, 3600, params=p, bounds=(lo, hi, n)
            ).collect()
        }
        got = {
            (r["group_key"], r["series_key"], r["lag"], r["score"])
            for r in topm if r["ref_key"] == name
        }
        assert got == want, name
    # validation: wrong-length, zero-variance and missing refs raise
    for bad in ({"bad": np.ones(3)}, {"flat": np.zeros(n)}, {}):
        with pytest.raises(ValueError):
            muse_search_multi(rolled, bad, 3600, bounds=(lo, hi, n))


def _pushdown_corpus(spark):
    """Hourly long-form rows built for top-K edge cases: 20 random
    series, six identical copies of the reference burst (exact ties at
    |score| 1.0), four negated bursts (signed -1.0), and five constant
    series that cover every bucket (zero variance: lag 0, score 0.0)."""
    rng = np.random.default_rng(17)
    t0, n = dt.datetime(2025, 1, 1), 30
    ref = np.zeros(n)
    ref[8:13] = [1.0, 3.0, 5.0, 3.0, 1.0]
    series = {f"r{i:02d}": rng.poisson(2.0, n) * (rng.random(n) < 0.6) for i in range(20)}
    series.update({f"t{i}": ref.astype(int) for i in range(6)})
    series.update({f"n{i}": (5 - ref).astype(int) for i in range(4)})
    series.update({f"z{i}": np.full(n, 2) for i in range(5)})
    rows = [
        (sk, t0 + dt.timedelta(hours=b), int(v))
        for sk, vals in series.items()
        for b, v in enumerate(vals)
        if v
    ]
    rolled = spark.createDataFrame(
        rows, "conv_id string, bucket_ts timestamp, turn_cnt long"
    )
    return rolled, ref, (t0, t0 + dt.timedelta(hours=n - 1), n), len(series)


def test_per_series_topk_in_task_matches_two_level_plan(spark):
    """Per-series muse_search_rollup and muse_search_multi filter and
    keep top-K inside the scoring tasks; row for row (lag exact, score
    equal) they must equal the plan without in-task top-K: per-reference
    score_rollup, then apply_result_filters, then top_k. Cases cover
    K below the series count, exact ties at the K-th place split across
    tasks (six copies at 1.0, five zero-variance series at 0.0), every
    filter and signed mode, at 1 and 16 input partitions x Arrow batch 7
    and the default."""
    from go_muse_spark.operators.search import muse_search_multi

    rolled, ref, bounds, n_series = _pushdown_corpus(spark)
    refs = {"A": ref, "B": ref[::-1].copy()}
    cases = [
        SearchParams(top_n=8, max_lag=None, mode="abs"),
        SearchParams(top_n=3, max_lag=None, mode="abs"),  # cut in 1.0 ties
        # cut inside the five 0.0 scores (all other series score > 0)
        SearchParams(top_n=n_series - 3, max_lag=None, mode="abs"),
        SearchParams(top_n=12, max_lag=2, mode="abs"),
        SearchParams(top_n=12, max_lag=None, threshold=0.4, mode="abs"),
        SearchParams(top_n=12, max_lag=None, mode="signed"),
        SearchParams(top_n=12, max_lag=None, mode="signed", sign="pos"),
        SearchParams(top_n=12, max_lag=None, mode="signed", sign="neg"),
    ]

    def rows(df):
        return [
            (r["group_key"], r["series_key"], r["lag"], r["score"])
            for r in df.collect()
        ]

    def ranked(rs):
        return sorted(rs, key=lambda r: (-abs(r[3]), r[0]))

    want = {}
    for i, p in enumerate(cases):
        for name, one in refs.items():
            scored = score_rollup(rolled, one, 3600, None, p.mode, bounds=bounds)
            passed = apply_result_filters(scored, p.max_lag, p.threshold, p.sign)
            want[i, name] = rows(top_k(passed, p.top_n))
        assert 0 < len(want[i, "A"]) <= p.top_n
    # the tie cases really cut inside their ties
    top8 = [abs(r[3]) for r in want[0, "A"]]
    assert top8[2] == top8[3]  # K=3 cuts inside a tie
    zeros = [r[0] for r in want[2, "A"] if r[3] == 0.0]
    assert zeros == ["z0", "z1"]  # K cuts inside the five 0.0 scores
    assert {r[3] < 0 for r in want[7, "A"]} == {True}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default_batch = spark.conf.get(key)
    try:
        for n_part, batch in ((1, default_batch), (16, default_batch), (1, "7"), (16, "7")):
            spark.conf.set(key, batch)
            data = rolled.repartition(n_part)
            for i, p in enumerate(cases):
                where = (n_part, batch, i)
                got = rows(muse_search_rollup(data, ref, 3600, None, p, bounds=bounds))
                assert got == want[i, "A"], where
                multi = muse_search_multi(
                    data, refs, 3600, None, p, bounds=bounds
                ).collect()
                for name in refs:
                    got = ranked(
                        (r["group_key"], r["series_key"], r["lag"], r["score"])
                        for r in multi if r["ref_key"] == name
                    )
                    assert got == want[i, name], (where, name)
    finally:
        spark.conf.set(key, default_batch)


def test_rows_outside_bounds_are_not_scored(spark):
    """Explicit bounds narrower than the data: a row before lo must not
    wrap to the end of its series and a row after hi must not crash the
    scatter; per-series, grouped and multi-reference search all equal
    the same search over the in-window rows only."""
    from go_muse_spark.operators.search import muse_search_multi

    t0 = dt.datetime(2025, 1, 1)
    n = len(REF)
    series = {
        "a": [2 * v for v in REF],  # perfect match
        "b": SIMPLE["evenLower"],
        "c": SIMPLE["slightlyLower"],
    }
    inside = [
        (sk, "g" + sk, t0 + dt.timedelta(hours=b), float(v))
        for sk, vals in series.items()
        for b, v in enumerate(vals)
        if v
    ]
    outside = [
        ("a", "ga", t0 - dt.timedelta(hours=3), 5.0),
        ("b", "gb", t0 + dt.timedelta(hours=n + 2), 4.0),
        ("c", "gc", t0 + dt.timedelta(hours=n), 1.0),
    ]
    schema = "conv_id string, g string, bucket_ts timestamp, turn_cnt double"
    clean = spark.createDataFrame(inside, schema)
    dirty = spark.createDataFrame(inside + outside, schema)
    bounds = (t0, t0 + dt.timedelta(hours=n - 1), n)
    p = SearchParams(top_n=10, max_lag=None, mode="abs")

    def run(df):
        return {
            "series": [
                tuple(r) for r in muse_search_rollup(
                    df, np.array(REF), 3600, None, p, bounds=bounds
                ).collect()
            ],
            "grouped": [
                tuple(r) for r in muse_search_rollup(
                    df, np.array(REF), 3600, ["g"], p, bounds=bounds
                ).collect()
            ],
            "multi": sorted(
                tuple(r) for r in muse_search_multi(
                    df, {"x": np.array(REF)}, 3600, None, p, bounds=bounds
                ).collect()
            ),
        }

    want = run(clean)
    assert want["series"][0][:3] == ("a", "a", 0)
    assert abs(want["series"][0][3] - 1.0) < 1e-9
    assert run(dirty) == want


def test_search_leaves_no_broadcast_files(spark):
    """A search must not leave a file in the SparkContext temp dir: 40
    muse_search_rollup calls keep its file count. A per-call broadcast
    file is written when the plan is built, so only every tenth result
    is collected."""
    import os

    def n_files():
        return sum(len(f) for _, _, f in os.walk(spark.sparkContext._temp_dir))

    rolled, bounds = long_form(spark, SIMPLE)
    p = SearchParams(top_n=3, max_lag=None)
    muse_search_rollup(rolled, np.array(REF), 3600, params=p, bounds=bounds).collect()
    before = n_files()
    for i in range(40):
        ref = np.array(REF) + 0.01 * i
        found = muse_search_rollup(rolled, ref, 3600, params=p, bounds=bounds)
        if i % 10 == 0:
            assert found.collect()[0]["series_key"] == "perfectMatch"
    assert n_files() == before


# --- the kept tier: repeated searches over one DataFrame ---------------------


def _search_rows(df):
    return [
        (r["group_key"], r["series_key"], r["lag"], r["score"]) for r in df.collect()
    ]


def _multi_rows(df):
    return sorted(
        (r["ref_key"], r["group_key"], r["series_key"], r["lag"], r["score"])
        for r in df.collect()
    )


def _kept_frame(rolled):
    from go_muse_spark.operators.search import _KEPT, _KEPT_LOCK

    with _KEPT_LOCK:
        kept = _KEPT.get(rolled)
        return None if kept is None else kept.frame


def test_repeated_search_matches_fresh_search(spark):
    """Searches repeated on one DataFrame score its kept tier from the
    second search on; row for row (lag exact, score equal) they equal
    the same searches over a fresh DataFrame, which take the one-shot
    plan. Cases of the in-task top-K test: ties at the K-th place, every
    filter, signed mode, at 1 and 16 input partitions x Arrow batch 7
    and the default (the one-shot answer does not depend on either:
    test_rollup_partition_invariance)."""
    from go_muse_spark.operators.search import muse_search_multi

    rolled, ref, bounds, n_series = _pushdown_corpus(spark)
    refs = {"A": ref, "B": ref[::-1].copy()}
    cases = [
        SearchParams(top_n=3, max_lag=None, mode="abs"),
        SearchParams(top_n=n_series - 3, max_lag=None, mode="abs"),
        SearchParams(top_n=12, max_lag=2, mode="abs"),
        SearchParams(top_n=12, max_lag=None, threshold=0.4, mode="abs"),
        SearchParams(top_n=12, max_lag=None, mode="signed", sign="pos"),
        SearchParams(top_n=12, max_lag=None, mode="signed", sign="neg"),
    ]

    def search(df, p):
        return (
            _search_rows(muse_search_rollup(df, ref, 3600, None, p, bounds=bounds)),
            _multi_rows(muse_search_multi(df, refs, 3600, None, p, bounds=bounds)),
        )

    want = [search(rolled.select("*"), p) for p in cases]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default_batch = spark.conf.get(key)
    try:
        for n_part, batch in ((1, default_batch), (16, default_batch), (1, "7"), (16, "7")):
            spark.conf.set(key, batch)
            data = rolled.repartition(n_part)
            for _ in range(2):
                muse_search_rollup(data, ref, 3600, None, cases[0], bounds=bounds).collect()
            assert _kept_frame(data) is not None
            for i, p in enumerate(cases):
                assert search(data, p) == want[i], (n_part, batch, i)
    finally:
        spark.conf.set(key, default_batch)


def _labelled_corpus(spark):
    """16 random hourly series over 30 buckets with graph/host label
    columns and the same labels as a `dims` map, two exact copies of the
    reference burst (a tie) and one constant series; the series, the
    reference and the bounds."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(23)
    n = 30
    ref = np.zeros(n)
    ref[8:13] = [1.0, 3.0, 5.0, 3.0, 1.0]
    series = {
        f"s{i:02d}": list(rng.poisson(2.0, n) * (rng.random(n) < 0.6))
        for i in range(13)
    }
    series.update({"t0": list(ref), "t1": list(ref), "z0": [2.0] * n})
    rolled, bounds = long_form(
        spark,
        series,
        graph={k: f"g{i % 3}" for i, k in enumerate(series)},
        host={k: f"h{i % 2}" for i, k in enumerate(series)},
    )
    rolled = rolled.withColumn(
        "dims",
        F.create_map(F.lit("graph"), F.col("graph"), F.lit("host"), F.col("host")),
    )
    return rolled, series, ref, bounds


def test_repeated_grouped_and_multi_search_match_fresh(spark):
    """Grouped score_rollup with a list and with a Column group key (one
    Column object, reused), and per-series and grouped
    muse_search_multi: three searches on one DataFrame (the last two
    over the kept tier) equal the same search over a fresh DataFrame."""
    from pyspark.sql import functions as F

    from go_muse_spark.labels import label_id_map
    from go_muse_spark.operators.search import muse_search_multi

    base, _, ref, bounds = _labelled_corpus(spark)
    refs = {"A": ref, "B": ref[::-1].copy()}
    p = SearchParams(top_n=5, max_lag=None, mode="signed")
    by_dims = label_id_map(F.col("dims"), ["graph", "host"])
    searches = {
        "grouped list": lambda df: sorted(_search_rows(
            score_rollup(df, ref, 3600, ["graph"], "abs", bounds=bounds)
        )),
        "grouped column": lambda df: sorted(_search_rows(
            score_rollup(df, ref, 3600, by_dims, "abs", bounds=bounds)
        )),
        "multi per-series": lambda df: _multi_rows(
            muse_search_multi(df, refs, 3600, None, p, bounds=bounds)
        ),
        "multi grouped": lambda df: _multi_rows(
            muse_search_multi(df, refs, 3600, ["host"], p, bounds=bounds)
        ),
    }
    for name, search in searches.items():
        want = search(base.select("*"))
        assert want, name
        data = base.select("*")
        for i in range(3):
            assert search(data) == want, (name, i)
        assert _kept_frame(data) is not None, name


def test_search_shape_changes_never_reuse_a_stale_tier(spark):
    """One DataFrame searched three times in a row with each of several
    params, bounds, group_by and tier_secs settings (and back to the
    first): every search equals the same search over a fresh DataFrame.
    A change of params keeps the tier (it is not part of the search
    shape); every other change builds its own."""
    rolled, _, ref, (lo, hi, n) = _labelled_corpus(spark)
    narrow = (lo + dt.timedelta(hours=5), lo + dt.timedelta(hours=24), 20)
    two_hourly = (lo, hi, n // 2)
    steps = [
        ("all", None, SearchParams(top_n=6, max_lag=None), (lo, hi, n), 3600, ref),
        ("params", None, SearchParams(top_n=4, max_lag=3, mode="signed"),
         (lo, hi, n), 3600, ref),
        ("bounds", None, SearchParams(top_n=6, max_lag=None), narrow, 3600,
         ref[5:25]),
        ("auto bounds", None, SearchParams(top_n=6, max_lag=None), None, 3600, ref),
        ("group_by", ["host"], SearchParams(top_n=6, max_lag=None), (lo, hi, n),
         3600, ref),
        ("tier_secs", None, SearchParams(top_n=6, max_lag=None), two_hourly, 7200,
         ref[::2]),
        ("all again", None, SearchParams(top_n=6, max_lag=None), (lo, hi, n), 3600,
         ref),
    ]
    data = rolled.select("*")
    tiers = {}
    for name, group_by, p, bounds, tier_secs, one in steps:
        want = _search_rows(muse_search_rollup(
            rolled.select("*"), one, tier_secs, group_by, p, bounds=bounds
        ))
        assert want, name
        for i in range(3):
            got = _search_rows(
                muse_search_rollup(data, one, tier_secs, group_by, p, bounds=bounds)
            )
            assert got == want, (name, i)
        tiers[name] = _kept_frame(data)
        assert tiers[name] is not None, name
    assert tiers["params"] is tiers["all"]
    others = [tiers[k] for k in ("all", "bounds", "group_by", "tier_secs", "all again")]
    assert len({id(t) for t in others}) == len(others)


def test_column_group_keys_that_print_alike_never_share_a_tier(
    spark, monkeypatch
):
    """Two lambda UDF group keys over one column print alike in a session
    that records no call-site origins (the patched repr stands in for
    one). Searches that alternate between them on one DataFrame each
    equal a fresh search with their own key; searches that reuse one
    Column object keep its tier."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic.column import Column

    rolled, _, ref, bounds = _labelled_corpus(spark)
    keys = {
        "graph": F.udf(lambda d: d["graph"])(F.col("dims")),
        "host": F.udf(lambda d: d["host"])(F.col("dims")),
    }
    monkeypatch.setattr(Column, "__repr__", lambda self: "Column<'<lambda>(dims)'>")
    assert str(keys["graph"]) == str(keys["host"])

    def search(df, key):
        return sorted(_search_rows(
            score_rollup(df, ref, 3600, keys[key], "abs", bounds=bounds)
        ))

    want = {k: search(rolled.select("*"), k) for k in keys}
    assert want["graph"] != want["host"]
    data = rolled.select("*")
    for i in range(3):
        for k in keys:
            assert search(data, k) == want[k], (k, i)
    for i in range(3):
        assert search(data, "host") == want["host"], i
    assert _kept_frame(data) is not None


def test_result_built_on_a_replaced_tier_still_collects(spark):
    """A search built on the kept tier but not yet collected stays valid
    after the same DataFrame is searched with another shape, and can be
    collected again after a JVM garbage collection: the replaced
    checkpoint's blocks go only once no result refers to them."""
    import gc

    rolled, series, ref, bounds = _labelled_corpus(spark)
    p = SearchParams(top_n=len(series), max_lag=None, mode="abs")
    want = _search_rows(
        muse_search_rollup(rolled.select("*"), ref, 3600, None, p, bounds=bounds)
    )
    for _ in range(2):
        muse_search_rollup(rolled, ref, 3600, None, p, bounds=bounds).collect()
    tier = _kept_frame(rolled)
    assert tier is not None
    third = muse_search_rollup(rolled, ref, 3600, None, p, bounds=bounds)
    grouped = muse_search_rollup(rolled, ref, 3600, ["host"], p, bounds=bounds)
    assert grouped.collect()
    assert _kept_frame(rolled) is None
    del tier
    assert _search_rows(third) == want
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    assert _search_rows(third) == want


def test_bounds_none_keeps_the_bounds_of_the_search_that_kept_the_tier(
    spark, monkeypatch
):
    """With bounds=None the second search finds its own bounds and keeps
    them with its rows: rows that arrived after the first search are
    scored, not clipped to the first search's bounds. Later searches run
    no series_bounds call."""
    from go_muse_spark.operators import search as S

    rolled, _, ref, (lo, hi, n) = _labelled_corpus(spark)
    early = (lo, lo + dt.timedelta(hours=19), 20)
    found = [early]
    calls = []

    def bounds_of(df, tier_secs, bucket_col="bucket_ts"):
        calls.append(tier_secs)
        return found.pop() if found else (lo, hi, n)

    monkeypatch.setattr(S, "series_bounds", bounds_of)
    p = SearchParams(top_n=8, max_lag=None)
    refs = [ref[:20], ref, ref[::-1].copy(), np.roll(ref, 4)]
    data = rolled.select("*")
    for i, r in enumerate(refs):
        want = _search_rows(muse_search_rollup(
            rolled.select("*"), r, 3600, None, p, bounds=early if i == 0 else (lo, hi, n)
        ))
        got = _search_rows(muse_search_rollup(data, r, 3600, None, p))
        assert got == want, i
        assert len(calls) == min(i + 1, 2), i
    assert _kept_frame(data) is not None


def _numpy_scores(series, ref):
    """{series_key: (lag, |score|)} from the numpy batch kernel."""
    from go_muse_spark import kernels as K

    keys = list(series)
    dense = np.array([series[k] for k in keys], dtype=np.float64)
    lags, scores = K.batch_xcorr(K.prepare_ref(np.asarray(ref)), dense)
    return {k: (int(lags[j]), float(K.clamp_abs(scores)[j])) for j, k in enumerate(keys)}


def test_kept_tier_outlives_an_overwrite_of_its_files(spark, tmp_path):
    """A spark.read.parquet DataFrame pins its file list, so after the
    files are overwritten a search that reads them raises. One whose
    tier is kept (searched twice before) returns its kept rows instead;
    a fresh read sees the new data."""
    import pytest

    path = str(tmp_path / "tier")
    rolled, series, ref, bounds = _labelled_corpus(spark)
    rolled.select("conv_id", "bucket_ts", "turn_cnt").write.parquet(path)
    p = SearchParams(top_n=40, max_lag=None, mode="abs")

    def search(df):
        return {
            r["series_key"]: (r["lag"], r["score"])
            for r in muse_search_rollup(df, ref, 3600, None, p, bounds=bounds).collect()
        }

    kept = spark.read.parquet(path)
    unkept = spark.read.parquet(path)
    want = search(kept)
    assert search(kept) == want
    assert _kept_frame(kept) is not None
    for k, (lag, score) in _numpy_scores(series, ref).items():
        assert want[k][0] == lag and abs(want[k][1] - score) < 1e-9, k

    flipped = {k: v[::-1] for k, v in series.items()}
    new_rows, _ = long_form(spark, flipped)
    new_rows.write.mode("overwrite").parquet(path)

    assert search(kept) == want
    with pytest.raises(Exception, match="FAILED_READ_FILE.FILE_NOT_EXIST"):
        search(unkept)
    fresh = search(spark.read.parquet(path))
    assert fresh != want
    for k, (lag, score) in _numpy_scores(flipped, ref).items():
        assert fresh[k][0] == lag and abs(fresh[k][1] - score) < 1e-9, k


def test_kept_entry_goes_with_its_dataframe(spark):
    """The memo holds its DataFrames weakly: once the DataFrame is
    garbage-collected, no entry for it is left."""
    import gc
    import weakref

    from go_muse_spark.operators.search import _KEPT, _KEPT_LOCK

    rolled, bounds = long_form(spark, SIMPLE)
    p = SearchParams(top_n=3, max_lag=None)
    for _ in range(3):
        muse_search_rollup(rolled, np.array(REF), 3600, params=p, bounds=bounds).collect()
    with _KEPT_LOCK:
        entry = _KEPT[rolled]
    assert entry.frame is not None
    alive = weakref.ref(rolled)
    del rolled
    gc.collect()
    assert alive() is None
    with _KEPT_LOCK:
        assert all(v is not entry for v in list(_KEPT.values()))


def test_concurrent_searches_of_one_dataframe(spark):
    """Five threads (more than the session's cores) search one DataFrame
    at once, each with its own reference, four times each, so the kept
    tier is recorded, built and reused concurrently under a short switch
    interval: every answer matches numpy for its own reference."""
    import sys
    import threading

    rolled, series, ref, bounds = _labelled_corpus(spark)
    refs = [np.roll(ref, 3 * t) + (np.arange(len(ref)) % (t + 2)) for t in range(5)]
    expect = [_numpy_scores(series, r) for r in refs]
    p = SearchParams(top_n=len(series), max_lag=None, mode="abs")
    start = threading.Barrier(len(refs))
    answers: list = [[] for _ in refs]
    errors: list = []

    def run(t):
        try:
            start.wait()
            for _ in range(4):
                answers[t].append({
                    r["series_key"]: (r["lag"], r["score"])
                    for r in muse_search_rollup(
                        rolled, refs[t], 3600, None, p, bounds=bounds
                    ).collect()
                })
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(t,)) for t in range(len(refs))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert _kept_frame(rolled) is not None
    for t, want in enumerate(expect):
        assert len(answers[t]) == 4
        for got in answers[t]:
            assert set(got) == set(series), t
            for k, (lag, score) in want.items():
                assert got[k][0] == lag and abs(got[k][1] - score) < 1e-9, (t, k)
