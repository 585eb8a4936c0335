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
