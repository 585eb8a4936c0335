"""survival_km vs a hand-rolled product-limit reference."""

import math

import pytest

from go_muse_spark.operators.survival import survival_km


def _ref_km(subjects):
    """subjects: list of (dur, censored). Returns {t: (n_risk, d, S)}."""
    times = sorted({d for d, c in subjects if not c})
    out, s = {}, 1.0
    for t in times:
        n_risk = sum(1 for d, _ in subjects if d >= t)
        d = sum(1 for dd, c in subjects if dd == t and not c)
        s *= (n_risk - d) / n_risk
        out[t] = (n_risk, d, s)
    return out


def _run(spark, subjects):
    df = spark.createDataFrame(subjects, "dur long, cen boolean")
    return {
        r["t"]: (r["n_risk"], r["n_events"], r["surv"])
        for r in survival_km(df, "dur", "cen").collect()
    }


def test_no_censoring_matches_empirical(spark):
    subs = [(5, False), (5, False), (10, False), (20, False)]
    got = _run(spark, subs)
    ref = _ref_km(subs)
    assert set(got) == set(ref)
    for t in ref:
        assert got[t][0] == ref[t][0] and got[t][1] == ref[t][1]
        assert got[t][2] == pytest.approx(ref[t][2], rel=1e-12)
    # all ended -> curve reaches exactly 0 at the last event
    assert got[20][2] == 0.0


def test_censoring_shrinks_risk_not_deaths(spark):
    subs = [
        (3, False),
        (4, True),   # censored at 4: at risk for t=3, gone by t=6
        (6, False),
        (8, True),
        (9, False),
    ]
    got = _run(spark, subs)
    ref = _ref_km(subs)
    for t in ref:
        assert got[t] == (
            ref[t][0],
            ref[t][1],
            pytest.approx(ref[t][2], rel=1e-12),
        )
    # censored durations emit no curve rows
    assert 4 not in got and 8 not in got
    # survival stays > 0: the last subject to leave was a death but
    # earlier censoring means S multiplies finite factors only
    assert got[9][2] == 0.0  # last at-risk subject dies at 9


def test_censored_tail_keeps_curve_positive(spark):
    subs = [(2, False), (5, False), (9, True), (9, True)]
    got = _run(spark, subs)
    # after the t=5 death, 2 censored subjects remain -> S stays > 0
    assert got[5][2] == pytest.approx(0.75 * (2 / 3), rel=1e-12)


def test_km_beats_naive_under_censoring(spark):
    # naive "drop censored" underestimates survival
    subs = [(1, False)] * 2 + [(10, True)] * 8
    got = _run(spark, subs)
    assert got[1][2] == pytest.approx(0.8, rel=1e-12)  # 8/10 survive
    # naive on uncensored only would say S(1) = 0


def test_random_censoring_matches_reference(spark):
    import random

    for seed in (7, 41):
        rng = random.Random(seed)
        subs = [
            (rng.randint(1, 30), rng.random() < 0.3) for _ in range(120)
        ]
        got = _run(spark, subs)
        ref = _ref_km(subs)
        assert set(got) == set(ref)
        for t in ref:
            assert got[t][0] == ref[t][0] and got[t][1] == ref[t][1]
            assert got[t][2] == pytest.approx(ref[t][2], rel=1e-12)
        # survival is non-increasing along t
        ts = sorted(got)
        for a, b in zip(ts, ts[1:]):
            assert got[b][2] <= got[a][2] + 1e-15


def test_session_ending_exactly_gap_before_edge_is_censored(spark, tmp_path):
    """q_survival_sessions: sessionize keeps a gap of exactly 7200 s in
    the session, so a session whose last event is exactly 7200 s before
    the corpus edge may still continue and must be censored; one 7201 s
    before the edge has ended. Spark query and DuckDB oracle agree."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from __spark_entry__ import oracle_sql, q_survival_sessions

    edge = dt.datetime(2025, 1, 2)
    sec = dt.timedelta(seconds=1)
    evs = [
        (1, edge - 7800 * sec),  # user 1: 10 min, ends exactly 2h before edge
        (1, edge - 7200 * sec),
        (2, edge - 7501 * sec),  # user 2: 5 min, ends 2h + 1 s before edge
        (2, edge - 7201 * sec),
        (3, edge),  # user 3: the edge itself, 0 min
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(evs)), pa.int64()),
                "ts": pa.array([t for _, t in evs], pa.timestamp("us")),
                "user_id": pa.array([u for u, _ in evs], pa.int64()),
                "event_type": ["e"] * len(evs),
                "value": [0.0] * len(evs),
                "props": [""] * len(evs),
            }
        ),
        tmp_path / "events.parquet",
    )
    got = sorted(
        tuple(r) for r in q_survival_sessions(spark, str(tmp_path)).collect()
    )
    # only user 2's session ends; users 1 and 3 hold the risk set
    assert [(r[0], r[2]) for r in got] == [(5, 1)]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'"
    )
    want = sorted(
        con.execute(oracle_sql()["survival_sessions"]).fetchall()
    )
    assert got == want
