"""burstiness: regular -> -1-ish, bursty -> positive, reference math."""

import datetime as dt
import math

import pytest

from go_muse_spark.operators.stats import burstiness


def _df(spark, gaps_by_user):
    rows = []
    for u, gaps in gaps_by_user.items():
        t = dt.datetime(2025, 1, 1)
        rows.append((u, t))
        for g in gaps:
            t = t + dt.timedelta(seconds=g)
            rows.append((u, t))
    return spark.createDataFrame(rows, "user_id string, ts timestamp")


def _ref_b(gaps):
    us = [g * 1_000_000 for g in gaps]
    n = len(us)
    mu = sum(us) / n
    var = sum((x - mu) ** 2 for x in us) / n
    s = math.sqrt(var)
    return (s - mu) / (s + mu)


def test_matches_reference(spark):
    gaps = {"r": [10] * 9 + [11], "b": [1, 1, 1, 1, 1, 1, 1, 1, 1, 300]}
    out = {r["user_id"]: r for r in burstiness(_df(spark, gaps)).collect()}
    for u in gaps:
        assert out[u]["n_gaps"] == len(gaps[u])
        assert out[u]["b_u"] == pytest.approx(
            round(_ref_b(gaps[u]) * 1e6), abs=1
        )
    # regular ~ -1; bursty strongly positive
    assert out["r"]["b_u"] < -800_000
    assert out["b"]["b_u"] > 400_000


def test_constant_gaps_exactly_minus_one(spark):
    out = burstiness(_df(spark, {"m": [60] * 10})).collect()[0]
    assert out["b_u"] == -1_000_000  # sigma = 0 -> B = -1 exactly


def test_short_series_dropped(spark):
    assert burstiness(_df(spark, {"s": [5, 6]})).count() == 0


def test_all_zero_gaps_give_null(spark):
    """Every event at one timestamp: sigma = mu = 0, B = 0/0 -> NULL b_u
    (not NaN), in the operator and in the DuckDB oracle alike."""
    import duckdb

    from __spark_entry__ import oracle_sql

    out = burstiness(_df(spark, {"z": [0] * 5, "m": [60] * 5})).collect()
    got = {r["user_id"]: r["b_u"] for r in out}
    assert got == {"z": None, "m": -1_000_000}

    con = duckdb.connect()
    t0 = dt.datetime(2025, 1, 1)
    con.execute("CREATE TABLE events (user_id BIGINT, ts TIMESTAMP)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?)",
        [(1, t0)] * 5 + [(2, t0 + dt.timedelta(seconds=60 * i)) for i in range(5)],
    )
    want = dict(
        con.execute(
            f"SELECT user_id, b_u FROM ({oracle_sql()['burstiness']})"
        ).fetchall()
    )
    assert want == {"1": None, "2": -1_000_000}
