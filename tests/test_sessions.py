"""Sessionization: pandas cross-check, plain-vs-bucketed parity, skew."""

import datetime as dt
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_muse_spark.operators.sessions import session_stats, sessionize

T0 = dt.datetime(2024, 1, 1)


def _mk(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["uid", "ts", "value"])
    )


def _pandas_sessionize(rows, gap_s):
    """Independent reference: per-key linear scan."""
    out = {}
    by_key = {}
    for uid, ts, _v in rows:
        by_key.setdefault(uid, []).append(ts)
    for uid, tss in by_key.items():
        sid, prev = 0, None
        for ts in sorted(tss):
            if prev is None or (ts - prev).total_seconds() > gap_s:
                sid += 1
            out[(uid, ts)] = sid
            prev = ts
    return out


def _randrows(seed, n_keys=7, n=400, max_step=7200):
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        uid = rng.randrange(n_keys)
        ts = T0 + dt.timedelta(seconds=rng.randrange(max_step * 50))
        rows.append((uid, ts, float(rng.randrange(100))))
    return rows


def test_sessionize_matches_pandas(spark):
    rows = _randrows(1)
    got = {
        (r["uid"], r["ts"]): r["session_id"]
        for r in sessionize(_mk(spark, rows), ["uid"], gap_s=1800)
        .collect()
    }
    want = _pandas_sessionize(rows, 1800)
    assert got == want
    # every key starts at session 1 and numbers are contiguous
    by_key = {}
    for (uid, _ts), sid in got.items():
        by_key.setdefault(uid, set()).add(sid)
    for sids in by_key.values():
        assert sids == set(range(1, max(sids) + 1))


@pytest.mark.parametrize("seed", [2, 3])
@pytest.mark.parametrize("bucket", [3600, 7 * 3600, 86400])
def test_bucketed_parity(spark, seed, bucket):
    rows = _randrows(seed)
    df = _mk(spark, rows)
    plain = sessionize(df, ["uid"], gap_s=1800).collect()
    buck = sessionize(df, ["uid"], gap_s=1800, bucket_secs=bucket).collect()
    key = lambda r: (r["uid"], r["ts"], r["value"])
    assert sorted(map(key, plain)) == sorted(map(key, buck))
    assert {key(r): r["session_id"] for r in plain} == {
        key(r): r["session_id"] for r in buck
    }


def test_gap_boundary_is_inclusive(spark):
    # a gap of EXACTLY gap_s stays in the session; gap_s+1 splits
    rows = [
        (1, T0, 1.0),
        (1, T0 + dt.timedelta(seconds=600), 1.0),
        (1, T0 + dt.timedelta(seconds=1201), 1.0),
    ]
    got = sorted(
        (r["ts"], r["session_id"])
        for r in sessionize(_mk(spark, rows), ["uid"], gap_s=600).collect()
    )
    assert [s for _, s in got] == [1, 1, 2]


def test_equal_ts_share_session(spark):
    rows = [
        (1, T0, 1.0),
        (1, T0, 2.0),
        (1, T0 + dt.timedelta(seconds=9000), 3.0),
        (1, T0 + dt.timedelta(seconds=9000), 4.0),
    ]
    for bucket in (None, 3600):
        got = sessionize(
            _mk(spark, rows), ["uid"], gap_s=1800, bucket_secs=bucket
        ).collect()
        sids = {r["value"]: r["session_id"] for r in got}
        assert sids[1.0] == sids[2.0] == 1
        assert sids[3.0] == sids[4.0] == 2


def test_hot_key_bucketed(spark):
    # one key owns 90% of rows; bucketed path must agree with plain
    rng = random.Random(9)
    rows = []
    t = T0
    for i in range(600):
        t += dt.timedelta(seconds=rng.randrange(3600))
        rows.append((0 if i % 10 else 1, t, float(i)))
    df = _mk(spark, rows)
    plain = {
        (r["uid"], r["ts"]): r["session_id"]
        for r in sessionize(df, ["uid"], gap_s=1200).collect()
    }
    buck = {
        (r["uid"], r["ts"]): r["session_id"]
        for r in sessionize(
            df, ["uid"], gap_s=1200, bucket_secs=4 * 3600
        ).collect()
    }
    assert plain == buck


def test_session_stats(spark):
    rows = [
        (1, T0, 1.0),
        (1, T0 + dt.timedelta(seconds=60), 2.5),
        (1, T0 + dt.timedelta(seconds=7200), 4.0),
    ]
    got = {
        r["session_id"]: r
        for r in session_stats(
            _mk(spark, rows), ["uid"], gap_s=1800, value_col="value"
        ).collect()
    }
    assert got[1]["n_events"] == 2
    assert got[1]["duration_s"] == 60
    assert got[1]["value_sum"] == 3.5
    assert got[2]["n_events"] == 1
    assert got[2]["duration_s"] == 0


def test_reserved_collision_raises(spark):
    df = _mk(spark, [(1, T0, 1.0)]).withColumn("session_id", F.lit(1))
    with pytest.raises(ValueError, match="collide"):
        sessionize(df, ["uid"])


# ----------------------------------------------------------- interval_union


def test_interval_union_merges_and_counts(spark):
    from go_muse_spark.operators.sessions import interval_union

    rows = [
        # u1: [0,10) [5,20) [20,25) merge (touching); [30,40) starts a
        # second run and [35,36) overlaps into it
        (1, 0, 10), (1, 5, 20), (1, 20, 25), (1, 30, 40), (1, 35, 36),
        # u2: zero-length dropped; single interval
        (2, 7, 7), (2, 1, 4),
        # u3: containment chain - [0,100) swallows later short ones
        (3, 0, 100), (3, 10, 20), (3, 50, 120),
    ]
    df = spark.createDataFrame(rows, "user_id long, start_us long, end_us long")
    out = {
        (r["user_id"], r["merge_id"]): (r["start"], r["end"], r["n_merged"], r["covered"])
        for r in interval_union(df).collect()
    }
    assert out[(1, 1)] == (0, 25, 3, 25)
    assert out[(1, 2)] == (30, 40, 2, 10)
    assert out[(2, 1)] == (1, 4, 1, 3)
    assert out[(3, 1)] == (0, 120, 3, 120)
    assert len(out) == 4


def test_interval_union_random_parity(spark):
    import random
    from go_muse_spark.operators.sessions import interval_union

    rng = random.Random(21)
    rows = []
    for u in range(6):
        for _ in range(50):
            s = rng.randrange(0, 10_000)
            rows.append((u, s, s + rng.randrange(0, 400)))
    df = spark.createDataFrame(rows, "user_id long, start_us long, end_us long")
    got = {}
    for r in interval_union(df).collect():
        got.setdefault(r["user_id"], []).append(
            (r["start"], r["end"], r["n_merged"])
        )
    for u in got:
        got[u].sort()
    # pure-Python sweep
    want = {}
    for u in range(6):
        ivs = sorted((s, e) for uu, s, e in rows if uu == u and e > s)
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e), merged[-1][2] + 1)
            else:
                merged.append((s, e, 1))
        want[u] = [(s, e, n) for s, e, n in merged]
    assert got == want
    # merged runs are disjoint and non-touching
    for u, runs in got.items():
        for (s1, e1, _), (s2, e2, _) in zip(runs, runs[1:]):
            assert s2 > e1


def test_alert_episodes_merge_and_peak(spark):
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    from go_muse_spark.operators.sessions import alert_episodes

    t0 = dt.datetime(2026, 1, 1)
    mk = lambda m: t0 + dt.timedelta(minutes=m)
    rows = [
        # u1: breaches at 0, 30, 50 (one episode, gap 40m), then 200
        # (new episode)
        (1, mk(0), 210.0), (1, mk(30), 320.0), (1, mk(50), 250.0),
        (1, mk(200), 500.0),
        # u2: single breach
        (2, mk(10), 201.0),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    )
    out = {
        (r["user_id"], r["episode"]): r
        for r in alert_episodes(
            df,
            ["user_id"],
            gap_s=2400.0,
            aggs={
                "peak_vmu": F.max(
                    F.expr("cast(round(value * 1000) as bigint)")
                )
            },
        ).collect()
    }
    assert len(out) == 3
    e1 = out[(1, 1)]
    assert e1["n_breaches"] == 3 and e1["peak_vmu"] == 320000
    assert (e1["end_us"] - e1["start_us"]) == 50 * 60 * 1_000_000
    e2 = out[(1, 2)]
    assert e2["n_breaches"] == 1 and e2["peak_vmu"] == 500000
    assert out[(2, 1)]["n_breaches"] == 1


def test_report_gaps_bounds_and_threshold(spark):
    import datetime as dt

    import pandas as pd
    import pytest

    from go_muse_spark.operators.sessions import report_gaps

    t0 = dt.datetime(2026, 1, 1)
    mk = lambda h: t0 + dt.timedelta(hours=h)
    rows = [(1, mk(0)), (1, mk(1)), (1, mk(9)), (1, mk(9)), (1, mk(20)),
            (2, mk(0))]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["user_id", "ts"]))
    out = report_gaps(df, ["user_id"], min_gap_secs=21600).collect()
    # u1: gaps 1->9 (8h) and 9->20 (11h); the duplicate at hour 9
    # contributes exactly one gap row. u2: single event, no gap.
    got = sorted((r["user_id"], r["gap_us"]) for r in out)
    assert got == [(1, 8 * 3600 * 1_000_000), (1, 11 * 3600 * 1_000_000)]
    with pytest.raises(ValueError):
        report_gaps(df, ["user_id"], min_gap_secs=0)


def test_alert_episodes_random_parity(spark):
    """Episode membership/aggregates replayed in pandas on random data."""
    import datetime as dt
    import random

    import pandas as pd
    from pyspark.sql import functions as F

    from go_muse_spark.operators.sessions import alert_episodes

    rng = random.Random(41)
    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for u in range(6):
        ts = sorted(rng.sample(range(0, 50_000), rng.randrange(5, 60)))
        rows += [(u, t0 + dt.timedelta(seconds=s), float(rng.randrange(1, 500)))
                 for s in ts]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["user_id", "ts", "value"]))
    gap = 900.0
    got = {
        (r["user_id"], r["episode"]): (r["n_breaches"], r["start_us"], r["end_us"])
        for r in alert_episodes(df, ["user_id"], gap_s=gap).collect()
    }
    # pandas replay
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    expect = {}
    for u, g in pdf.groupby("user_id"):
        g = g.sort_values("ts")
        ep, prev = 0, None
        agg = {}
        for _, r in g.iterrows():
            if prev is None or (r["ts"] - prev).total_seconds() > gap:
                ep += 1
            prev = r["ts"]
            t_us = int(r["ts"].timestamp() * 1_000_000)
            n, lo, hi = agg.get(ep, (0, t_us, t_us))
            agg[ep] = (n + 1, min(lo, t_us), max(hi, t_us))
        for ep, v in agg.items():
            expect[(u, ep)] = v
    assert got == expect
