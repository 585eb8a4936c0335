"""M1/M3 — transcripts -> rollup -> gapfill -> search, per tier.

Tier-parity fixture (FIXTURES.md §F3): each golden candidate vector v is
embedded as one conversation whose bucket-i turn count is v[i]+4 (xcorr is
invariant to positive-affine transforms because of z-normalization; the
constant series stays constant => sigma=0 => score 0, preserving the
'zeros' golden). The rolled-up series must then reproduce the reference's
(lag, score) table at EVERY retention tier, exercising raw->1m and the
hierarchical 1m->1h->1d re-aggregation.
"""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_muse_spark.operators.gapfill import gap_fill
from go_muse_spark.operators.rollup import (
    TIERS,
    rollup_all_tiers,
    rollup_from_finer,
    rollup_transcripts,
)
from go_muse_spark.operators.search import (
    SearchParams,
    muse_search_rollup,
    series_bounds,
)

BASE = dt.datetime(2025, 1, 1, 0, 0, 0)

REF = [0.0, 0, 0, 0, 1, 2, 3, 3, 2, 1, 0, 0]
CANDS = {
    "perfectMatch": [0, 0, 0, 0, 2, 4, 6, 6, 4, 2, 0, 0],
    "slightlyLower": [0, 0, 0, 0, 2, 4, 6, 4, 2, 0, 0, 0],
    "evenLower": [0, 0, 0, 2, 4, 2, 0, 0, 0, 0, 0, 0],
    "evenLowerShiftedAhead": [0, 0, 0, 0, 0, 0, 0, 0, 2, 3, 2, 0],
    "zeros": [3, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3],
}
EXPECT = {
    "perfectMatch": (0, 1.000),
    "slightlyLower": (0, 0.929),
    "evenLowerShiftedAhead": (-3, 0.754),
    "evenLower": (2, 0.733),
    "zeros": (0, 0.000),
}


def transcripts_for_tier(spark, tier):
    """One conv per candidate; bucket i of the tier holds v[i]+4 turns."""
    _, secs, _ = TIERS[tier]
    rows = []
    for name, vec in CANDS.items():
        turn = 0
        for i, v in enumerate(vec):
            cnt = v + 4  # strictly positive turn counts
            for j in range(cnt):
                ts = BASE + dt.timedelta(seconds=i * secs + j * secs / (cnt + 1))
                rows.append((name, turn, "user" if turn % 2 == 0 else "assistant",
                             f"{name}-t{turn}", "", ts))
                turn += 1
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_tier_parity(spark, tier):
    tx = transcripts_for_tier(spark, tier)
    tiers = rollup_all_tiers(tx)
    rolled = tiers[tier]
    filled = gap_fill(rolled, tier, ("turn_cnt",), mode="zero", align="global")
    _, tier_secs, _ = TIERS[tier]
    res = muse_search_rollup(
        filled,
        np.array(REF, dtype=float),
        tier_secs,
        group_by=None,
        params=SearchParams(top_n=20, max_lag=10, mode="abs"),
        bounds=series_bounds(filled, tier_secs),
    )
    got = {r["group_key"]: (r["lag"], r["score"]) for r in res.collect()}
    assert set(got) == set(EXPECT)
    for name, (lag, score) in EXPECT.items():
        assert got[name][0] == lag, (tier, name)
        assert abs(got[name][1] - score) < 1e-3, (tier, name)


def test_rollup_counts_match_raw(spark):
    tx = transcripts_for_tier(spark, "1m")
    r1m = rollup_transcripts(tx, "1m")
    # total turns preserved
    assert (
        r1m.agg(F.sum("turn_cnt")).collect()[0][0] == tx.count()
    )
    # hierarchical == direct for 1h
    direct = rollup_transcripts(tx, "1h")
    hier = rollup_from_finer(r1m, "1h")
    a = {(r["conv_id"], r["bucket_ts"]): (r["turn_cnt"], r["first_ts"], r["last_ts"])
         for r in direct.collect()}
    b = {(r["conv_id"], r["bucket_ts"]): (r["turn_cnt"], r["first_ts"], r["last_ts"])
         for r in hier.collect()}
    assert a == b


def gappy_rollup(spark):
    # conv g: buckets 0,1,4,5 present (2,3 missing); conv h: 0 and 3
    rows = [
        ("g", BASE + dt.timedelta(minutes=0), 2, 0.5),
        ("g", BASE + dt.timedelta(minutes=1), 4, 1.0),
        ("g", BASE + dt.timedelta(minutes=4), 10, 2.5),
        ("g", BASE + dt.timedelta(minutes=5), 6, 1.5),
        ("h", BASE + dt.timedelta(minutes=0), 8, 2.0),
        ("h", BASE + dt.timedelta(minutes=3), 2, 0.5),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, bucket_ts timestamp, turn_cnt long, turns_per_sec double"
    )


def _values(df, conv, col="turn_cnt"):
    rows = df.filter(F.col("conv_id") == conv).orderBy("bucket_ts").collect()
    return [r[col] for r in rows], [r["filled"] for r in rows]


def test_gap_fill_zero(spark):
    filled = gap_fill(gappy_rollup(spark), "1m", ("turn_cnt",), "zero")
    vals, flags = _values(filled, "g")
    assert vals == [2, 4, 0, 0, 10, 6]
    assert flags == [False, False, True, True, False, False]
    vals_h, _ = _values(filled, "h")
    assert vals_h == [8, 0, 0, 2]


def test_gap_fill_ffill(spark):
    filled = gap_fill(gappy_rollup(spark), "1m", ("turn_cnt",), "ffill")
    vals, _ = _values(filled, "g")
    assert vals == [2, 4, 4, 4, 10, 6]


def test_gap_fill_linear(spark):
    filled = gap_fill(gappy_rollup(spark), "1m", ("turn_cnt",), "linear")
    vals, _ = _values(filled, "g")
    assert vals == [2.0, 4.0, 6.0, 8.0, 10.0, 6.0]
    vals_h, _ = _values(filled, "h")
    assert vals_h == [8.0, 6.0, 4.0, 2.0]


def test_gap_fill_global_alignment(spark):
    filled = gap_fill(gappy_rollup(spark), "1m", ("turn_cnt",), "zero", align="global")
    # both convs span the global 6-bucket range -> equal lengths
    lens = filled.groupBy("conv_id").count().collect()
    assert {r["count"] for r in lens} == {6}
