"""snapshot_diff: I/U/D classification, null-safety, unchanged drop."""

import pytest

from go_muse_spark.sources.store import snapshot_diff


def test_classification(spark):
    old = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 20.0), ("c", 1, 30.0), ("d", 1, None)],
        "k string, b int, v double",
    )
    new = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 99.0), ("e", 1, 50.0), ("d", 1, None)],
        "k string, b int, v double",
    )
    out = snapshot_diff(old, new, ("k", "b"), ("v",))
    got = {(r["k"], r["op"]): (r["old_v"], r["new_v"]) for r in out.collect()}
    # a unchanged -> absent; d NULL==NULL unchanged -> absent
    assert got == {
        ("b", "U"): (20.0, 99.0),
        ("c", "D"): (30.0, None),
        ("e", "I"): (None, 50.0),
    }


def test_null_transitions_are_updates(spark):
    old = spark.createDataFrame([("a", None), ("b", 2.0)], "k string, v double")
    new = spark.createDataFrame([("a", 1.0), ("b", None)], "k string, v double")
    out = {r["k"]: r["op"] for r in snapshot_diff(
        old, new, ("k",), ("v",)).collect()}
    assert out == {"a": "U", "b": "U"}


def test_multi_compare_any_change(spark):
    old = spark.createDataFrame([("a", 1.0, 2.0)], "k string, x double, y double")
    new = spark.createDataFrame([("a", 1.0, 3.0)], "k string, x double, y double")
    rows = snapshot_diff(old, new, ("k",), ("x", "y")).collect()
    assert len(rows) == 1 and rows[0]["op"] == "U"
    assert rows[0]["old_y"] == 2.0 and rows[0]["new_y"] == 3.0


def test_identical_snapshots_empty(spark):
    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    assert snapshot_diff(df, df, ("k",), ("v",)).count() == 0


def test_requires_cols(spark):
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError):
        snapshot_diff(df, df, (), ("v",))


def test_null_key_parts_match_null_safe(spark):
    # a NULL key part present in both snapshots is the same key: unchanged
    # drops out and a changed value is one U row, never a D + I pair
    old = spark.createDataFrame(
        [(None, 1, 10.0), (None, 2, 20.0), ("a", None, 30.0), ("b", 1, 1.0)],
        "k string, b int, v double",
    )
    new = spark.createDataFrame(
        [(None, 1, 10.0), (None, 2, 25.0), ("a", None, 30.0), (None, 3, 5.0)],
        "k string, b int, v double",
    )
    rows = snapshot_diff(old, new, ("k", "b"), ("v",)).collect()
    got = {(r["k"], r["b"]): (r["op"], r["old_v"], r["new_v"]) for r in rows}
    assert len(rows) == len(got)
    assert got == {
        (None, 2): ("U", 20.0, 25.0),
        (None, 3): ("I", None, 5.0),
        ("b", 1): ("D", 1.0, None),
    }
