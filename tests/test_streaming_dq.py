"""Continuous DQ gate == batch dq_profile, exactly."""

import datetime as dt


CHECKS = {
    "v_null": "value IS NULL",
    "v_big": "value > 50",
    "bad_kind": "kind NOT IN ('a', 'b')",
}


def _static(spark):
    import random

    rng = random.Random(11)
    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(600):
        v = None if i % 37 == 0 else float(rng.randint(0, 80))
        kind = "c" if i % 101 == 0 else ("a" if i % 2 else "b")
        rows.append((t0 + dt.timedelta(minutes=i), v, kind))
    return spark.createDataFrame(
        rows, schema="ts timestamp, value double, kind string"
    )


def test_streaming_dq_parity_with_batch(spark, tmp_path):
    from go_muse_spark.operators.dataquality import dq_profile
    from go_muse_spark.streaming.ingest import streaming_dq

    static = _static(spark)
    src = tmp_path / "src"
    src.mkdir()
    static.repartition(4).write.mode("overwrite").parquet(str(src / "p"))

    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "p"))
    )
    q, monitor = streaming_dq(
        stream, CHECKS, checkpoint_dir=str(tmp_path / "ck")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # at least two micro-batches actually merged (epoch ids start at 0)
    assert monitor._last_epoch >= 1

    got = {
        r["check"]: (r["n_rows"], r["n_viol"], r["ppm"])
        for r in monitor.snapshot(spark).collect()
    }
    want = {
        r["check"]: (r["n_rows"], r["n_viol"], r["ppm"])
        for r in dq_profile(static, CHECKS).collect()
    }
    assert got == want
    assert want["v_null"][1] > 0 and want["bad_kind"][1] > 0


def test_replayed_epoch_is_noop(spark):
    from go_muse_spark.streaming.ingest import DQMonitor

    m = DQMonitor({"x": "v IS NULL"})
    row = {"__n": 10, "__v0": 3}
    m.merge(row, 0)
    m.merge(row, 0)  # replay
    assert m.n_rows == 10 and m.viol["x"] == 3
    m.merge(row, 1)
    assert m.n_rows == 20 and m.viol["x"] == 6


def test_monitor_replay_state_is_constant_size():
    """Replay protection keeps only the last merged epoch id: a replayed
    or older epoch is a no-op, and the monitors' state does not grow with
    the number of epochs."""
    from go_muse_spark.streaming.ingest import DQMonitor, DriftMonitor

    def sizes(m):
        # every attribute, with the length of each container attribute
        return {k: len(v) if hasattr(v, "__len__") else None
                for k, v in vars(m).items()}

    dq = DQMonitor({"x": "v IS NULL"})
    drift = DriftMonitor(baseline_end=0, n_bins=4)
    delta = [{"__b": 0, "__bin": 1, "__c": 2}]
    for epoch in range(100):
        dq.merge({"__n": 10, "__v0": 1}, epoch)
        drift.merge(delta, epoch)
        if epoch == 0:
            first = (sizes(dq), sizes(drift))
    assert (sizes(dq), sizes(drift)) == first
    assert dq._last_epoch == drift._last_epoch == 99
    assert dq.n_rows == 1000 and dq.viol["x"] == 100
    assert drift.counts == {(0, 1): 200}
    for replay in (99, 42, 0):
        dq.merge({"__n": 10, "__v0": 1}, replay)
        drift.merge(delta, replay)
    assert dq.n_rows == 1000 and dq.viol["x"] == 100
    assert drift.counts == {(0, 1): 200}
