"""M4 — Spark-side chunk encode/decode round trip + search-over-chunks.

The encoder parity tests run on a gappy sparse 1m rollup (silent
minutes, all-gap chunk windows) at two Arrow batch sizes, so zero,
ffill and linear fill encode to different bytes and conversations
cross Arrow batch boundaries inside the encoders.
"""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import go_muse_spark.operators.compress as compress
from go_muse_spark.operators.compress import (
    compact_chunks,
    decode_chunks,
    encode_chunks,
    encode_tiers_fused,
)
from go_muse_spark.operators.gapfill import gap_fill
from go_muse_spark.operators.rollup import rollup_all_tiers, rollup_transcripts
from go_muse_spark.operators.search import SearchParams, muse_search_rollup
from go_muse_spark.sources.transcripts import generate_transcripts

from tests.test_pipeline import EXPECT, REF, transcripts_for_tier

BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def rows(df):
    """Chunk rows as sortable tuples, byte columns as bytes."""
    return sorted(
        (r["conv_id"], r["tier"], r["chunk_start"], r["n_points"],
         bytes(r["ts_bytes"]), bytes(r["val_bytes"]))
        for r in df.collect()
    )


def points(chunks_df):
    """Decoded (conv_id, bucket_ts, turn_cnt) points, sorted."""
    return sorted(
        (r["conv_id"], r["bucket_ts"], r["turn_cnt"])
        for r in decode_chunks(chunks_df, "turn_cnt").collect()
    )


def at_batch_sizes(spark, fn):
    """Run fn() at arrow.maxRecordsPerBatch 7 and at the session default
    (so conversations straddle Arrow batches); return both results."""
    default = spark.conf.get(BATCH_KEY)
    out = []
    for batch in ("7", default):
        spark.conf.set(BATCH_KEY, batch)
        try:
            out.append(fn())
        finally:
            spark.conf.set(BATCH_KEY, default)
    return out


@pytest.fixture(scope="module")
def tx_gappy(spark):
    """Heavy-tailed corpus with inserted silences: 150 conversations,
    ~42k turns, ~14k sparse 1m buckets."""
    return spark.createDataFrame(
        generate_transcripts(n_convs=150, seed=3)
    ).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def rolled_gappy(tx_gappy):
    return (
        rollup_transcripts(tx_gappy, "1m")
        .select("conv_id", "bucket_ts", "turn_cnt")
        .localCheckpoint(eager=True)
    )


def test_chunk_roundtrip_spark(spark):
    tx = transcripts_for_tier(spark, "1m")
    filled = gap_fill(
        rollup_transcripts(tx, "1m"), "1m", ("turn_cnt",), "zero", align="global"
    )
    chunks = encode_chunks(filled, "1m", "turn_cnt", chunk_size=5)
    decoded = decode_chunks(chunks, "turn_cnt")

    a = sorted(
        (r["conv_id"], r["bucket_ts"], float(r["turn_cnt"]))
        for r in filled.select("conv_id", "bucket_ts", "turn_cnt").collect()
    )
    b = sorted(
        (r["conv_id"], r["bucket_ts"], r["turn_cnt"]) for r in decoded.collect()
    )
    assert a == b

    # compression: chunk bytes well under raw 16 B/point
    stats = chunks.agg(
        F.sum(F.length("ts_bytes") + F.length("val_bytes")).alias("bytes"),
        F.sum("n_points").alias("pts"),
    ).collect()[0]
    assert stats["bytes"] < stats["pts"] * 16


def test_search_over_decoded_chunks(spark):
    # L4 decode-on-read path: chunks -> point rows -> muse parity still holds
    tx = transcripts_for_tier(spark, "1m")
    filled = gap_fill(
        rollup_transcripts(tx, "1m"), "1m", ("turn_cnt",), "zero", align="global"
    )
    chunks = encode_chunks(filled, "1m", "turn_cnt", chunk_size=4)
    decoded = decode_chunks(chunks, "turn_cnt")
    res = muse_search_rollup(
        decoded,
        np.array(REF, dtype=float),
        60,
        group_by=None,
        params=SearchParams(top_n=20, max_lag=10, mode="abs"),
    )
    got = {r["group_key"]: (r["lag"], r["score"]) for r in res.collect()}
    for name, (lag, score) in EXPECT.items():
        assert got[name][0] == lag, name
        assert abs(got[name][1] - score) < 1e-3, name


def test_fused_fill_encode_equals_separate(spark, rolled_gappy):
    """encode_chunks(fill='zero') == gap_fill + encode_chunks."""
    def run():
        sep = encode_chunks(
            gap_fill(rolled_gappy, "1m", ("turn_cnt",), "zero", align="conv"),
            "1m", "turn_cnt", chunk_size=64,
        )
        fused = encode_chunks(
            rolled_gappy, "1m", "turn_cnt", chunk_size=64, fill="zero"
        )
        return rows(sep), rows(fused)

    for sep, fused in at_batch_sizes(spark, run):
        assert sep == fused


def observed_windows(rolled, chunk_size):
    """Distinct (conv_id, chunk window) pairs that hold an observed
    1m bucket; a conversation's chunks beyond these are all gap."""
    lo = rolled.groupBy("conv_id").agg(F.min("bucket_ts").alias("lo"))
    return (
        rolled.join(lo, "conv_id")
        .select(
            "conv_id",
            (
                (F.unix_timestamp("bucket_ts") - F.unix_timestamp("lo"))
                / (60 * chunk_size)
            ).cast("long"),
        )
        .distinct()
        .count()
    )


FILL_MODES = ("zero", "ffill", "linear")


@pytest.mark.parametrize(
    ("mode", "chunk_size"),
    [pytest.param(m, 64, id=m) for m in FILL_MODES]
    + [pytest.param(m, 16, id=f"{m}-16") for m in FILL_MODES],
)
def test_encode_chunks_fill_matches_relational_gap_fill(
    spark, rolled_gappy, mode, chunk_size
):
    """Absolute pin, independent of every other encoder: the decoded
    points of encode_chunks(fill=m) are the relational gap_fill(mode=m)
    rows — exact for zero and ffill, within 1e-9 for linear (the
    relational lerp runs in seconds, np.interp in microseconds) — at
    both Arrow batch sizes. chunk_size=16 leaves ~90 all-gap chunks in
    the gappy corpus (none at 64), so ffill and linear must carry
    values across whole silent chunks."""
    filled = gap_fill(rolled_gappy, "1m", ("turn_cnt",), mode, align="conv")
    want = sorted(
        (r["conv_id"], r["bucket_ts"], float(r["turn_cnt"]))
        for r in filled.collect()
    )
    assert len(want) > rolled_gappy.count()  # the corpus has gaps

    def run():
        chunks = encode_chunks(
            rolled_gappy, "1m", "turn_cnt", chunk_size=chunk_size, fill=mode
        )
        return points(chunks), chunks.count()

    for got, n_chunks in at_batch_sizes(spark, run):
        assert [g[:2] for g in got] == [w[:2] for w in want]
        if mode == "linear":
            assert max(abs(g[2] - w[2]) for g, w in zip(got, want)) <= 1e-9
        else:
            assert got == want
    if chunk_size == 16:
        assert n_chunks > observed_windows(rolled_gappy, 16)


# hand-built 1h rollup: conversation "a" is silent for more than two
# whole chunks between its turns at the contract chunk sizes 256 and 512
SILENT_HOURS = {"a": (0, 300, 1100), "b": (10, 12)}


@pytest.mark.parametrize("chunk_size", [256, 512])
def test_all_gap_chunks_at_contract_chunk_sizes(spark, chunk_size):
    """At the 1h contract queries' chunk sizes, encode_chunks(fill=
    "zero") emits the all-gap chunks of long silences: the decoded
    points are the relational gap_fill(mode="zero") rows, and there are
    more chunks than chunk windows holding a turn."""
    t0 = datetime(2024, 1, 1)
    rolled = spark.createDataFrame(
        [
            (conv, t0 + timedelta(hours=h), i + 1)
            for conv, hours in SILENT_HOURS.items()
            for i, h in enumerate(hours)
        ],
        "conv_id string, bucket_ts timestamp, turn_cnt long",
    )
    want = sorted(
        (r["conv_id"], r["bucket_ts"], float(r["turn_cnt"]))
        for r in gap_fill(
            rolled, "1h", ("turn_cnt",), "zero", align="conv"
        ).collect()
    )
    n_chunks = sum(
        -(-(h[-1] - h[0] + 1) // chunk_size) for h in SILENT_HOURS.values()
    )
    observed = sum(
        len({(x - h[0]) // chunk_size for x in h})
        for h in SILENT_HOURS.values()
    )
    assert n_chunks > observed

    def run():
        chunks = encode_chunks(
            rolled, "1h", "turn_cnt", chunk_size=chunk_size, fill="zero"
        )
        return points(chunks), chunks.count()

    for got, count in at_batch_sizes(spark, run):
        assert got == want
        assert count == n_chunks


def test_encode_tiers_fused_equals_per_tier(spark, tx_gappy):
    """encode_tiers_fused == encode_chunks(fill='zero') per tier, chunk
    rows byte-identical (same fill, same hierarchical sums, same codec)."""
    tiers = rollup_all_tiers(tx_gappy)

    def run():
        sep = [
            rows(encode_chunks(tiers[t], t, "turn_cnt", chunk_size=64, fill="zero"))
            for t in ("1m", "1h", "1d")
        ]
        fused = rows(encode_tiers_fused(tiers["1m"], "turn_cnt", chunk_size=64))
        return sorted(sep[0] + sep[1] + sep[2]), fused

    for sep, fused in at_batch_sizes(spark, run):
        assert sep == fused


def test_pre_partitioned_one_exchange_parity(spark, tx_gappy):
    """bench.py's one-exchange pipeline (repartition raw by conv_id, agg
    with no second exchange, pre_partitioned encoder) emits byte-identical
    chunks to the default two-exchange path."""
    def run():
        default = encode_tiers_fused(
            rollup_transcripts(tx_gappy, "1m"), "turn_cnt", chunk_size=64
        )
        pre = tx_gappy.select("conv_id", "ts").repartition(4, "conv_id")
        rolled = pre.groupBy(
            "conv_id", F.date_trunc("minute", "ts").alias("bucket_ts")
        ).agg(F.count(F.lit(1)).alias("turn_cnt"))
        one_exchange = encode_tiers_fused(
            rolled, "turn_cnt", chunk_size=64, pre_partitioned=True
        )
        return rows(default), rows(one_exchange)

    for default, one_exchange in at_batch_sizes(spark, run):
        assert default == one_exchange


def test_compact_chunks_restores_chunk_size(spark, rolled_gappy):
    """Fragmented chunks (small chunk_size, as interleaved merge batches
    would leave) compact into full-size chunks with identical decoded
    points and fewer rows — byte-identical to encoding at full size."""
    fragmented = encode_chunks(
        rolled_gappy, "1m", "turn_cnt", chunk_size=5, fill="zero"
    ).localCheckpoint(eager=True)  # a stored chunk table

    def run():
        return rows(compact_chunks(fragmented, "turn_cnt", chunk_size=64))

    direct = rows(
        encode_chunks(rolled_gappy, "1m", "turn_cnt", chunk_size=64, fill="zero")
    )
    for compacted in at_batch_sizes(spark, run):
        assert compacted == direct
    compacted_df = compact_chunks(fragmented, "turn_cnt", chunk_size=64)
    assert points(fragmented) == points(compacted_df)
    assert compacted_df.count() < fragmented.count()  # fewer, larger chunks
    assert compacted_df.filter("n_points > 64").count() == 0


def _gappy_frames(rng, batch_rows):
    """A conv_id-sorted sparse 1m rollup, cut into Arrow-batch-sized
    frames: 40 conversations of ~12 observed minutes over spans of up to
    3,000 minutes, and one over 9,000."""
    t0 = np.datetime64("2025-01-01T00:00", "us")
    parts = []
    for c in range(41):
        span = 9_000 if c == 40 else int(rng.integers(20, 3_000))
        minutes = np.sort(rng.choice(span, size=min(12, span), replace=False))
        minutes[-1] = span - 1
        parts.append(
            pd.DataFrame(
                {
                    "conv_id": f"c{c:03d}",
                    "bucket_ts": t0 + minutes * np.timedelta64(60, "s"),
                    "turn_cnt": rng.integers(1, 9, minutes.size),
                }
            )
        )
    pdf = pd.concat(parts, ignore_index=True)
    return [pdf.iloc[i : i + batch_rows] for i in range(0, len(pdf), batch_rows)]


def test_group_cap_bounds_every_codec_call(monkeypatch):
    """One encode_chunk_batch call per group of series, and a group never
    holds more than _GROUP_POINTS dense points, however far a frame of
    sparse rows densifies or however long one series is; the chunk bytes
    do not depend on where the groups were cut."""
    frames = _gappy_frames(np.random.default_rng(5), batch_rows=7)
    step = 60 * 1_000_000

    def series_of(pdf):
        for conv, ts, vals in compress._conv_series(pdf, "turn_cnt"):
            yield (conv, "1m", *compress._dense_fill(ts, vals, step, "zero"))

    calls = []
    batch = compress.encode_chunk_batch

    def spy(ts, vals, lens):
        calls.append(len(ts))
        return batch(ts, vals, lens)

    monkeypatch.setattr(compress, "encode_chunk_batch", spy)

    def run(cap):
        monkeypatch.setattr(compress, "_GROUP_POINTS", cap)
        calls.clear()
        out = pd.concat(compress._encode_op(series_of, 16)(iter(frames)))
        return sorted(map(tuple, out.itertuples(index=False))), list(calls)

    whole, whole_calls = run(1 << 40)
    capped, capped_calls = run(5_000)
    runs = compress.complete_series_runs(iter(frames), "conv_id")
    points = sum(len(ts) for f in runs for _, _, ts, _ in series_of(f))
    assert whole_calls == [points] and points > 10 * 5_000
    assert capped == whole
    assert len(capped_calls) > 10 and sum(capped_calls) == points
    assert max(capped_calls) <= 5_000  # the 9,000-point series is split
