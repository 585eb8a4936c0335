"""M4 — Spark-side chunk encode/decode round trip + search-over-chunks."""

import datetime as dt

import numpy as np
from pyspark.sql import functions as F

from go_muse_spark.operators.compress import decode_chunks, encode_chunks
from go_muse_spark.operators.gapfill import aligned_vectors, gap_fill
from go_muse_spark.operators.rollup import rollup_transcripts
from go_muse_spark.operators.search import SearchParams, muse_search

from tests.test_pipeline import CANDS, EXPECT, REF, transcripts_for_tier


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
    # L4 decode-on-read path: chunks -> vectors -> muse parity still holds
    tx = transcripts_for_tier(spark, "1m")
    filled = gap_fill(
        rollup_transcripts(tx, "1m"), "1m", ("turn_cnt",), "zero", align="global"
    )
    chunks = encode_chunks(filled, "1m", "turn_cnt", chunk_size=4)
    decoded = decode_chunks(chunks, "turn_cnt")
    series = aligned_vectors(decoded, "turn_cnt")
    res = muse_search(
        series,
        np.array(REF, dtype=float),
        group_by=None,
        params=SearchParams(top_n=20, max_lag=10, mode="abs"),
        series_key="conv_id",
    )
    got = {r["group_key"]: (r["lag"], r["score"]) for r in res.collect()}
    for name, (lag, score) in EXPECT.items():
        assert got[name][0] == lag, name
        assert abs(got[name][1] - score) < 1e-3, name


def test_fused_fill_encode_equals_separate(spark):
    """encode_chunks(fill='zero') == gap_fill + encode_chunks."""
    tx = transcripts_for_tier(spark, "1m")
    rolled = rollup_transcripts(tx, "1m")
    sep = decode_chunks(
        encode_chunks(
            gap_fill(rolled, "1m", ("turn_cnt",), "zero", align="conv"),
            "1m", "turn_cnt", chunk_size=7,
        ),
        "turn_cnt",
    )
    fused = decode_chunks(
        encode_chunks(rolled, "1m", "turn_cnt", chunk_size=7, fill="zero"),
        "turn_cnt",
    )
    a = sorted(map(tuple, sep.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert a == b


def test_encode_tiers_fused_equals_per_tier(spark):
    """encode_tiers_fused == encode_chunks(fill='zero') per tier, chunk
    rows byte-identical (same fill, same hierarchical sums, same codec)."""
    from go_muse_spark.operators.compress import encode_tiers_fused
    from go_muse_spark.operators.rollup import rollup_all_tiers

    tx = transcripts_for_tier(spark, "1m")
    tiers = rollup_all_tiers(tx)
    per_tier = []
    for tier in ("1m", "1h", "1d"):
        per_tier.append(
            encode_chunks(tiers[tier], tier, "turn_cnt", chunk_size=7, fill="zero")
        )
    sep = per_tier[0].unionByName(per_tier[1]).unionByName(per_tier[2])
    fused = encode_tiers_fused(tiers["1m"], "turn_cnt", chunk_size=7)

    def rows(df):
        return sorted(
            (r["conv_id"], r["tier"], r["chunk_start"], r["n_points"],
             bytes(r["ts_bytes"]), bytes(r["val_bytes"]))
            for r in df.collect()
        )

    assert rows(sep) == rows(fused)


def test_encode_chunks_windowed_equals_per_conv(spark):
    """Window-partitioned encoder output is byte-identical to the
    per-conversation encoder with zero fill (incl. all-gap windows)."""
    from go_muse_spark.operators.compress import encode_chunks_windowed
    from go_muse_spark.operators.rollup import rollup_transcripts

    tx = transcripts_for_tier(spark, "1m")
    rolled = rollup_transcripts(tx, "1m")
    per_conv = encode_chunks(rolled, "1m", "turn_cnt", chunk_size=5, fill="zero")
    windowed = encode_chunks_windowed(rolled, "1m", "turn_cnt", chunk_size=5)

    def rows(df):
        return sorted(
            (r["conv_id"], r["tier"], r["chunk_start"], r["n_points"],
             bytes(r["ts_bytes"]), bytes(r["val_bytes"]))
            for r in df.collect()
        )

    assert rows(per_conv) == rows(windowed)


def test_encode_chunks_windowed_ffill_carry(spark):
    """Windowed ffill (cross-window carry-in) == per-conv ffill encode."""
    from go_muse_spark.operators.compress import encode_chunks_windowed
    from go_muse_spark.operators.rollup import rollup_transcripts

    tx = transcripts_for_tier(spark, "1m")
    rolled = rollup_transcripts(tx, "1m")
    # chunk_size=3 so conversations span many windows, incl. all-gap ones
    per_conv = encode_chunks(rolled, "1m", "turn_cnt", chunk_size=3, fill="ffill")
    windowed = encode_chunks_windowed(
        rolled, "1m", "turn_cnt", chunk_size=3, fill="ffill"
    )

    def rows(df):
        return sorted(
            (r["conv_id"], r["tier"], r["chunk_start"], r["n_points"],
             bytes(r["ts_bytes"]), bytes(r["val_bytes"]))
            for r in df.collect()
        )

    assert rows(per_conv) == rows(windowed)


def test_pre_partitioned_one_exchange_parity(spark):
    """bench.py's one-exchange pipeline (repartition raw by conv_id, agg
    with no second exchange, pre_partitioned encoder) emits byte-identical
    chunks to the default two-exchange path."""
    from pyspark.sql import functions as F
    from go_muse_spark.operators.compress import encode_tiers_fused
    from go_muse_spark.operators.rollup import rollup_transcripts

    tx = transcripts_for_tier(spark, "1m")
    default = encode_tiers_fused(
        rollup_transcripts(tx, "1m"), "turn_cnt", chunk_size=7
    )
    pre = tx.select("conv_id", "ts").repartition(4, "conv_id")
    rolled = pre.groupBy(
        "conv_id", F.date_trunc("minute", "ts").alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("turn_cnt"))
    one_exchange = encode_tiers_fused(
        rolled, "turn_cnt", chunk_size=7, pre_partitioned=True
    )

    def rows(df):
        return sorted(
            (r["conv_id"], r["tier"], r["chunk_start"], r["n_points"],
             bytes(r["ts_bytes"]), bytes(r["val_bytes"]))
            for r in df.collect()
        )

    assert rows(default) == rows(one_exchange)


def test_encode_chunks_windowed_linear_carry(spark):
    """Windowed linear fill (predecessor + successor anchors carried
    across windows) == per-conv linear encode, byte for byte."""
    from go_muse_spark.operators.compress import encode_chunks_windowed
    from go_muse_spark.operators.rollup import rollup_transcripts

    tx = transcripts_for_tier(spark, "1m")
    rolled = rollup_transcripts(tx, "1m")
    # chunk_size=3 so lerp spans cross-window gaps, incl. all-gap windows
    per_conv = encode_chunks(rolled, "1m", "turn_cnt", chunk_size=3, fill="linear")
    windowed = encode_chunks_windowed(
        rolled, "1m", "turn_cnt", chunk_size=3, fill="linear"
    )

    def rows(df):
        return sorted(
            (r["conv_id"], r["tier"], r["chunk_start"], r["n_points"],
             bytes(r["ts_bytes"]), bytes(r["val_bytes"]))
            for r in df.collect()
        )

    assert rows(per_conv) == rows(windowed)


def test_compact_chunks_restores_chunk_size(spark):
    """Fragmented chunks (small chunk_size, as interleaved merge batches
    would leave) compact into full-size chunks with identical decoded
    points and fewer rows."""
    from go_muse_spark.operators.compress import compact_chunks
    from go_muse_spark.operators.rollup import rollup_transcripts

    tx = transcripts_for_tier(spark, "1m")
    rolled = rollup_transcripts(tx, "1m")
    fragmented = encode_chunks(rolled, "1m", "turn_cnt", chunk_size=3, fill="zero")
    compacted = compact_chunks(fragmented, "turn_cnt", chunk_size=64)

    def points(chunks_df):
        from go_muse_spark.operators.compress import decode_chunks

        return sorted(
            (r["conv_id"], r["bucket_ts"], r["turn_cnt"])
            for r in decode_chunks(chunks_df, "turn_cnt").collect()
        )

    assert points(fragmented) == points(compacted)
    n_frag = fragmented.count()
    n_comp = compacted.count()
    assert n_comp < n_frag  # genuinely fewer, larger chunks
    assert compacted.filter("n_points > 64").count() == 0
