"""Streaming foreachBatch ingest + multimodal plumbing tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_muse_spark.operators.multimodal import (
    decode_image_features,
    frame_sample_plan,
    with_content_hash,
)
from go_muse_spark.operators.rollup import rollup_all_tiers
from go_muse_spark.plans.continuous import ContinuousAggregates, tier_table
from go_muse_spark.sources.store import ParquetTableStore
from go_muse_spark.sources.transcripts import generate_transcripts
from go_muse_spark.streaming.ingest import stream_ingest


def test_stream_ingest_foreachbatch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    pdf = generate_transcripts(n_convs=20, seed=42, hot_turns=400).to_pandas()
    static = spark.createDataFrame(pdf)
    static.write.mode("overwrite").parquet(str(src / "p1"))

    store = ParquetTableStore(spark, str(tmp_path / "store"))
    ca = ContinuousAggregates(store, chunk_tiers=())
    stream = (
        spark.readStream.schema(static.schema).parquet(str(src / "p1"))
    )
    q = stream_ingest(stream, ca, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = sorted(
        map(
            tuple,
            store.read(tier_table("1m"))
            .select("conv_id", "bucket_ts", "turn_cnt")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            rollup_all_tiers(static)["1m"]
            .select("conv_id", "bucket_ts", "turn_cnt")
            .collect(),
        )
    )
    assert got == want


def test_stream_ingest_restart_resumes_from_checkpoint(spark, tmp_path):
    """Stop the query, add a file, restart on the same checkpoint dir with
    a new ContinuousAggregates over the same store: the restarted query
    ingests only the new file (its turns reopen buckets the first epoch
    wrote), and the checkpoint log holds one _batch row per epoch."""
    src = tmp_path / "src"
    src.mkdir()
    pdf = generate_transcripts(n_convs=20, seed=42, hot_turns=400).to_pandas()
    static = spark.createDataFrame(pdf)
    # every conversation in both files: epoch 1 merges into epoch 0's buckets
    even = F.col("turn_idx") % 2 == 0
    static.filter(even).coalesce(1).write.parquet(str(src / "p1"))

    def run():
        store = ParquetTableStore(spark, str(tmp_path / "store"))
        ca = ContinuousAggregates(store, chunk_tiers=())
        stream = spark.readStream.schema(static.schema).parquet(str(src / "*"))
        q = stream_ingest(stream, ca, str(tmp_path / "ckpt"))
        q.processAllAvailable()
        q.stop()
        return store

    run()
    static.filter(~even).coalesce(1).write.parquet(str(src / "p2"))
    store = run()

    want_1m = rollup_all_tiers(static)["1m"]
    cols = want_1m.columns
    got = sorted(map(tuple, store.read(tier_table("1m")).select(*cols).collect()))
    assert got == sorted(map(tuple, want_1m.collect()))
    batches = [
        r["run_id"]
        for r in store.checkpoints().filter(F.col("table") == "_batch").collect()
    ]
    assert sorted(batches) == ["epoch-000000000000", "epoch-000000000001"]


@pytest.fixture()
def media(spark):
    rows = [
        ("m1", "image", bytes([1, 2, 3, 4]), (16, 12, "image/png", None)),
        ("m2", "image", bytes([1, 2, 3, 4]), (16, 12, "image/png", None)),
        ("m3", "video", bytes([9, 9]), (8, 8, "video/mp4", 3500)),
    ]
    return spark.createDataFrame(
        rows,
        "media_id string, kind string, payload binary, "
        "meta struct<width:int, height:int, mime:string, duration_ms:int>",
    )


def test_content_hash_dedup(spark, media):
    hashed = with_content_hash(media)
    dups = hashed.groupBy("content_hash").count().filter("count > 1").collect()
    assert len(dups) == 1 and dups[0]["count"] == 2  # m1 == m2


def test_decode_stub_raises_without_fake(spark, media):
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        decode_image_features(media.filter("kind = 'image'")).collect()


def test_fake_decode_deterministic_features(spark, media):
    out = {
        r["media_id"]: r["features"]
        for r in decode_image_features(
            media.filter("kind = 'image'"), n_features=7, fake=True
        ).collect()
    }
    assert len(out["m1"]) == 7
    assert out["m1"] == out["m2"]  # same payload -> same features
    assert all(0.0 <= v <= 1.0 for v in out["m1"])


def test_frame_sample_plan(spark, media):
    rows = frame_sample_plan(media, every_ms=1000).collect()
    assert [(r["frame_idx"], r["frame_ts_ms"]) for r in rows] == [
        (0, 0),
        (1, 1000),
        (2, 2000),
    ]


def test_extract_frame_features(spark, media):
    """Plan JOIN payloads -> per-frame fused decode+resize+features:
    one row per sampled frame, deterministic per (content, frame_idx),
    distinct across frames of the same video."""
    from go_muse_spark.operators.multimodal import extract_frame_features

    rows = extract_frame_features(
        media, every_ms=1000, n_features=7, fake=True
    ).collect()
    # m3 is the only video: 3500ms at 1000ms -> frames 0, 1, 2
    assert sorted(r["frame_idx"] for r in rows) == [0, 1, 2]
    assert all(r["media_id"] == "m3" and len(r["features"]) == 7 for r in rows)
    by_frame = {r["frame_idx"]: tuple(r["features"]) for r in rows}
    assert by_frame[0] != by_frame[1]  # frame seed mixes frame_idx
    again = {
        r["frame_idx"]: tuple(r["features"])
        for r in extract_frame_features(
            media, every_ms=1000, n_features=7, fake=True
        ).collect()
    }
    assert again == by_frame  # deterministic


def test_documents_fixture_is_ascii(sf_dir):
    """The multimodal oracle reads seed bytes as DuckDB CHARACTER code
    points while the engine folds raw UTF-8 BYTES — equivalent only for
    ASCII text (documented in functions/fakepx.py). This canary turns a
    silent oracle divergence after a fixture regeneration with
    non-ASCII text into a named failure pointing at the cause."""
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet' "
        "WHERE octet_length(encode(text)) != length(text)"
    ).fetchone()[0]
    assert n == 0, (
        f"{n} non-ASCII document(s): the fakepx SQL seed (char code "
        "points) no longer matches the engine seed (UTF-8 bytes) — "
        "switch sql_seed to byte-accurate extraction or re-ASCII the "
        "fixture"
    )


def test_streaming_search_matches_batch_topk(spark, tmp_path):
    """Series-granular micro-batches folded through the EP1 accumulator
    must reproduce the one-shot batch search's top-K exactly."""
    import numpy as np

    from go_muse_spark.operators.rollup import rollup_transcripts
    from go_muse_spark.operators.search import (
        SearchParams,
        muse_search_rollup,
        series_bounds,
    )
    from go_muse_spark.streaming.ingest import streaming_search

    pdf = generate_transcripts(n_convs=16, seed=3, hot_turns=300).to_pandas()
    static = spark.createDataFrame(pdf)
    rolled = rollup_transcripts(static, "1h")
    lo, hi, n = series_bounds(rolled, 3600)
    ref = np.zeros(n)
    ref[n // 3 : n // 3 + 4] = [1.0, 4.0, 4.0, 1.0]
    p = SearchParams(top_n=6, max_lag=n, threshold=0.0, mode="abs")

    want = [
        (r["group_key"], r["series_key"], r["lag"], round(r["score"], 9))
        for r in muse_search_rollup(
            rolled, ref, 3600, params=p, bounds=(lo, hi, n)
        ).collect()
    ]

    # two batches split BY SERIES (whole conversations per batch)
    src = tmp_path / "ssearch"
    src.mkdir()
    convs = sorted(pdf["conv_id"].unique())
    half = set(convs[: len(convs) // 2])
    static.filter(F.col("conv_id").isin(half)).coalesce(1).write.parquet(
        str(src / "b1")
    )
    static.filter(~F.col("conv_id").isin(half)).coalesce(1).write.parquet(
        str(src / "b2")
    )
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q, results = streaming_search(
        stream, ref, 3600, str(tmp_path / "ckpt"), (lo, hi, n), params=p
    )
    q.processAllAvailable()
    q.stop()
    rows, mean = results.fetch()
    got = [
        (r["group_key"], r["series_key"], r["lag"], round(r["score"], 9))
        for r in rows
    ]
    assert got == want
    assert mean > 0


def test_streaming_search_drops_rows_outside_bounds(spark, tmp_path):
    """A micro-batch with rows hours before lo, and at and after
    lo + n * tier, scores like the batch search over the in-window rows
    only: no wrap-around lag, no stray series."""
    import datetime as dt

    from go_muse_spark.operators.rollup import rollup_transcripts
    from go_muse_spark.operators.search import (
        SearchParams,
        muse_search_rollup,
        series_bounds,
    )
    from go_muse_spark.streaming.ingest import streaming_search

    pdf = generate_transcripts(n_convs=16, seed=3, hot_turns=300).to_pandas()
    static = spark.createDataFrame(pdf)
    rolled = rollup_transcripts(static, "1h")
    lo, hi, n = series_bounds(rolled, 3600)
    ref = np.zeros(n)
    ref[n // 3 : n // 3 + 4] = [1.0, 4.0, 4.0, 1.0]
    p = SearchParams(top_n=6, max_lag=n, threshold=0.0, mode="abs")

    def key(rows):
        return [
            (r["group_key"], r["series_key"], r["lag"], round(r["score"], 9))
            for r in rows
        ]

    want = key(
        muse_search_rollup(
            rolled, ref, 3600, params=p, bounds=(lo, hi, n)
        ).collect()
    )

    end = lo + dt.timedelta(seconds=3600 * n)
    outside = [
        lo - dt.timedelta(hours=5),
        lo - dt.timedelta(seconds=1),
        end,
        end + dt.timedelta(hours=3),
    ]
    convs = sorted(pdf["conv_id"].unique())[:3] + ["stray"]
    stray = spark.createDataFrame(
        [
            (c, 1_000_000 + i, "user", "x", "", ts)
            for c in convs
            for i, ts in enumerate(outside)
        ],
        static.schema,
    )
    src = tmp_path / "ssearch"
    src.mkdir()
    static.unionByName(stray).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(static.schema).parquet(str(src / "*"))
    q, results = streaming_search(
        stream, ref, 3600, str(tmp_path / "ckpt"), (lo, hi, n), params=p
    )
    q.processAllAvailable()
    q.stop()
    rows, _ = results.fetch()
    assert key(rows) == want
