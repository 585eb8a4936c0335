"""L3 — chunk tables: per-(conv, tier) byte-packed compressed segments.

Encoders: rolled-up rows -> chunks(conv_id, tier, chunk_start,
n_points, ts_bytes, val_bytes). Two plans remain, both one conv_id
exchange into one streaming mapInPandas core:

  * per-conversation — encode_chunks: one tier, optionally fused gap
    fill (zero / ffill / linear);
  * fused — encode_tiers_fused: the zero-filled 1m series of each
    conversation re-aggregated to 1h and 1d in numpy, all three tiers
    encoded in the same pass.

The core reads complete conversation runs through complete_series_runs
and densifies each series with _dense_fill. It gathers the dense series
into groups of at most _GROUP_POINTS points (a longer series is split
at chunk boundaries) and encodes each group with ONE encode_chunk_batch
call (functions/codecs.py): the chunk_size cuts, the Gorilla/DoD
sections of every chunk and the chunk keys are whole-group numpy
passes, not two codec calls per chunk. Python memory stays O(one Arrow
batch + one series), never a whole partition, and the encode's own
temporaries stay O(one group). The per-chunk codec functions remain the
layout reference the batch encoder is tested against.

decode_chunks: chunks -> long-form rows, via mapInPandas (each chunk
decodes independently — no shuffle at all). Both byte columns live in
every chunk row, so select only what you need BEFORE wide pipelines.

Skew: the encoders take rollup rows, and the rollup's map-side partial
aggregate has already folded a hot conversation's turns into buckets,
so one conversation costs O(its span in buckets), not O(its turns): a
year of 1m buckets (525,600 points, a third of them observed) zero-fills
and encodes at chunk_size 1024 in 0.05-0.06 s on one core (0.09-0.11 s
with two codec calls per chunk). Downstream, chunk rows are small and
uniform (<= chunk_size points each): a hot conversation becomes many
chunk rows, so work over chunks is naturally balanced, complementing
the search stage's per-series exchange. A window-partitioned plan (one task per chunk
window) buys nothing on top: on a corpus where one conversation held
83-98% of the points it measured slower than or equal to encode_chunks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from go_muse_spark.functions.codecs import (
    decode_floats,
    decode_timestamps,
    encode_chunk_batch,
)

__all__ = [
    "encode_chunks",
    "encode_tiers_fused",
    "decode_chunks",
    "compact_chunks",
    "complete_series_runs",
    "CHUNK_SCHEMA",
    "bitlen_sql",
    "dod_cost",
    "ieee_bits_sql",
    "xor_cost",
]

# a type, not DDL text: the JVM would parse a DDL string on every call
CHUNK_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("tier", StringType()),
        StructField("chunk_start", TimestampType()),
        StructField("n_points", IntegerType()),
        StructField("ts_bytes", BinaryType()),
        StructField("val_bytes", BinaryType()),
    ]
)

# Dense points one encode_chunk_batch call takes at most (or one chunk,
# if chunk_size is larger): 4 MB of timestamps and values. The batch
# encoder's temporaries peak at 45-95 bytes a point (12-24 MB here; the
# high end when every value changes). Without a cap a frame of sparse
# rows could densify to far more points than it holds, all at once.
_GROUP_POINTS = 1 << 18

_MINUTE_US = 60 * 1_000_000
_HOUR_US = 3_600 * 1_000_000
_DAY_US = 86_400 * 1_000_000


def complete_series_runs(pdf_iter, key: str):
    """Stream pandas/Arrow batches, yielding frames that end exactly on
    a series boundary: the trailing run of each batch is held back (it
    may continue in the next batch) and prepended to the next frame.
    Memory is O(one batch + one series), independent of partition size
    — the property that makes per-partition scoring safe at 10^12 rows.
    Requires the input sorted by `key` within the stream (the encoder
    and scoring exchanges sortWithinPartitions them)."""
    carry: list = []  # frames of the (possibly still-open) trailing run
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        keys = pdf[key].to_numpy()
        not_last = np.flatnonzero(keys != keys[-1])
        cut = int(not_last[-1]) + 1 if len(not_last) else 0
        if cut == 0:
            # whole batch continues the open run: append, don't concat —
            # a single series spanning many batches stays O(series), not
            # O(series * batches) of repeated copying
            carry.append(pdf)
            continue
        if carry:
            yield pd.concat([*carry, pdf.iloc[:cut]], ignore_index=True)
            carry = []
        else:
            yield pdf.iloc[:cut]
        if cut < len(pdf):
            carry = [pdf.iloc[cut:]]
    if carry:
        yield (
            pd.concat(carry, ignore_index=True)
            if len(carry) > 1
            else carry[0]
        )


def _runs(keys: np.ndarray):
    """(start, end) of each run of equal consecutive keys."""
    bounds = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    return zip(np.concatenate(([0], bounds)), np.concatenate((bounds, [len(keys)])))


def _micros(col: pd.Series) -> np.ndarray:
    return col.to_numpy(dtype="datetime64[us]").astype(np.int64)


def _dense_fill(ts: np.ndarray, vals: np.ndarray, step_us: int, fill: str):
    """Densify one conversation's sorted sparse buckets (ts in int64 us)
    over its own [min, max] bucket range. The grid starts at an observed
    point, so ffill never needs a carry-in and linear interpolates
    between observed neighbours only."""
    lo = int(ts[0])
    n = (int(ts[-1]) - lo) // step_us + 1
    if len(ts) == n:  # already dense
        return ts, vals
    dense_ts = lo + np.arange(n, dtype=np.int64) * step_us
    idx = (ts - lo) // step_us
    if fill == "zero":
        out = np.zeros(n, dtype=np.float64)
        out[idx] = vals
    elif fill == "ffill":
        # each dense position takes the latest observed value at or
        # before it (position 0 is observed, so the count is >= 1)
        present = np.zeros(n, dtype=np.int64)
        present[idx] = 1
        out = vals[np.cumsum(present) - 1]
    elif fill == "linear":
        out = np.interp(dense_ts, ts, vals)  # interior lerp
    else:
        raise ValueError(f"unknown fill {fill!r}")
    return dense_ts, out


def _chunk_frames(series, chunk_size: int):
    """Cut each (conv_id, tier, dense_ts, vals) series into chunk_size
    slices and encode them, one encode_chunk_batch call and one
    CHUNK_SCHEMA frame per group of at most _GROUP_POINTS points. A
    longer series is split at chunk boundaries first, which leaves its
    chunks as they were."""
    piece = max(_GROUP_POINTS // chunk_size, 1) * chunk_size
    group: list = []
    points = 0
    for conv, tier, ts, vals in series:
        for lo in range(0, len(ts), piece):
            n = min(piece, len(ts) - lo)
            if group and points + n > _GROUP_POINTS:
                yield _encode_group(group, chunk_size)
                group, points = [], 0
            group.append((conv, tier, ts[lo : lo + n], vals[lo : lo + n]))
            points += n
    if group:
        yield _encode_group(group, chunk_size)


def _encode_group(group, chunk_size: int) -> pd.DataFrame:
    """The CHUNK_SCHEMA frame of one group of series."""
    convs, tiers, ts_parts, val_parts = zip(*group)
    n = np.array([len(ts) for ts in ts_parts], dtype=np.int64)
    per = -(-n // chunk_size)  # chunks per series
    rank = np.arange(per.sum()) - np.repeat(np.cumsum(per) - per, per)
    lo = np.repeat(np.cumsum(n) - n, per) + rank * chunk_size
    lens = np.minimum(np.repeat(n, per) - rank * chunk_size, chunk_size)
    ts = np.concatenate(ts_parts)
    ts_bytes, val_bytes = encode_chunk_batch(ts, np.concatenate(val_parts), lens)
    return pd.DataFrame(
        {
            "conv_id": np.repeat(np.array(convs, dtype=object), per),
            "tier": np.repeat(np.array(tiers, dtype=object), per),
            "chunk_start": pd.to_datetime(ts[lo].astype("datetime64[us]")),
            "n_points": lens.astype(np.int32),
            "ts_bytes": ts_bytes,
            "val_bytes": val_bytes,
        }
    )


def _encode_op(series_of, chunk_size: int):
    """The one mapInPandas body: complete conv_id runs in, chunk rows
    out. series_of(frame) yields the (conv_id, tier, dense_ts, vals)
    series of the conversations in one frame."""

    def op(batches):
        frames = complete_series_runs(batches, "conv_id")
        series = (s for pdf in frames for s in series_of(pdf))
        yield from _chunk_frames(series, chunk_size)

    return op


def _encode_plan(
    df: DataFrame,
    value_col: str,
    series_of,
    chunk_size: int,
    parallelism: int | None,
    exchange: bool = True,
) -> DataFrame:
    """conv_id exchange (unless the caller's rows are already hash-
    partitioned by it), sort, and the one streaming mapInPandas. Column
    refs come from the DataFrame itself: a name string costs a
    functions.col round trip to the JVM each."""
    out = df.select(df["conv_id"], df["bucket_ts"], df[value_col])
    if exchange:
        n_part = parallelism or df.sparkSession.sparkContext.defaultParallelism
        out = out.repartition(n_part, out["conv_id"])
    return out.sortWithinPartitions(out["conv_id"], out["bucket_ts"]).mapInPandas(
        _encode_op(series_of, chunk_size), CHUNK_SCHEMA
    )


def _conv_series(pdf: pd.DataFrame, value_col: str):
    """(conv_id, ts_us, vals) per conversation of a conv_id-sorted frame."""
    convs = pdf["conv_id"].to_numpy()
    ts_all = _micros(pdf["bucket_ts"])
    vals_all = pdf[value_col].to_numpy(dtype=np.float64)
    for s, e in _runs(convs):
        yield convs[s], ts_all[s:e], vals_all[s:e]


def encode_chunks(
    filled: DataFrame,
    tier: str,
    value_col: str = "turn_cnt",
    chunk_size: int = 1024,
    fill: str | None = None,
    tier_secs: int | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Compress (conv_id, bucket_ts, value) rows into chunk rows.

    fill=None expects already-dense input (gap_fill output); fill=
    "zero"/"ffill"/"linear" densifies inside the same pass (numpy
    scatter/accumulate/interp — fused gap fill, no spine join).

    Shape: repartition by conv_id + sortWithinPartitions + ONE
    mapInPandas streaming complete conversations. Groups are sliced with
    numpy boundary arithmetic instead of per-group pandas frames —
    per-group overhead is ~microseconds, which matters when millions of
    small conversations each contribute a handful of buckets (the
    grouped-map alternative costs ~ms per group in Arrow/pandas
    machinery alone).
    """
    if fill is not None and tier_secs is None:
        from go_muse_spark.operators.rollup import TIERS

        tier_secs = TIERS[tier][1]
    step_us = (tier_secs or 0) * 1_000_000

    def series_of(pdf):
        for conv, ts, vals in _conv_series(pdf, value_col):
            if fill is not None:
                ts, vals = _dense_fill(ts, vals, step_us, fill)
            yield conv, tier, ts, vals

    return _encode_plan(filled, value_col, series_of, chunk_size, parallelism)


def _coarsen(ts: np.ndarray, vals: np.ndarray, step_us: int):
    """Dense finer series -> dense coarser sums (bucket = floor/step)."""
    bucket = ts // step_us
    bounds = np.flatnonzero(bucket[1:] != bucket[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    return bucket[starts] * step_us, np.add.reduceat(vals, starts)


def encode_tiers_fused(
    rollup_1m: DataFrame,
    value_col: str = "turn_cnt",
    chunk_size: int = 1024,
    parallelism: int | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """All three retention tiers in ONE pass over the 1m continuous
    aggregate: zero-gap-fill the sparse 1m rollup to a dense spine,
    hierarchically re-aggregate 1m -> 1h -> 1d with ``np.add.reduceat``,
    and Gorilla/DoD-encode every tier's chunks — a single shuffle
    (repartition by conv_id) and a single mapInPandas stage for the whole
    L2+L3 pipeline, versus 2 groupBy shuffles + 3 repartition shuffles +
    3 Python stages for the unfused per-tier path.

    Equivalent to ``encode_chunks(tier, fill="zero")`` per tier (count/sum
    aggregates compose exactly across tiers; the zero-filled dense 1m
    series sums hour-by-hour to the sparse 1h rollup because filled
    minutes contribute 0) — asserted by tests/test_compress_spark.py.

    Scale note (10^12 turns): input is the already-shuffled 1m aggregate
    (O(convs x buckets) rows, not O(turns)); the only data movement here
    is one hash exchange on conv_id. Hot conversations emit many uniform
    chunk rows, so downstream stays balanced.

    pre_partitioned=True skips this operator's conv_id exchange: the
    caller guarantees rows are already hash-partitioned by conv_id (e.g.
    the one-exchange pipeline that repartitions RAW turns by conv_id
    before the rollup — hash(conv_id) satisfies the (conv_id, bucket)
    grouping's clustered distribution, so Catalyst elides the agg
    exchange AND this one: a single shuffle end to end). That variant
    wins when the 1m aggregation barely reduces row count (sparse turn
    streams); dense streams at 10^12-turn scale should keep the default
    partial-agg-first shape, which shuffles O(buckets) not O(turns).
    """

    def series_of(pdf):
        for conv, ts, vals in _conv_series(pdf, value_col):
            ts_1m, v_1m = _dense_fill(ts, vals, _MINUTE_US, "zero")
            ts_1h, v_1h = _coarsen(ts_1m, v_1m, _HOUR_US)
            ts_1d, v_1d = _coarsen(ts_1h, v_1h, _DAY_US)
            yield conv, "1m", ts_1m, v_1m
            yield conv, "1h", ts_1h, v_1h
            yield conv, "1d", ts_1d, v_1d

    return _encode_plan(
        rollup_1m, value_col, series_of, chunk_size, parallelism,
        exchange=not pre_partitioned,
    )


def decode_chunks(chunks: DataFrame, value_col: str = "turn_cnt") -> DataFrame:
    """Chunk rows -> long-form (conv_id, tier, bucket_ts, value).

    mapInPandas: embarrassingly parallel, no shuffle; each chunk expands
    to n_points rows.
    """
    out_schema = f"conv_id string, tier string, bucket_ts timestamp, {value_col} double"

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ns = pdf["n_points"].to_numpy(dtype=np.int64)
            ts_parts = [
                decode_timestamps(bytes(b), int(n))
                for b, n in zip(pdf["ts_bytes"], ns)
            ]
            val_parts = [
                decode_floats(bytes(b), int(n))
                for b, n in zip(pdf["val_bytes"], ns)
            ]
            # one frame per Arrow batch: chunk key columns expanded with
            # np.repeat, point columns with one concatenate — no
            # per-chunk DataFrame construction
            yield pd.DataFrame(
                {
                    "conv_id": np.repeat(pdf["conv_id"].to_numpy(), ns),
                    "tier": np.repeat(pdf["tier"].to_numpy(), ns),
                    "bucket_ts": np.concatenate(ts_parts).astype(
                        "datetime64[us]"
                    ),
                    value_col: np.concatenate(val_parts),
                }
            )

    return chunks.mapInPandas(decode, out_schema)


def compact_chunks(
    chunks: DataFrame,
    value_col: str = "turn_cnt",
    chunk_size: int = 1024,
    parallelism: int | None = None,
    tier: str | None = None,
) -> DataFrame:
    """Chunk-table maintenance: rewrite fragmented chunks into full-size
    ones (decode -> re-encode), per (conv_id, tier).

    Incremental MERGE batches leave whatever chunk boundaries each batch
    produced; like any LSM/TSDB compaction, periodically rewriting a
    conversation's chunks restores the target chunk_size (better codec
    ratios — the XOR window and dod widths are chosen per chunk — and
    fewer rows to scan at search time). The decoded points are preserved
    exactly (the codecs are bit-exact), so compaction commutes with
    every read path. One conv_id exchange; at 10^12-turn scale run it
    per affected-partition, off the ingest path, exactly like Iceberg's
    rewrite_data_files.
    """
    if tier is None:
        # discovery is an eager action that executes the upstream
        # lineage once — pass tier= explicitly when the input is a lazy
        # pipeline rather than a stored chunk table
        tiers = [r[0] for r in chunks.select("tier").distinct().collect()]
        if len(tiers) > 1:
            raise ValueError(
                f"compact one tier at a time (got {sorted(tiers)}); filter first"
            )
        if not tiers:  # empty selection -> empty result, not an error
            return chunks.sparkSession.createDataFrame([], CHUNK_SCHEMA)
        tier = tiers[0]
    decoded = decode_chunks(chunks, value_col)
    return encode_chunks(
        decoded.select("conv_id", "bucket_ts", value_col),
        tier,
        value_col,
        chunk_size=chunk_size,
        parallelism=parallelism,
    )


def bitlen_sql(x: str, max_bits: int = 63) -> str:
    """Bit length of a non-negative bigint as portable SQL — the sum
    of (x >= 2^j) indicators, left-associated; 0 -> 0. Shared text
    for Spark and any oracle (no engine clz/bit_length builtins,
    whose type rules differ)."""
    terms = [
        f"(CASE WHEN ({x}) >= {1 << j} THEN 1 ELSE 0 END)"
        for j in range(max_bits)
    ]
    return "(" + " + ".join(terms) + ")"


def dod_cost(
    rolled: DataFrame,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """EXACT storage-cost model of the delta-of-delta timestamp codec
    (functions/codecs.encode_timestamps), computed relationally — no
    encoder in the loop: per series, the sectioned layout's byte size

        n <= 1 : 10*n bytes  (version + width + first ts)
        n >= 2 : 2 + 8 + ceil((n-1)/8) + ceil(k*W/8)

    with k = nonzero zigzag(dod) count and W = max bit length of
    those zigzags. This is the capacity-planning query — "what will
    this tier cost on disk, per series, BEFORE we encode it" — and a
    live cross-check of the codec itself: pytest asserts this model
    equals len(encode_timestamps(ts)) byte for byte, and the DuckDB
    oracle replays the same lag algebra, so the storage claim in the
    module docstring (~1 bit/point on dense regular tiers) is a
    verified number, not prose.

    Zigzag is the branch form 2d / -2d-1 (== (d<<1) XOR (d>>63) for
    every |dod| < 2^62 — microsecond tiers are orders of magnitude
    inside that); bit length is the shared bitlen_sql indicator
    chain. All integers, no doubles anywhere.

    Scale shape: ONE exchange on the series key; two stacked lag()
    frames over one window sort; one map-combined aggregate. Returns
    (by..., n_points, k_nonzero, width_bits, ts_bytes,
    bits_per_point_u).
    """
    t = F.unix_micros(F.col(bucket_col).cast("timestamp"))
    w = Window.partitionBy(*by).orderBy(t)
    delta = t - F.lag(t).over(w)
    base = rolled.select(*by, t.alias("__t"), delta.alias("__d"))
    w2 = Window.partitionBy(*by).orderBy("__t")
    dod = F.col("__d") - F.coalesce(
        F.lag(F.col("__d")).over(w2), F.lit(0)
    )
    zig = F.when(
        F.col("__d").isNull(), F.lit(None)
    ).otherwise(
        F.when(dod >= 0, 2 * dod).otherwise(-2 * dod - 1)
    )
    flagged = base.select(*by, zig.alias("__z"))
    bl = F.expr(bitlen_sql("__z"))
    agg = flagged.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(
            F.when(F.col("__z") > 0, 1).otherwise(0)
        ).alias("k_nonzero"),
        F.coalesce(
            F.max(F.when(F.col("__z") > 0, bl)), F.lit(0)
        ).alias("width_bits"),
    )
    n = F.col("n_points")
    ts_bytes = F.when(n <= 1, 10 * n).otherwise(
        F.lit(10)
        + F.expr("(n_points + 6) div 8")  # ceil((n-1)/8)
        + F.expr("(k_nonzero * width_bits + 7) div 8")
    )
    sized = agg.select(
        *by,
        "n_points",
        "k_nonzero",
        "width_bits",
        ts_bytes.cast("long").alias("ts_bytes"),
    )
    return sized.select(
        "*",
        F.expr("(ts_bytes * 8000000) div n_points")
        .cast("long")
        .alias("bits_per_point_u"),
    )


def ieee_bits_sql(v: str) -> str:
    """Raw IEEE-754 float64 bit pattern of a NON-NEGATIVE integer
    value, as portable int64 SQL arithmetic (0 -> 0): with
    e = bitlen(v)-1, bits = (1022+e)*2^52 + v*2^(52-e) — the biased
    exponent and mantissa reconstructed without any float cast, so
    the XOR-codec cost model below never touches engine-specific
    float-to-bits builtins. Exact for 0 <= v < 2^52."""
    e = f"({bitlen_sql(v, 52)} - 1)"
    shifted = f"((cast({v} as bigint)) * cast(pow(2, 52 - {e}) as bigint))"
    return (
        f"(CASE WHEN ({v}) = 0 THEN cast(0 as bigint)"
        f" ELSE (1022 + {e}) * cast(pow(2, 52) as bigint) + {shifted}"
        f" END)"
    )


def xor_cost(
    rolled: DataFrame,
    value_col: str,
    by: tuple[str, ...] = ("conv_id",),
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """EXACT storage-cost model of the XOR float codec
    (functions/codecs.encode_floats) for INTEGER-valued tiers,
    computed relationally — the value-column twin of dod_cost: per
    series, the sectioned layout's byte size

        n == 1 : 11 bytes      n >= 2 :
        3 + 8 + ceil((n-1)/8) + ceil(k*W/8)

    with k = nonzero XOR count, W = 64 - lz - tz for the chunk-shared
    leading/trailing-zero window (lz from the max XOR bit length, tz
    from the min trailing-zero count, tz(x) = bitlen(x & -x) - 1).
    The IEEE bit patterns come from ieee_bits_sql — pure integer
    arithmetic, so Spark and the oracle replay the identical XOR
    chain, and pytest pins the model byte-for-byte to the numpy
    encoder. Together with dod_cost this prices a whole chunk table
    from SQL before anything is encoded.

    Scale shape: one exchange on the series key, one lag frame, one
    map-combined aggregate. Returns (by..., n_points, k_nonzero,
    width_bits, val_bytes).
    """
    v = F.col(value_col).cast("long")
    w = Window.partitionBy(*by).orderBy(F.col(bucket_col))
    base = rolled.select(*by, bucket_col, v.alias("__v")).withColumn(
        "__fb", F.expr(ieee_bits_sql("__v"))
    )
    xr = F.col("__fb").bitwiseXOR(F.lag(F.col("__fb")).over(w))
    flagged = base.select(*by, xr.alias("__x")).withColumn(
        "__bl", F.expr(bitlen_sql("__x", 64))
    ).withColumn(
        "__tz",
        F.when(
            F.col("__x") > 0,
            F.expr(bitlen_sql("(__x & -__x)", 64)) - 1,
        ),
    )
    agg = flagged.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.when(F.col("__x") > 0, 1).otherwise(0)).alias(
            "k_nonzero"
        ),
        F.coalesce(
            F.max(F.when(F.col("__x") > 0, F.col("__bl"))), F.lit(0)
        ).alias("__maxbl"),
        F.coalesce(F.min("__tz"), F.lit(0)).alias("__mintz"),
    )
    n = F.col("n_points")
    width = F.when(
        F.col("k_nonzero") > 0, F.col("__maxbl") - F.col("__mintz")
    ).otherwise(F.lit(0))
    sized = agg.select(
        *by,
        "n_points",
        "k_nonzero",
        width.alias("width_bits"),
    )
    val_bytes = F.when(n <= 1, 11 * n).otherwise(
        F.lit(11)
        + F.expr("(n_points + 6) div 8")  # ceil((n-1)/8)
        + F.expr("(k_nonzero * width_bits + 7) div 8")
    )
    return sized.select(
        *by,
        "n_points",
        "k_nonzero",
        "width_bits",
        val_bytes.cast("long").alias("val_bytes"),
    )
