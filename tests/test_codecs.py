"""M4 — Gorilla XOR / delta-of-delta codec round-trip properties
(FIXTURES.md §F2: decode(encode(v)) == v exactly, float64 bitwise)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_muse_spark.functions.codecs import (
    decode_floats,
    decode_timestamps,
    encode_chunk_batch,
    encode_floats,
    encode_timestamps,
)


def roundtrip_f(v):
    v = np.asarray(v, dtype=np.float64)
    out = decode_floats(encode_floats(v), v.size)
    assert out.size == v.size
    assert np.array_equal(v.view(np.uint64), out.view(np.uint64)), (v, out)


def roundtrip_t(v):
    v = np.asarray(v, dtype=np.int64)
    out = decode_timestamps(encode_timestamps(v), v.size)
    assert np.array_equal(v, out), (v, out)


def test_float_roundtrip_basic():
    roundtrip_f([])
    roundtrip_f([0.0])
    roundtrip_f([1.5, 1.5, 1.5, 1.5])
    roundtrip_f([0.0, -0.0, np.inf, -np.inf, 1e-300, -1e300])
    roundtrip_f(np.arange(1000, dtype=np.float64))
    rng = np.random.default_rng(42)
    roundtrip_f(rng.normal(size=4096))
    roundtrip_f(rng.integers(0, 50, 4096).astype(np.float64))  # count-like


def test_float_roundtrip_nan():
    v = np.array([1.0, np.nan, 2.0])
    out = decode_floats(encode_floats(v), 3)
    assert np.array_equal(v.view(np.uint64), out.view(np.uint64))


def test_float_sign_bit_flip():
    # sign-only change: lz=0, meaningful may be 1..64 — exercises the
    # 6-bit (meaningful-1) encoding at its edge
    roundtrip_f([1.0, -1.0, 1.0, -1.0])
    roundtrip_f([5e-324, -5e-324])  # denormals


def test_ts_roundtrip_basic():
    roundtrip_t([])
    roundtrip_t([0])
    base = 1_735_689_600_000_000  # 2025-01-01 in us
    roundtrip_t(base + np.arange(5000) * 60_000_000)  # perfect 1m buckets
    roundtrip_t([base, base + 1, base + 3, base + 100, base + 100_000_000])
    roundtrip_t([base, base - 60_000_000, base])  # non-monotone still exact
    roundtrip_t([-(1 << 62), 1 << 62])  # huge dod -> 64-bit escape


@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(allow_nan=False, width=64), max_size=300))
def test_float_roundtrip_property(xs):
    roundtrip_f(xs)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=300))
def test_ts_roundtrip_property(xs):
    roundtrip_t(xs)


def test_compression_ratio_on_regular_series():
    # the engine's actual workload: dense regular buckets, smooth counts
    base = 1_735_689_600_000_000
    ts = base + np.arange(4096) * 60_000_000
    enc = encode_timestamps(ts)
    assert len(enc) < 4096 * 8 / 16, len(enc)  # >16x on regular timestamps
    rng = np.random.default_rng(7)
    counts = np.maximum(0, rng.poisson(6, 4096)).astype(np.float64)
    encv = encode_floats(counts)
    assert len(encv) < 4096 * 8 / 2, len(encv)  # >2x on count-like floats


# --- encode_chunk_batch: one segmented encode == the per-chunk codecs ---

SPECIAL = [0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324, -5e-324, 2.2250738585072014e-308]
FLOATS = st.one_of(
    st.floats(width=64),  # NaN, infinities and subnormals included
    st.sampled_from(SPECIAL),
    st.sampled_from([1.0, 2.0]),  # runs of equal values: k = 0 chunks
)
TS_MAX = 2**62


def per_chunk(ts, vals, lens):
    """The layout reference: one encode_timestamps / encode_floats call
    per chunk."""
    ts, vals = np.asarray(ts, dtype=np.int64), np.asarray(vals, dtype=np.float64)
    starts = np.cumsum(lens, dtype=np.int64) - lens
    return (
        [encode_timestamps(ts[s : s + n]) for s, n in zip(starts, lens)],
        [encode_floats(vals[s : s + n]) for s, n in zip(starts, lens)],
    )


def assert_batch_equals_reference(ts, vals, lens):
    got = encode_chunk_batch(
        np.asarray(ts, dtype=np.int64), np.asarray(vals, dtype=np.float64), lens
    )
    assert got == per_chunk(ts, vals, lens)


@st.composite
def chunked_series(draw):
    n = draw(st.integers(0, 120))
    vals = draw(st.lists(FLOATS, min_size=n, max_size=n))
    if draw(st.booleans()):  # arbitrary: non-monotone, up to +-2^62
        ts = draw(st.lists(st.integers(-TS_MAX, TS_MAX), min_size=n, max_size=n))
    else:  # a regular grid, mostly-zero dods
        t0 = draw(st.integers(-TS_MAX, TS_MAX // 2))
        step = draw(st.sampled_from([1, 60_000_000, 3_600_000_000]))
        ts = [t0 + i * step for i in range(n)]
    if draw(st.booleans()):  # one chunk size: 1, dividing n or not
        size = draw(st.integers(1, n + 2))
        lens = [min(size, n - lo) for lo in range(0, n, size)]
    else:  # free cut points
        cuts = sorted(draw(st.sets(st.integers(1, max(n - 1, 1)))) & set(range(1, n)))
        lens = list(np.diff([0, *cuts, n])) if n else []
    return ts, vals, lens


@settings(max_examples=300, deadline=None)
@given(chunked_series())
def test_chunk_batch_equals_per_chunk_property(case):
    assert_batch_equals_reference(*case)


def test_chunk_batch_edge_cases():
    rng = np.random.default_rng(11)
    base = 1_735_689_600_000_000
    grid = base + np.arange(50) * 60_000_000
    vals = rng.integers(0, 4, 50).astype(np.float64)
    assert_batch_equals_reference(grid, vals, [1] * 50)  # chunk size 1
    assert_batch_equals_reference(grid, vals, [16, 16, 16, 2])  # 16 !| 50
    assert_batch_equals_reference(grid[:3], vals[:3], [1, 1, 1])  # n=1 chunks
    assert_batch_equals_reference(grid, np.full(50, 7.0), [7] * 7 + [1])  # k=0
    special = np.array(SPECIAL * 3)
    assert_batch_equals_reference(grid[: special.size], special, [4] * 5 + [3, 1])
    extreme = np.array([-TS_MAX, TS_MAX, 0, TS_MAX, -TS_MAX, 5, 3, 9])
    assert_batch_equals_reference(extreme, rng.normal(size=8), [3, 5])
    assert encode_chunk_batch(np.empty(0, np.int64), np.empty(0), []) == ([], [])


def test_chunk_batch_rejects_chunks_that_do_not_cut_the_arrays():
    ts, vals = np.arange(10), np.zeros(10)
    for lens in ([4, 0, 6], [4, 5], [4, 7], [-1, 11]):
        with pytest.raises(ValueError):
            encode_chunk_batch(ts, vals, lens)
    with pytest.raises(ValueError):
        encode_chunk_batch(ts, np.zeros(9), [10])
