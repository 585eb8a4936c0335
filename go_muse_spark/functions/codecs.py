"""Chunk codecs: XOR float compression + delta-of-delta timestamps
(north_rule L3), in a fully numpy-vectorized columnar layout.

The classic Gorilla bit layout (Pelkonen et al., VLDB 2015) interleaves
per-point control bits with variable-width payloads, which forces a
point-at-a-time encode/decode loop — fine in C, but the Python
interpreter loop was the single largest CPU consumer in the pipeline
(~1 us/point) and capped compression throughput at ~1 Mpts/s/core.

This engine stores the same information in SECTIONS, so every step is a
whole-chunk numpy operation (~30-100x faster, small L1/L2-resident
working sets):

values (float64 -> XOR chain), per chunk:
  [0] u8 version (=2)
  [1] u8 lz   leading-zero count shared by the chunk's nonzero XORs
  [2] u8 tz   trailing-zero count shared likewise
  [3:11]  u64 LE raw IEEE-754 bits of the first value
  bitmap  ceil((n-1)/8) bytes: bit i set iff xor_i != 0
  payload k * W bits (W = 64-lz-tz), MSB-first: (xor >> tz) for each
          nonzero xor, in order

timestamps (int64 epoch-us -> delta-of-delta, prev_delta starts 0):
  [0] u8 version (=2)
  [1] u8 W    zigzag(dod) bit width (max over the chunk)
  [2:10]  u64 LE first timestamp (two's complement)
  bitmap  ceil((n-1)/8) bytes: bit i set iff dod_i != 0
  payload k * W bits: zigzag(dod) for each nonzero dod

Same compression idea as Gorilla — XOR chains with leading/trailing-zero
windows, dod ~ 0 on regular buckets — but the window (lz, tz / W) is
chosen once per chunk instead of per point (Parquet-style bit-packing).
Dense regular tiers still cost ~1 bit/point on both columns; the whole
transform is exact (bit-for-bit round trip, incl. NaN/denormals/wraps:
every op is mod-2^64 linear).

encode_floats / encode_timestamps encode one chunk each and are the
layout reference. The chunk encoders (operators/compress.py) make one
encode_chunk_batch call per group of series instead: it runs the same
steps as segmented passes over every chunk of the group at once (edge-
masked deltas and XORs, per-chunk widths by reduceat, one packbits for
all bitmaps, payload fields OR-ed into 64-bit words) and is tested byte
for byte against the per-chunk functions. Decoding stays per chunk.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "encode_chunk_batch",
    "encode_floats",
    "decode_floats",
    "encode_timestamps",
    "decode_timestamps",
]

_U64 = np.uint64
_VERSION = 2


def _bitlen(x: np.ndarray) -> np.ndarray:
    """Vectorized bit length of uint64 values (0 -> 0).

    Exact: float64 log2 is computed on <=32-bit halves, where
    log2(2^k - 1) < k by far more than one ulp.
    """
    hi = (x >> _U64(32)).astype(np.float64)
    lo = (x & _U64(0xFFFFFFFF)).astype(np.float64)
    with np.errstate(divide="ignore"):
        bl_hi = np.where(hi > 0, np.floor(np.log2(np.maximum(hi, 1))) + 1, 0)
        bl_lo = np.where(lo > 0, np.floor(np.log2(np.maximum(lo, 1))) + 1, 0)
    return np.where(hi > 0, 32 + bl_hi, bl_lo).astype(np.int64)


def _pack_fixed(vals: np.ndarray, width: int) -> bytes:
    """Pack uint64 values into width-bit MSB-first fields."""
    if width == 0 or vals.size == 0:
        return b""
    shifts = np.arange(width - 1, -1, -1, dtype=_U64)
    bits = ((vals[:, None] >> shifts[None, :]) & _U64(1)).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _unpack_fixed(data: np.ndarray, k: int, width: int) -> np.ndarray:
    """Inverse of _pack_fixed -> uint64[k]."""
    if k == 0 or width == 0:
        return np.zeros(k, dtype=_U64)
    bits = np.unpackbits(data, count=k * width).reshape(k, width).astype(_U64)
    out = np.zeros(k, dtype=_U64)
    one = _U64(1)
    for j in range(width):
        out = (out << one) | bits[:, j]
    return out


def encode_floats(values: np.ndarray) -> bytes:
    """XOR-encode a float64 vector (sectioned layout above). Empty -> b""."""
    bits = np.ascontiguousarray(values, dtype=np.float64).view(_U64)
    n = bits.size
    if n == 0:
        return b""
    first = bits[:1].tobytes()  # 8 bytes LE
    if n == 1:
        return bytes([_VERSION, 0, 0]) + first
    xors = bits[:-1] ^ bits[1:]
    mask = xors != 0
    k = int(mask.sum())
    if k:
        nz = xors[mask]
        lz = int(64 - _bitlen(nz).max())
        low = nz & (_U64(0) - nz)  # lowest set bit
        tz = int((_bitlen(low) - 1).min())
        width = 64 - lz - tz
        payload = _pack_fixed(nz >> _U64(tz), width)
    else:
        lz = tz = 0
        payload = b""
    bitmap = np.packbits(mask).tobytes()
    return bytes([_VERSION, lz, tz]) + first + bitmap + payload


def decode_floats(data: bytes, n: int) -> np.ndarray:
    """Inverse of encode_floats; n = point count."""
    if n == 0:
        return np.empty(0, dtype=np.float64)
    buf = np.frombuffer(data, dtype=np.uint8)
    if buf[0] != _VERSION:
        raise ValueError(
            f"unsupported float-chunk version {int(buf[0])} (expected {_VERSION})"
        )
    lz, tz = int(buf[1]), int(buf[2])
    out = np.empty(n, dtype=_U64)
    out[0] = buf[3:11].view(_U64)[0]
    if n == 1:
        return out.view(np.float64)
    nb = (n - 1 + 7) // 8
    mask = np.unpackbits(buf[11 : 11 + nb], count=n - 1).astype(bool)
    k = int(mask.sum())
    vals = _unpack_fixed(buf[11 + nb :], k, 64 - lz - tz) << _U64(tz)
    out[1:] = 0
    out[1:][mask] = vals
    return np.bitwise_xor.accumulate(out).view(np.float64)


def encode_timestamps(ts_us: np.ndarray) -> bytes:
    """Delta-of-delta-encode an int64 vector (sectioned layout above).

    All arithmetic is mod 2^64 (numpy wraparound), so extreme int64
    inputs round-trip exactly.
    """
    ts = np.ascontiguousarray(ts_us, dtype=np.int64)
    n = ts.size
    if n == 0:
        return b""
    first = ts[:1].tobytes()
    if n == 1:
        return bytes([_VERSION, 0]) + first
    deltas = ts[1:].view(_U64) - ts[:-1].view(_U64)
    dods = np.empty_like(deltas)
    dods[0] = deltas[0]
    dods[1:] = deltas[1:] - deltas[:-1]
    signed = dods.view(np.int64)
    zig = ((signed << np.int64(1)) ^ (signed >> np.int64(63))).view(_U64)
    mask = zig != 0
    k = int(mask.sum())
    if k:
        nz = zig[mask]
        width = int(_bitlen(nz).max())
        payload = _pack_fixed(nz, width)
    else:
        width = 0
        payload = b""
    bitmap = np.packbits(mask).tobytes()
    return bytes([_VERSION, width]) + first + bitmap + payload


def encode_chunk_batch(
    ts_us: np.ndarray, values: np.ndarray, lens
) -> tuple[list[bytes], list[bytes]]:
    """Encode consecutive chunks in one set of segmented numpy passes.

    The chunks cut both arrays end to end: chunk i is the lens[i] >= 1
    points after the first sum(lens[:i]). Returns (ts_bytes, val_bytes),
    one entry per chunk, equal byte for byte to encode_timestamps /
    encode_floats of that slice. The per-chunk functions cost ~30 small
    numpy calls each, so on short chunks their call overhead is most of
    the encode; here the call count does not grow with the chunks.
    """
    ts = np.ascontiguousarray(ts_us, dtype=np.int64).view(_U64)
    fb = np.ascontiguousarray(values, dtype=np.float64).view(_U64)
    lens = np.asarray(lens, dtype=np.int64)
    if ts.size != fb.size or lens.sum() != ts.size or (lens < 1).any():
        raise ValueError("chunks of >= 1 point must cut both arrays end to end")
    if not lens.size:
        return [], []
    first = np.cumsum(lens) - lens
    return _dod_batch(ts, first, lens), _xor_batch(fb, first, lens)


def _chunk_or(nz, k):
    """Bitwise OR of each chunk's nonzero entries (nz holds k[c] of them
    for chunk c, in order; 0 for a chunk with none). Its bit length is
    the chunk's largest bit length and its trailing zeros the chunk's
    fewest, so the per-chunk widths never need a per-point _bitlen."""
    out = np.zeros(k.size, dtype=_U64)
    has = k > 0
    if nz.size:
        out[has] = np.bitwise_or.reduceat(nz, (np.cumsum(k) - k)[has])
    return out


def _flags(v, first):
    """v's nonzero flags, its nonzero entries in order, and how many of
    them each chunk holds (v is zero at every chunk start)."""
    mask = v != 0
    return mask, v[mask], np.add.reduceat(mask, first, dtype=np.int64)


def _dods(ts, first):
    """zigzag(dod) per point, restarting (prev_delta 0) in every chunk."""
    d = np.zeros(ts.size, dtype=_U64)
    np.subtract(ts[1:], ts[:-1], out=d[1:])
    d[first] = 0
    dod = np.zeros(ts.size, dtype=_U64)
    np.subtract(d[1:], d[:-1], out=dod[1:])
    dod[first] = 0
    signed = dod.view(np.int64)
    return ((signed << np.int64(1)) ^ (signed >> np.int64(63))).view(_U64)


def _xors(fb, first):
    """XOR with the previous point per point, 0 at every chunk start."""
    x = np.zeros(fb.size, dtype=_U64)
    np.bitwise_xor(fb[1:], fb[:-1], out=x[1:])
    x[first] = 0
    return x


def _dod_batch(ts, first, lens) -> list[bytes]:
    """encode_timestamps of every chunk of ts (chunk c starts at
    first[c], lens[c] >= 1 points)."""
    mask, nz, k = _flags(_dods(ts, first), first)
    width = _bitlen(_chunk_or(nz, k))
    head = np.empty((lens.size, 10), dtype=np.uint8)
    head[:, 0] = _VERSION
    head[:, 1] = width
    head[:, 2:] = ts[first].view(np.uint8).reshape(-1, 8)
    return _sections(head, mask, first, lens, nz, k, width)


def _xor_batch(fb, first, lens) -> list[bytes]:
    """encode_floats of every chunk of fb (float64 bits; chunk c starts
    at first[c], lens[c] >= 1 points)."""
    mask, nz, k = _flags(_xors(fb, first), first)
    both = _chunk_or(nz, k)
    lz = np.where(k > 0, 64 - _bitlen(both), 0)
    tz = np.where(k > 0, _bitlen(both & (_U64(0) - both)) - 1, 0)
    head = np.empty((lens.size, 11), dtype=np.uint8)
    head[:, 0] = _VERSION
    head[:, 1] = lz
    head[:, 2] = tz
    head[:, 3:] = fb[first].view(np.uint8).reshape(-1, 8)
    nz >>= np.repeat(tz, k).astype(_U64)
    return _sections(head, mask, first, lens, nz, k, 64 - lz - tz)


def _sections(head, mask, first, lens, payload, k, width) -> list[bytes]:
    """Lay out every chunk as head | bitmap | payload, each section padded
    to whole bytes, and cut the result into one bytes object per chunk.

    head: (chunks, h) uint8 header rows; mask: the per-point nonzero
    flags (False at every chunk start); payload: the k[c] values of each
    chunk in order, width[c] bits each."""
    h = head.shape[1]
    bm_len = (lens + 6) // 8  # ceil((n-1)/8)
    pl_len = (k * width + 7) // 8
    size = h + bm_len + pl_len
    off = np.cumsum(size) - size
    total = int(off[-1] + size[-1])
    # payload fields go straight to their bit offsets in the output
    w = np.repeat(width.astype(np.uint8), k)
    pos = np.arange(payload.size)
    pos -= np.repeat(np.cumsum(k) - k, k)  # rank within the chunk
    pos *= w
    pos += np.repeat(8 * (off + h + bm_len), k)
    out = _pack_fields(total, pos, payload, w)
    del pos, w
    out[(off[:, None] + np.arange(h)).ravel()] = head.ravel()
    # one packbits over every chunk's bitmap, each padded to whole bytes
    bm_off = np.cumsum(bm_len) - bm_len
    bits = np.zeros(8 * int(bm_off[-1] + bm_len[-1]), dtype=np.uint8)
    bits[np.flatnonzero(mask) + np.repeat(8 * bm_off - first - 1, k)] = 1
    bm = np.packbits(bits)
    del bits
    out[np.repeat(off + h - bm_off, bm_len) + np.arange(bm.size)] = bm
    buf = out.tobytes()
    return [buf[a:b] for a, b in zip(off.tolist(), (off + size).tolist())]


def _pack_fields(nbytes: int, pos, vals, width) -> np.ndarray:
    """An nbytes uint8 buffer, zero except for each vals[i] written
    MSB-first as width[i] >= 1 bits at bit offset pos[i] (ascending,
    fields disjoint). A field spans at most two 64-bit big-endian words:
    the parts that start in one word are OR-ed together with one
    reduceat, and the part that runs into the next word is OR-ed in
    after (at most one field crosses each word boundary), so no
    temporary holds an entry per bit."""
    words = np.zeros(-(-nbytes // 8), dtype=_U64)
    if vals.size:
        q = pos >> 6
        spill = pos & 63
        spill += width
        spill -= 64  # > 0: that many bits run into word q+1
        # the part in word q: left-align a field that ends inside it,
        # drop the bits that spill; shift amounts are 0..63 either way
        shift = np.negative(spill)
        np.maximum(shift, 0, out=shift)
        head = vals << shift.view(_U64)
        np.maximum(spill, 0, out=shift)
        head >>= shift.view(_U64)
        del shift
        run = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        words[q[run]] = np.bitwise_or.reduceat(head, run)
        del head, run
        s = np.flatnonzero(spill > 0)
        words[q[s] + 1] |= vals[s] << (64 - spill[s]).view(_U64)
    return words.astype(">u8").view(np.uint8)[:nbytes]


def decode_timestamps(data: bytes, n: int) -> np.ndarray:
    """Inverse of encode_timestamps; n = point count."""
    if n == 0:
        return np.empty(0, dtype=np.int64)
    buf = np.frombuffer(data, dtype=np.uint8)
    if buf[0] != _VERSION:
        raise ValueError(
            f"unsupported timestamp-chunk version {int(buf[0])} "
            f"(expected {_VERSION})"
        )
    width = int(buf[1])
    first = buf[2:10].view(np.int64)[0]
    if n == 1:
        return np.array([first], dtype=np.int64)
    nb = (n - 1 + 7) // 8
    mask = np.unpackbits(buf[10 : 10 + nb], count=n - 1).astype(bool)
    k = int(mask.sum())
    zig = np.zeros(n - 1, dtype=_U64)
    zig[mask] = _unpack_fixed(buf[10 + nb :], k, width)
    dods = ((zig >> _U64(1)).view(np.int64)) ^ -((zig & _U64(1)).view(np.int64))
    deltas = np.cumsum(dods.view(_U64), dtype=_U64)
    out = np.empty(n, dtype=_U64)
    out[0] = np.int64(first).astype(_U64)
    out[1:] = out[0] + np.cumsum(deltas, dtype=_U64)
    return out.view(np.int64)
