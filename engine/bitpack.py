"""Vectorized big-endian bit-packing + ORC width tables (SURVEY.md §2.1 I8/I9).

Width semantics match ORC's SerializationUtils
(reference-extract/javap/SerializationUtils.txt:30-34,56):

- ``closest_fixed_bits``: round a raw bit count up into the set
  {1..24, 26, 28, 30, 32, 40, 48, 56, 64}.
- ``closest_aligned_fixed_bits``: round up into {1,2,4,8,16,24,32,40,48,56,64}
  (the SPEED / ``alignedBitpacking`` strategy — what ORC C++ emits, verified
  against golden bytes in reference-extract/PROBES.md P4/P5).
- ``encode_bit_width`` / ``decode_bit_width``: the 5-bit header codes.
- ``percentile_bits``: the 32-bucket width histogram ORC's writer uses to
  pick 90/95/100-percentile packing widths (javap/SerializationUtils.txt:7,27).

Packing is big-endian bit order (first value in the most significant bits
of the first byte), as the ORC spec requires. All kernels are numpy-only.
"""

from __future__ import annotations

import numpy as np

from .varint import bit_length_u64

# ORC's fixed-bits set and the 5-bit header encoding of widths.
FIXED_BITS = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]
ALIGNED_BITS = [1, 2, 4, 8, 16, 24, 32, 40, 48, 56, 64]

# lookup: raw width 0..64 -> closest fixed bits
_CLOSEST = np.zeros(65, dtype=np.int64)
for _w in range(65):
    for _f in FIXED_BITS:
        if _f >= _w:
            _CLOSEST[_w] = _f
            break
_CLOSEST[0] = 1  # width 0 is not representable; round up to 1

_CLOSEST_ALIGNED = np.zeros(65, dtype=np.int64)
for _w in range(65):
    for _f in ALIGNED_BITS:
        if _f >= _w:
            _CLOSEST_ALIGNED[_w] = _f
            break
_CLOSEST_ALIGNED[0] = 1

# 5-bit width codes: widths 1..24 -> codes 0..23; 26,28,30,32,40,48,56,64
# -> 24..31 (javap/SerializationUtils.txt encodeBitWidth/decodeBitWidth).
_WIDTH_TO_CODE = np.zeros(65, dtype=np.int64)
for _i, _f in enumerate(FIXED_BITS):
    _WIDTH_TO_CODE[_f] = _i
_CODE_TO_WIDTH = np.array(FIXED_BITS, dtype=np.int64)

# composed: raw bit length 0..64 -> 5-bit width code of the closest
# fixed width, in ONE table gather (the planner's histogram pass runs
# this over every value — two chained 14M-element gathers were a
# profiled hotspot)
_BITLEN_TO_CODE = _WIDTH_TO_CODE[_CLOSEST]


def closest_fixed_bits(w):
    """Round raw bit width(s) up to ORC's fixed-bits set."""
    return _CLOSEST[w] if np.ndim(w) else int(_CLOSEST[w])


def closest_aligned_fixed_bits(w):
    """Round raw bit width(s) up to byte-friendly aligned widths (SPEED)."""
    return _CLOSEST_ALIGNED[w] if np.ndim(w) else int(_CLOSEST_ALIGNED[w])


def encode_bit_width(w: int) -> int:
    """Fixed width -> 5-bit header code. ``w`` must be in FIXED_BITS."""
    return int(_WIDTH_TO_CODE[w])


def decode_bit_width(code: int) -> int:
    """5-bit header code -> width in bits."""
    return int(_CODE_TO_WIDTH[code])


def bits_required(u: np.ndarray) -> np.ndarray:
    """Per-value closest-fixed-bits (>=1) of uint64 values."""
    return _CLOSEST[bit_length_u64(u)]


def percentile_bits(u: np.ndarray, p: float, aligned: bool = False) -> int:
    """Smallest fixed width covering fraction ``p`` of the values.

    ORC semantics (SerializationUtils.percentileBits): build a 32-bucket
    histogram of per-value closest-fixed-bits codes, then walk from the
    widest bucket down, allowing ``int(n * (1 - p))`` values to overflow.
    """
    u = np.ascontiguousarray(u, dtype=np.uint64)
    n = u.size
    if n == 0:
        return 1
    codes = _WIDTH_TO_CODE[_CLOSEST[bit_length_u64(u)]]
    hist = np.bincount(codes, minlength=32)
    allowed = int(n * (1.0 - p))
    acc = np.cumsum(hist[::-1])  # from widest down
    idx = int(np.argmax(acc > allowed))  # first bucket where budget exceeded
    w = int(_CODE_TO_WIDTH[31 - idx])
    if aligned:
        w = int(_CLOSEST_ALIGNED[w])
    return w


def max_bits(u: np.ndarray) -> int:
    """closest_fixed_bits of the max value (>=1)."""
    u = np.ascontiguousarray(u, dtype=np.uint64)
    if u.size == 0:
        return 1
    return int(_CLOSEST[int(bit_length_u64(np.array([u.max()], np.uint64))[0])])


def _pack_rows(mat: np.ndarray, w: int) -> np.ndarray:
    """Pack a (k, L) uint64 matrix row-wise at width ``w`` -> (k, ceil(L*w/8))
    uint8. Fast paths: byte-multiple widths via byte lanes; widths 1/2/4 via
    byte folding (these cover the whole aligned/SPEED width set, so the hot
    path never materializes a 64-column bit matrix)."""
    k, L = mat.shape
    if w % 8 == 0:
        nb = w // 8
        if nb in (1, 2, 4):
            # native big-endian lane cast: one pass, no 8-byte blowup
            dt = {1: ">u1", 2: ">u2", 4: ">u4"}[nb]
            return mat.astype(dt).view(np.uint8).reshape(k, L * nb)
        b = mat.reshape(-1).astype(">u8").view(np.uint8).reshape(k, L, 8)
        return np.ascontiguousarray(b[:, :, 8 - nb:]).reshape(k, L * nb)
    if w in (1, 2, 4):
        per = 8 // w
        Lp = (L + per - 1) // per * per
        if Lp != L:
            m = np.zeros((k, Lp), dtype=np.uint8)
            m[:, :L] = mat
        else:
            m = mat.astype(np.uint8)
        m = m.reshape(k, Lp // per, per)
        out = np.zeros((k, Lp // per), dtype=np.uint8)
        for j in range(per):
            out |= m[:, :, j] << ((per - 1 - j) * w)
        return out
    if w < 64:
        # odd widths: each value lands in at most TWO big-endian u64
        # output words (stride w < 64), so build per-value aligned
        # contributions and combine with one segmented OR per word —
        # ~40 bytes of traffic per value vs ~130 for the
        # unpackbits->packbits bit-matrix fallback. The column
        # geometry (word index, shifts) is shared by all k rows.
        bitpos = np.arange(L, dtype=np.int64) * w
        word = bitpos >> 6
        off = bitpos & 63
        spill = off + w - 64            # bits overflowing into word+1
        pos = spill > 0
        sh_hi = np.where(pos, spill, -spill).astype(np.uint64)
        hi = np.where(pos, mat >> sh_hi, mat << sh_hi)
        nwords = (L * w + 63) >> 6
        words = np.zeros((k, nwords), dtype=np.uint64)
        last = int(word[-1]) + 1
        starts = np.searchsorted(word, np.arange(last))
        words[:, :last] = np.bitwise_or.reduceat(hi, starts, axis=1)
        sp = np.flatnonzero(pos)
        if sp.size:
            # at most one value straddles any word boundary, so the
            # spill targets are unique — plain assignment-OR
            words[:, word[sp] + 1] |= \
                mat[:, sp] << (64 - spill[sp]).astype(np.uint64)
        out = words.astype(">u8").view(np.uint8).reshape(k, nwords * 8)
        return np.ascontiguousarray(out[:, :(L * w + 7) // 8])
    bv = mat.reshape(-1).astype(">u8").view(np.uint8).reshape(k * L, 8)
    bits = np.unpackbits(bv, axis=1)[:, 64 - w:].reshape(k, L * w)
    return np.packbits(bits, axis=1)


def _unpack_rows(rows: np.ndarray, L: int, w: int) -> np.ndarray:
    """Inverse of :func:`_pack_rows`: (k, nbytes) uint8 -> (k, L) uint64."""
    k = rows.shape[0]
    if w % 8 == 0:
        nb = w // 8
        if nb in (1, 2, 4):
            # native big-endian lane view: no (k, L, 8) zero matrix
            # (w=16, the token-stream staple, measured ~15x faster)
            dt = {1: ">u1", 2: ">u2", 4: ">u4"}[nb]
            lanes = np.ascontiguousarray(rows[:, : L * nb])
            return lanes.reshape(-1).view(dt).astype(np.uint64) \
                .reshape(k, L)
        full = np.zeros((k, L, 8), dtype=np.uint8)
        full[:, :, 8 - nb:] = rows[:, : L * nb].reshape(k, L, nb)
        return full.reshape(-1).view(">u8").astype(np.uint64).reshape(k, L)
    if w in (1, 2, 4):
        per = 8 // w
        nb = (L + per - 1) // per
        mask = np.uint8((1 << w) - 1)
        out = np.empty((k, nb, per), dtype=np.uint8)
        r = rows[:, :nb]
        for j in range(per):
            out[:, :, j] = (r >> ((per - 1 - j) * w)) & mask
        return out.reshape(k, nb * per)[:, :L].astype(np.uint64)
    if w <= 56:
        # odd widths: gather the 8 bytes covering each value as a
        # big-endian u64 window and shift/mask — ~8 bytes of traffic
        # per value vs ~72 for the unpackbits->packbits fallback
        # (measured ~2x faster decode on width-heavy streams)
        bitpos = np.arange(L, dtype=np.int64) * w
        byte0 = bitpos >> 3
        shift = (64 - w - (bitpos & 7)).astype(np.uint64)
        padded = np.zeros((k, rows.shape[1] + 8), dtype=np.uint8)
        padded[:, : rows.shape[1]] = rows
        idx = byte0[:, None] + np.arange(8)
        win = np.ascontiguousarray(padded[:, idx])       # (k, L, 8)
        u = win.reshape(-1, 8).view(">u8").astype(np.uint64) \
            .reshape(k, L)
        return (u >> shift) & np.uint64((1 << w) - 1)
    bits = np.unpackbits(rows, axis=1)
    need = L * w
    if bits.shape[1] < need:
        bits = np.pad(bits, ((0, 0), (0, need - bits.shape[1])))
    bits = bits[:, :need].reshape(k * L, w)
    full = np.zeros((k * L, 64), dtype=np.uint8)
    full[:, 64 - w:] = bits
    return np.packbits(full, axis=1).reshape(-1).view(">u8") \
        .astype(np.uint64).reshape(k, L)


def pack_bits(v: np.ndarray, w: int) -> np.ndarray:
    """Pack uint64 values at width ``w`` bits, big-endian bit order.

    Returns a uint8 array of ceil(n*w/8) bytes (zero-padded tail bits).
    """
    v = np.ascontiguousarray(v, dtype=np.uint64)
    n = v.size
    if n == 0 or w == 0:
        return np.zeros(0, dtype=np.uint8)
    return _pack_rows(v.reshape(1, n), w).reshape(-1)[: (n * w + 7) // 8]


def unpack_bits(buf: np.ndarray, n: int, w: int) -> np.ndarray:
    """Inverse of :func:`pack_bits` -> uint64 array of length ``n``."""
    if n == 0 or w == 0:
        return np.zeros(n, dtype=np.uint64)
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    need = (n * w + 7) // 8
    if buf.size < need:
        raise ValueError(f"bitpack buffer too short: {buf.size} < {need}")
    buf = buf[:need]
    return _unpack_rows(buf.reshape(1, need), n, w).reshape(-1)


def packed_matrix(vals: np.ndarray, lens: np.ndarray, w: int
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Batch-pack many independent windows at one width.

    ``vals`` is the concatenation of all windows' uint64 values, ``lens``
    the per-window value counts. Each window's payload is padded to a byte
    boundary independently (ORC chunk payloads are byte-aligned).

    Returns ``(bytes, nbytes_per_window)`` where ``bytes`` is the
    concatenated payloads. Vectorized via a rectangular (k, max_len)
    matrix — no per-window Python loop.
    """
    k = lens.size
    if k == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    nbytes = (lens * w + 7) // 8
    max_len = int(lens.max())
    if int(lens.min()) == max_len:
        # uniform windows (full chunks, the common case): the matrix IS
        # the concatenation — skip both boolean-mask scatter/gathers
        rows = _pack_rows(vals.reshape(k, max_len), w)
        if rows.shape[1] == int(nbytes[0]):
            return rows.reshape(-1), nbytes
        return rows[:, : int(nbytes[0])].reshape(-1), nbytes
    if k > 1 and int(lens[:-1].min()) == int(lens[:-1].max()) == max_len:
        # uniform except a short trailing remainder (a MAX_SCOPE split's
        # natural shape): pack the contiguous full-window prefix via the
        # reshape path and the tail alone — no (k, max) rectangle, no
        # boolean masks
        split = (k - 1) * max_len
        rows = _pack_rows(vals[:split].reshape(k - 1, max_len), w)
        if rows.shape[1] != int(nbytes[0]):
            rows = np.ascontiguousarray(rows[:, : int(nbytes[0])])
        tail = pack_bits(vals[split:], w)
        return np.concatenate([rows.reshape(-1), tail]), nbytes
    mat = np.zeros((k, max_len), dtype=np.uint64)
    col = np.arange(max_len)
    valid = col[None, :] < lens[:, None]
    mat[valid] = vals
    rows = _pack_rows(mat, w)
    bcol = np.arange(rows.shape[1])
    bvalid = bcol[None, :] < nbytes[:, None]
    return rows[bvalid], nbytes


def unpack_matrix(payload: np.ndarray, lens: np.ndarray, w: int) -> np.ndarray:
    """Inverse of :func:`packed_matrix`: concatenated per-window payloads
    (each byte-aligned) -> concatenated uint64 values."""
    k = lens.size
    if k == 0:
        return np.zeros(0, dtype=np.uint64)
    payload = np.ascontiguousarray(payload, dtype=np.uint8)
    nbytes = (lens * w + 7) // 8
    max_nb = int(nbytes.max())
    max_len = int(lens.max())
    if int(lens.min()) == max_len:
        # uniform windows: reshape is the inverse directly
        rows = payload.reshape(k, max_nb)
        return _unpack_rows(rows, max_len, w).reshape(-1)
    if k > 1 and int(lens[:-1].min()) == int(lens[:-1].max()) == max_len:
        # uniform except a short trailing remainder (a MAX_SCOPE
        # split's natural shape): payload prefix rows are contiguous
        # and equal-sized — reshape + one tail decode, no rectangle
        split = (k - 1) * int(nbytes[0])
        head = _unpack_rows(payload[:split].reshape(k - 1, int(nbytes[0])),
                            max_len, w).reshape(-1)
        tail = unpack_bits(payload[split:], int(lens[-1]), w)
        return np.concatenate([head, tail])
    rows = np.zeros((k, max_nb), dtype=np.uint8)
    bcol = np.arange(max_nb)
    bvalid = bcol[None, :] < nbytes[:, None]
    rows[bvalid] = payload
    mat = _unpack_rows(rows, max_len, w)
    col = np.arange(max_len)
    valid = col[None, :] < lens[:, None]
    return mat[valid]
