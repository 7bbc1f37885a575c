"""T2 decimal128: the unbounded zigzag base-128 varint mantissas of
ORC's DECIMAL column, for the full 128-bit range (precision <= 38).

The ORC v1 spec stores a decimal's unscaled value as "an unbounded
length zigzag encoded base 128 varint" in DATA (orc-core
SerializationUtils.writeBigInteger, javap/SerializationUtils.txt:21-22)
with the per-value scale in SECONDARY (RLEv2 signed). The ORC writer
and reader (engine/orc_file.py, engine/orc_read.py) call these codecs
for every decimal precision, with numpy-vectorized two-limb
(hi:int64, lo:uint64) arithmetic — no per-value Python in the hot
loop — and :func:`rescale_limbs` brings orc-core's per-value scales
to the declared one on read.
"""

from __future__ import annotations

import numpy as np


_MAX_GROUPS = 19  # ceil(129 bits / 7): zigzag of a 128-bit value


def _zigzag128(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray,
                                                        np.ndarray]:
    """(lo:uint64, hi:int64) two's-complement 128-bit -> unsigned
    zigzag (lo, hi) as uint64 limbs: z = (n << 1) ^ (n >> 127)."""
    lo = lo.astype(np.uint64)
    hiu = hi.astype(np.uint64)
    sign = (hi >> 63).astype(np.uint64)          # 0 or 0xFFF...F
    zlo = (lo << np.uint64(1)) ^ sign
    zhi = ((hiu << np.uint64(1)) | (lo >> np.uint64(63))) ^ sign
    return zlo, zhi


def _unzigzag128(zlo: np.ndarray, zhi: np.ndarray) -> tuple[np.ndarray,
                                                            np.ndarray]:
    sign = (np.zeros_like(zlo) - (zlo & np.uint64(1)))  # 0 or all-ones
    lo = ((zlo >> np.uint64(1)) | (zhi << np.uint64(63))) ^ sign
    hi = (zhi >> np.uint64(1)) ^ sign
    return lo, hi.view(np.int64)


def _group(zlo: np.ndarray, zhi: np.ndarray, k: int) -> np.ndarray:
    """7-bit group k (bits [7k, 7k+7)) of the 128-bit zigzag value."""
    b = 7 * k
    if b >= 64:
        return ((zhi >> np.uint64(b - 64)) & np.uint64(0x7F))
    g = (zlo >> np.uint64(b))
    if b + 7 > 64:  # group spans the limb boundary
        g |= zhi << np.uint64(64 - b)
    return g & np.uint64(0x7F)


def encode_unbounded_varints(lo, hi) -> np.ndarray:
    """Vectorized unbounded zigzag varints of 128-bit (lo, hi) values."""
    lo = np.ascontiguousarray(lo, dtype=np.uint64)
    hi = np.ascontiguousarray(hi, dtype=np.int64)
    n = lo.size
    if n == 0:
        return np.zeros(0, dtype=np.uint8)
    zlo, zhi = _zigzag128(lo, hi)
    groups = np.empty((n, _MAX_GROUPS), dtype=np.uint8)
    for k in range(_MAX_GROUPS):
        groups[:, k] = _group(zlo, zhi, k)
    # bytes per value = index of the highest nonzero group + 1 (min 1)
    nz = groups != 0
    ngroups = np.where(nz.any(axis=1),
                       _MAX_GROUPS - np.argmax(nz[:, ::-1], axis=1), 1)
    k_idx = np.arange(_MAX_GROUPS)
    keep = k_idx < ngroups[:, None]
    cont = k_idx < (ngroups - 1)[:, None]
    groups = np.where(cont, groups | 0x80, groups)
    return groups[keep]  # row-major: little-endian group order per value


def decode_unbounded_varints(buf, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse: byte stream -> (lo:uint64, hi:int64) of the first n
    values."""
    b = np.frombuffer(bytes(buf), dtype=np.uint8)
    if n == 0:
        return (np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64))
    ends = np.nonzero((b & 0x80) == 0)[0][:n]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    zlo = np.zeros(n, dtype=np.uint64)
    zhi = np.zeros(n, dtype=np.uint64)
    for k in range(int(lens.max())):
        m = lens > k
        g = (b[starts[m] + k] & 0x7F).astype(np.uint64)
        shift = 7 * k
        if shift >= 64:
            zhi[m] |= g << np.uint64(shift - 64)
        else:
            zlo[m] |= g << np.uint64(shift)
            if shift + 7 > 64:
                zhi[m] |= g >> np.uint64(64 - shift)
    lo, hi = _unzigzag128(zlo, zhi)
    return lo, hi


def rescale_limbs(lo: np.ndarray, hi: np.ndarray,
                  diff: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Multiply two's-complement (lo, hi) 128-bit values by 10**diff,
    vectorized — the read-side fix-up for orc-core's per-value minimal
    scales (HiveDecimal strips trailing zeros and records each value's
    own scale in SECONDARY; readers rescale to the declared type
    scale). diff >= 0 per value; exact because the rescaled value fits
    the declared precision (< 10^38 < 2^127), so mod-2^128 limb
    arithmetic cannot lose high bits.
    """
    lo = np.ascontiguousarray(lo, dtype=np.uint64).copy()
    hi64 = np.ascontiguousarray(hi).view(np.uint64).copy()
    diff = np.asarray(diff, dtype=np.int64)
    if diff.size and diff.min() < 0:
        raise ValueError("stream scale exceeds the declared type scale")
    rem = diff.copy()
    m32 = np.uint64(0xFFFFFFFF)
    while (rem > 0).any():
        step = np.minimum(rem, 9)           # 10**9 < 2**32 per round
        m = np.power(10, step.astype(np.uint64), dtype=np.uint64)
        sel = rem > 0
        a = lo & m32
        b = lo >> np.uint64(32)
        p0 = a * m
        p1 = b * m
        new_lo = p0 + ((p1 & m32) << np.uint64(32))
        carry = (new_lo < p0).astype(np.uint64)
        new_hi = hi64 * m + (p1 >> np.uint64(32)) + carry
        lo = np.where(sel, new_lo, lo)
        hi64 = np.where(sel, new_hi, hi64)
        rem -= step
    return lo, hi64.view(np.int64)
