"""Per-type encoders beyond the token-table core (SURVEY.md §2.4
T1-T5, S5): float/double, date, timestamp, decimal64, binary,
char/varchar. Stream layouts follow the ORC v1 spec; each has a
cross-implementation decode test against files written by ORC C++
(tests/test_types.py).
"""

from __future__ import annotations

import numpy as np

from . import rle2
from ._util import cumsum0
from .strings import strings_from_bytes

MILLIS_PER_SECOND = 1000  # javap/TimestampTreeWriter.txt:4
# ORC timestamp epoch: 2015-01-01 00:00:00 UTC
# (javap/TimestampTreeWriter.txt:3 BASE_TIMESTAMP_STRING)
BASE_TIMESTAMP_EPOCH = 1420070400


# --- T1: float / double — raw IEEE-754 little-endian DATA stream ----------

def encode_floats(v, double: bool = True) -> np.ndarray:
    dt = np.float64 if double else np.float32
    return np.ascontiguousarray(v, dtype=dt).view(np.uint8).copy()


def decode_floats(buf, n: int, double: bool = True) -> np.ndarray:
    dt = np.float64 if double else np.float32
    return np.frombuffer(bytes(buf), dtype=dt, count=n)


# --- T4: date — RLEv2 signed days since 1970 -------------------------------

def encode_date(days) -> np.ndarray:
    return rle2.encode_rlev2(np.asarray(days, dtype=np.int64), signed=True)


def decode_date(buf, n: int) -> np.ndarray:
    return rle2.decode_rlev2(buf, n, signed=True)


# --- T3: timestamp — DATA seconds from 2015 epoch (signed RLEv2) +
#     SECONDARY nanos with trailing-zero count packed in low 3 bits -------

def encode_timestamp(epoch_nanos, convention: str = "cpp"
                     ) -> tuple[np.ndarray, np.ndarray]:
    """int64 UTC nanos-since-1970 -> (DATA, SECONDARY) streams.

    Pre-1970 ``convention="cpp"`` (default; verified against
    pyarrow-written stream bytes): seconds truncate TOWARD ZERO and the
    sub-second part is a SIGNED nano count in (-1e9, 1e9) carried
    two's-complement through the nominally-unsigned SECONDARY stream —
    e.g. -2.5s is (secs=-2, nanos=-5e8 -> (-5<<3)|7 = -33). This is
    lossless for every instant (no ambiguous second).

    ``convention="java"`` writes the orc-core layout (the ORC-611
    divergence), byte-verified against spark.write.orc streams in
    tests/test_types.py: nanos are always POSITIVE in [0, 1e9)
    (floor-mod) and seconds come from the java.sql.Timestamp
    millisecond path — ``trunc(floor(t / 1ms) / 1000)``. The matching
    decoder applies orc-core's ``seconds -= 1`` fix-up when seconds
    < 0 and the nanos carry a millisecond part. Both conventions
    round-trip exactly through their own decoder EXCEPT java for
    instants in (-1s, 0) whose sub-second has a nonzero millisecond
    part: those collide with their positive counterpart ((0, N) pairs)
    and read back positive — orc-core itself loses them identically
    (verified: -1us -> +999999us through spark.write.orc +
    spark.read.orc), so byte-compatibility demands reproducing the
    loss, not fixing it.
    """
    t = np.asarray(epoch_nanos, dtype=np.int64)
    if convention == "java":
        ms = np.floor_divide(t, 1_000_000)
        secs = np.sign(ms) * (np.abs(ms) // 1000)  # trunc toward zero
        nanos = t - np.floor_divide(t, 1_000_000_000) * 1_000_000_000
    else:
        # trunc toward zero (C++ integer division), not floor
        secs = np.sign(t) * (np.abs(t) // 1_000_000_000)
        nanos = t - secs * 1_000_000_000  # same sign as t
    data = rle2.encode_rlev2(secs - BASE_TIMESTAMP_EPOCH, signed=True)
    # strip 2..8 trailing decimal zeros; the low 3 bits store
    # (count - 1), so code 0 unambiguously means "nothing stripped"
    # (verified against ORC C++ stream bytes: 100000300 -> 1000003<<3|1)
    zeros = np.zeros(t.size, dtype=np.int64)
    stripped = nanos.copy()
    for _ in range(8):
        can = (zeros < 8) & (stripped % 10 == 0) & (stripped != 0)
        stripped = np.where(can, stripped // 10, stripped)
        zeros += can
    # (stripped << 3) | code on negative stripped reproduces C++'s
    # two's-complement arithmetic exactly
    enc = np.where(zeros >= 2, (stripped << 3) | (zeros - 1), nanos << 3)
    secondary = rle2.encode_rlev2(enc, signed=False)
    return data, secondary


def decode_timestamp(data, secondary, n: int,
                     convention: str = "cpp") -> np.ndarray:
    secs = rle2.decode_rlev2(data, n, signed=True)
    enc = rle2.decode_rlev2(secondary, n, signed=False)
    return timestamp_from_parts(secs, enc, convention)


def timestamp_from_parts(secs_rel: np.ndarray, enc: np.ndarray,
                         convention: str = "cpp") -> np.ndarray:
    """Combine decoded DATA (seconds relative to the 2015 epoch) and
    SECONDARY (packed nanos) arrays into epoch nanos — the stream-
    independent half of :func:`decode_timestamp`, used by the ORC
    stripe decoder, which decodes the two streams itself (under the
    column's RLE version, from a row group's positions or from each
    stream's beginning)."""
    secs = secs_rel + BASE_TIMESTAMP_EPOCH
    zeros = (enc & 7).astype(np.int64)          # two's-complement & : 0..7
    vals = (enc >> 3).astype(np.int64)          # arithmetic shift: signed
    nanos = vals * np.power(10, np.where(zeros > 0, zeros + 1, 0))
    if convention == "java":
        # orc-core reader fix-up (ORC-611): negative seconds with a
        # millisecond part in the nanos stored seconds one too high
        secs = np.where((secs < 0) & (nanos // 1_000_000 > 0),
                        secs - 1, secs)
    return secs * 1_000_000_000 + nanos


# --- T2: decimal64 — RLEv2 unscaled values + declared (precision, scale) --

def encode_decimal64(unscaled) -> np.ndarray:
    """Decimal64 fast path (precision <= 18, orc-core
    Decimal64TreeWriter): one RLEv2 signed stream of unscaled longs;
    the scale lives in the declared type, not the stream."""
    return rle2.encode_rlev2(np.asarray(unscaled, dtype=np.int64),
                             signed=True)


def decode_decimal64(buf, n: int) -> np.ndarray:
    return rle2.decode_rlev2(buf, n, signed=True)


# --- T5: binary — DATA bytes + LENGTH RLEv2 -------------------------------

def encode_binary(data: np.ndarray, lengths) -> dict:
    return {"data": np.ascontiguousarray(data, dtype=np.uint8),
            "length": rle2.encode_rlev2(
                np.asarray(lengths, dtype=np.int64), signed=False)}


def decode_binary(enc: dict, n: int) -> tuple[np.ndarray, np.ndarray]:
    lengths = rle2.decode_rlev2(enc["length"], n, signed=False)
    return np.frombuffer(bytes(enc["data"]), dtype=np.uint8), lengths


# --- S5: char / varchar — string streams with pad / truncate --------------

def apply_char_semantics(data: np.ndarray, lengths: np.ndarray,
                         width: int, pad: bool) -> tuple[np.ndarray,
                                                         np.ndarray]:
    """CHAR(pad=True) right-pads with spaces; VARCHAR truncates to the
    declared width. Byte-width semantics (ASCII widths), vectorized."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n = len(lengths)
    offs = cumsum0(lengths)
    new_len = np.minimum(lengths, width) if not pad \
        else np.full(n, width, dtype=np.int64)
    out = np.full(int(new_len.sum()), ord(" "), dtype=np.uint8)
    new_offs = cumsum0(new_len)
    take = np.minimum(lengths, width)
    # gather the kept prefix of each value
    from ._util import span_positions
    out[span_positions(new_offs[:-1], take)] = \
        data[span_positions(offs[:-1], take)]
    return out, new_len


def encode_char(arr_data: np.ndarray, lengths, width: int,
                pad: bool = True) -> dict:
    data, new_len = apply_char_semantics(
        np.asarray(arr_data, dtype=np.uint8),
        np.asarray(lengths, dtype=np.int64), width, pad)
    return encode_binary(data, new_len)


def decode_char(enc: dict, n: int):
    data, lengths = decode_binary(enc, n)
    return strings_from_bytes(data, lengths)
