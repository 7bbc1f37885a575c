"""Per-type ORC stream codecs beyond the token-table core (SURVEY.md
§2.4 T1, T3, T4) that the ORC writer and reader (engine/orc_file.py,
engine/orc_read.py) call: float/double DATA bytes, date days, and the
timestamp DATA + SECONDARY pair with its two pre-1970 conventions.
Decimal mantissas live in engine/decimal128.py; the writer emits a
binary column's DATA + LENGTH pair itself; char and varchar values
are string columns (engine/strings.py). Stream layouts follow the
ORC v1 spec; tests/test_types.py round-trips each type through
write_orc/read_orc and reads files ORC C++ and orc-core wrote.
"""

from __future__ import annotations

import numpy as np

from . import rle2

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


def timestamp_from_parts(secs_rel: np.ndarray, enc: np.ndarray,
                         convention: str = "cpp") -> np.ndarray:
    """Combine decoded DATA (seconds relative to the 2015 epoch) and
    SECONDARY (packed nanos) arrays into epoch nanos — the inverse of
    :func:`encode_timestamp` once the ORC stripe decoder has decoded
    the two streams (under the column's RLE version, from a row
    group's positions or from each stream's beginning)."""
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
