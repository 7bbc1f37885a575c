"""RLEv2 round-trip + golden byte tests (SURVEY.md §5.2.1-2, FIXTURES.md)."""

import numpy as np
import pytest

from engine.rle2 import _PAD, _walk, decode_rlev2, encode_rlev2

RNG = np.random.default_rng(42)


def rt(v, signed=True, aligned=True):
    v = np.asarray(v, dtype=np.int64)
    enc = encode_rlev2(v, signed=signed, aligned=aligned)
    dec = decode_rlev2(enc, len(v), signed=signed)
    assert np.array_equal(dec, v), (v[:20], dec[:20])
    return enc


def test_golden_g1_short_repeat_then_delta():
    """FIXTURES.md G1 / PROBES.md P4: ORC C++ golden prefix."""
    v = np.array([1, 1, 1, 2, 3, 4, 5, 100000] * 100, dtype=np.int64)
    enc = rt(v)
    assert enc[:8].tobytes() == bytes.fromhex("0002ee0404020000")


def test_golden_g2_direct_ids():
    """PROBES.md P5: unsigned dictionary ids, 2-bit DIRECT, 512 chunk."""
    ids = np.array([2, 0, 2, 1] * 200, dtype=np.int64)
    enc = encode_rlev2(ids, signed=False)
    assert enc[:4].tobytes() == bytes.fromhex("43ff8989")
    assert np.array_equal(decode_rlev2(enc, len(ids), signed=False), ids)
    # LENGTH stream golden: [5, 6, 6] -> 46 02 56 60
    lens = np.array([5, 6, 6], dtype=np.int64)
    assert encode_rlev2(lens, signed=False).tobytes() == \
        bytes.fromhex("46025660")


# --- FIXTURES.md F-EDGE ----------------------------------------------------

def test_e1_empty():
    assert encode_rlev2(np.zeros(0, np.int64)).size == 0
    assert decode_rlev2(b"", 0).size == 0


@pytest.mark.parametrize("reps", [1, 2, 3, 10, 11, 127, 511, 512, 513, 2000])
@pytest.mark.parametrize("x", [0, 7, -7, 2**31 - 1, -2**31])
def test_e2_repeat_boundaries(reps, x):
    rt([x] * reps)


@pytest.mark.parametrize("n", [511, 512, 513, 1024, 1025])
def test_e3_scope_boundaries(n):
    rt(RNG.integers(0, 50000, n))


def test_e4_patched_base_overflow_guards():
    # base near the 2^56 guard and int64 extremes
    rt([2**55, 2**55 + 1, 0, 5] * 50)
    rt([-(2**55), 2, 3, 4, 1000] * 50)
    rt([2**56 + 5, 1, 2, 3] * 50)           # base guard -> DIRECT fallback
    rt([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, 1] * 30)
    rt([np.iinfo(np.int64).min + 1, -1, -2, -5] * 40)


def test_e5_delta_directions():
    rt(np.arange(1000))                        # monotonic up
    rt(np.arange(1000)[::-1].copy())           # monotonic down
    rt(np.full(700, 42))                       # fixed delta 0
    rt(np.arange(0, -3000, -3))                # fixed negative delta
    rt(np.cumsum(RNG.integers(0, 7, 2000)))    # non-strict monotonic
    v = np.cumsum(RNG.integers(0, 7, 2000))[::-1].copy()
    rt(v)                                      # non-strict decreasing


def test_e5_decreasing_zero_first_delta():
    # first diff 0 but overall decreasing: DELTA direction is ambiguous in
    # the ORC wire format; the encoder must avoid DELTA here
    rt([10, 10, 9, 7, 4, 0, 10, 10, 9, 7, 4, 0] * 10)


def test_e6_outliers_patched():
    v = RNG.integers(0, 100, 512)
    v[RNG.choice(512, 10, replace=False)] = RNG.integers(2**20, 2**30, 10)
    rt(v)
    # 31 and 32 outliers
    for k in (31, 32):
        v = RNG.integers(0, 100, 500)
        v[RNG.choice(500, k, replace=False)] = 2**25
        rt(v)
    # gaps > 255 between patches
    v = RNG.integers(0, 16, 512)
    v[0] = 2**28
    v[300] = 2**28   # gap 300 > 255 -> zero-patch filler
    v[511] = 2**28
    rt(v)
    # single outlier at position 0 and at the end
    v = RNG.integers(0, 16, 400)
    v[0] = 2**30
    rt(v)
    v = RNG.integers(0, 16, 400)
    v[399] = 2**30
    rt(v)


def test_e9_negatives_zigzag():
    rt(RNG.integers(-100, 100, 3000))
    rt([-1, 1, -2, 2, -(2**40), 2**40] * 100)


def test_unsigned_stream():
    v = RNG.integers(0, 2**40, 2000)
    rt(v, signed=False)
    rt(np.arange(2000), signed=False)
    rt(np.arange(2000)[::-1].copy(), signed=False)


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_mixture(seed):
    """F-MAIN style mixtures: runs + monotonic + outliers + uniform."""
    rng = np.random.default_rng(seed)
    parts = []
    for _ in range(30):
        style = rng.integers(0, 4)
        n = int(rng.integers(1, 700))
        if style == 0:
            ids = rng.integers(0, 50000, max(1, n // 5))
            parts.append(np.repeat(ids, rng.integers(3, 11, len(ids)))[:n])
        elif style == 1:
            parts.append(np.cumsum(rng.integers(0, 7, n)) % 2**31)
        elif style == 2:
            v = rng.integers(0, 50000, n)
            k = max(1, n // 50)
            v[rng.choice(n, k, replace=False)] = \
                rng.integers(2**20, 2**30, k)
            parts.append(v)
        else:
            parts.append(rng.integers(-50000, 50000, n))
    v = np.concatenate(parts)
    rt(v)


def test_compression_beats_raw():
    """Sanity: zipf-ish token ids compress well below 4 bytes/value."""
    ids = (RNG.zipf(1.3, 100000) % 50000).astype(np.int64)
    enc = encode_rlev2(ids)
    assert enc.size < 100000 * 2.875  # < 23 bits/token on zipf data


def test_patched_aligned_rounding_swallows_outliers():
    """Regression: aligned w95 rounding can eliminate every outlier;
    the planner's PATCHED choice must fall back to DIRECT cleanly."""
    rng = np.random.default_rng(1234)
    v = rng.integers(0, 2 ** 16, 400)
    v[::50] = rng.integers(2 ** 20, 2 ** 22, 8)  # outliers at 100p
    rt(v, aligned=True)
    rt(v, aligned=False)


@pytest.mark.parametrize("exact", [True, False])
def test_every_truncated_prefix_raises_value_error(exact):
    """A stream cut anywhere inside a run fails with ValueError, never
    an IndexError from a payload gather past the end. The stream holds
    all four sub-encodings (tags 0-3) and ends in a SHORT_REPEAT run,
    whose value bytes are the last thing the header walk would skip."""
    rng = np.random.default_rng(7)
    pat = rng.integers(0, 100, 200)
    pat[[5, 60, 130]] = 2**28
    sep = [9] * 5
    v = np.concatenate([sep, rng.integers(-5000, 5000, 100), sep, pat,
                        sep, np.cumsum(rng.integers(1, 9, 120)), sep,
                        np.arange(0, 300, 3), sep]).astype(np.int64)
    enc = rt(v).tobytes()
    starts, _ = _walk(enc + _PAD, len(enc), len(v))
    assert {enc[s] >> 6 for s in starts} == {0, 1, 2, 3}
    for k in range(len(enc)):
        with pytest.raises(ValueError):
            decode_rlev2(enc[:k], len(v), exact=exact)


def test_truncated_stream_with_directory_raises_value_error():
    """A group directory that claims more bytes than the stream holds
    fails as a truncated stream, not with zero bits read past the end."""
    from engine.rle2 import group_chunks
    v = np.arange(1000) % 7
    enc, sizes, counts = encode_rlev2(v, with_sizes=True)
    gsizes, _ = group_chunks(sizes, counts)
    assert np.array_equal(decode_rlev2(enc, v.size, groups=gsizes), v)
    for k in (enc.size - 1, enc.size // 2):
        with pytest.raises(ValueError, match="truncated"):
            decode_rlev2(enc[:k], v.size, groups=gsizes)
