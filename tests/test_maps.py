"""T6 MAP columns: emission in engine/orc_file.py and decode in
engine/orc_read.py (LENGTH + key/value child columns), round-tripped
and cross-checked against ORC C++ (pyarrow.orc) and orc-core Java
(spark.read.orc)."""

import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.orc as orc
import pytest

from engine.orc_file import write_orc
from engine.orc_read import read_orc

MAP_TYPE = pa.map_(pa.string(), pa.int64())
RNG = np.random.default_rng(23)


def _map_array(n, null_rows=False, null_values=False):
    rows = []
    for i in range(n):
        if null_rows and RNG.random() < 0.2:
            rows.append(None)
            continue
        k = int(RNG.integers(0, 5))
        rows.append([(f"key{j}_{i % 37}",
                      None if null_values and RNG.random() < 0.3
                      else int(RNG.integers(-10**9, 10**9)))
                     for j in range(k)])
    return pa.array(rows, type=MAP_TYPE)


def _own(arr: pa.Array) -> pa.Array:
    """``arr`` through write_orc -> read_orc."""
    f = tempfile.mktemp(suffix=".orc")
    write_orc(pa.table({"m": arr}), f, row_index_stride=500,
              compression="zlib")
    try:
        return read_orc(f).column("m").combine_chunks()
    finally:
        os.unlink(f)


@pytest.mark.parametrize("null_rows,null_values",
                         [(False, False), (True, False), (True, True)])
def test_map_roundtrip(null_rows, null_values):
    arr = _map_array(3000, null_rows, null_values)
    back = _own(arr)
    assert back.null_count == arr.null_count
    assert back.to_pylist() == arr.to_pylist()


def test_map_roundtrip_sliced():
    # a sliced MapArray exposes its FULL children with window-absolute
    # offsets; the writer must encode only the window's entries
    arr = _map_array(2000)
    sl = arr.slice(500, 800)
    assert _own(sl).to_pylist() == sl.to_pylist()


def test_map_decode_from_orc_cpp_streams():
    # independent reference: ORC C++ writes the file; the engine
    # decodes its raw MAP streams (LENGTH + string keys + int values)
    import sys
    sys.path.insert(0, "tests")
    from orc_tail import parse_orc

    from engine import rle2, strings

    arr = _map_array(4000)
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(pa.table({"m": arr}), f, compression="uncompressed")
    s = parse_orc(f)[0]
    n = s["n_rows"]
    lens = rle2.decode_rlev2(s["streams"][(1, "LENGTH")], n, signed=False)
    n_entries = int(lens.sum())
    enc_kind, dict_size = s["encodings"][2]
    if enc_kind.startswith("DICTIONARY"):
        keys = strings.decode_strings(
            {"kind": "DICTIONARY_V2",
             "data": np.frombuffer(s["streams"][(2, "DATA")], np.uint8),
             "length": np.frombuffer(s["streams"][(2, "LENGTH")],
                                     np.uint8),
             "dict_data": np.frombuffer(
                 s["streams"][(2, "DICTIONARY_DATA")], np.uint8),
             "dict_size": dict_size}, n_entries)
    else:
        keys = strings.decode_strings(
            {"kind": "DIRECT_V2",
             "data": np.frombuffer(s["streams"][(2, "DATA")], np.uint8),
             "length": np.frombuffer(s["streams"][(2, "LENGTH")],
                                     np.uint8),
             "dict_data": np.zeros(0, np.uint8), "dict_size": 0},
            n_entries)
    vals = rle2.decode_rlev2(s["streams"][(3, "DATA")], n_entries,
                             signed=True)
    want = arr.drop_null() if arr.null_count else arr
    off = np.asarray(want.offsets, dtype=np.int64)
    assert np.array_equal(lens, np.diff(off))
    assert keys.to_pylist() == want.keys.to_pylist()
    assert vals.tolist() == want.items.to_pylist()


def test_map_file_read_by_orc_cpp():
    arr = _map_array(3000, null_rows=True)
    t = pa.table({"doc_id": pa.array([f"d{i}" for i in range(3000)]),
                  "m": arr})
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=1000)  # multi-stripe: slice handling
    back = orc.read_table(f)
    assert back.column("m").to_pylist() == arr.to_pylist()
    assert back.column("doc_id").to_pylist() == \
        t.column("doc_id").to_pylist()


def test_map_file_read_by_orc_java(spark):
    arr = _map_array(1500)
    t = pa.table({"doc_id": pa.array([f"d{i:05d}" for i in range(1500)]),
                  "m": arr})
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f)
    got = spark.read.orc(f).orderBy("doc_id").collect()
    want = arr.to_pylist()
    for i, r in enumerate(got):
        exp = None if want[i] is None else dict(want[i])
        assert r["m"] == exp, i
