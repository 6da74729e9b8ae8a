"""Pure-Python codec tests (no Spark): golden constructions + round trips.

Mirrors the reference's test strategy (SURVEY.md §5): round-trip as core
oracle (ParquetExampleTest.scala:51-55), golden-construction equality
(PredicateTest.scala pattern), negative tests.
"""

import datetime
import hashlib

import numpy as np
import pyarrow as pa
import pytest

from parquet_extra_spark.codecs import (
    CODECS,
    decode_array,
    encode_array,
    framing,
    fsst,
    packing,
)


def rt(arr: pa.Array, dtype: str, codec: str) -> int:
    payload = encode_array(arr, dtype, codec)
    out = decode_array(payload, dtype, codec)
    assert out.to_pylist() == arr.to_pylist(), (codec, dtype)
    return len(payload)


# ---------- framing ----------

def test_framing_roundtrip():
    secs = [b"", b"x", b"hello" * 100, bytes(range(256)) * 10]
    assert framing.unpack_sections(framing.pack_sections(secs)) == secs


def test_framing_compresses_large_sections():
    raw = b"abcabcabc" * 10000
    packed = framing.pack_sections([raw])
    assert len(packed) < len(raw) // 10


# ---------- bit packing ----------

def test_pack_unpack_uints_golden():
    a = np.array([0, 1, 2, 3, 7], dtype=np.uint64)
    buf = packing.pack_uints(a, 3)
    # 5 values * 3 bits = 15 bits -> 2 bytes
    assert len(buf) == 2
    assert packing.unpack_uints(buf, 5, 3).tolist() == [0, 1, 2, 3, 7]


@pytest.mark.parametrize("width", [1, 7, 13, 33, 64])
def test_pack_unpack_widths(width):
    rng = np.random.RandomState(42)
    a = rng.randint(0, 2 ** min(width, 62), size=1000).astype(np.uint64)
    assert (packing.unpack_uints(packing.pack_uints(a, width), 1000, width) == a).all()


def test_zigzag():
    a = np.array([0, -1, 1, -2, 2 ** 62, -(2 ** 62)], dtype=np.int64)
    assert (packing.zigzag_decode(packing.zigzag_encode(a)) == a).all()


# ---------- golden encodings ----------

def test_rle_golden_runs():
    """RLE of aaabb -> 2 runs (SURVEY §5.2 golden pattern)."""
    import json

    arr = pa.array(["a", "a", "a", "b", "b"])
    payload = encode_array(arr, "string", "rle")
    meta = json.loads(framing.unpack_sections(payload)[0])
    assert meta["n_runs"] == 2
    assert meta["dict_n"] == 2


def test_dict_golden_width():
    import json

    arr = pa.array(["x", "y"] * 100)
    payload = encode_array(arr, "string", "dict")
    meta = json.loads(framing.unpack_sections(payload)[0])
    assert meta["dict_n"] == 2
    assert meta["width"] == 1  # 2 values -> 1 bit per code


def test_for_golden_small_range():
    import json

    arr = pa.array(list(range(1000, 1256)), type=pa.int64())
    payload = encode_array(arr, "bigint", "for")
    meta = json.loads(framing.unpack_sections(payload)[0])
    assert int(meta["min"]) == 1000
    assert meta["width"] == 8  # range 255 -> 8 bits


# ---------- round trips across types & codecs ----------

STRING_CODECS = ["dict", "rle", "raw", "fsst"]
INT_CODECS = ["dict", "rle", "raw", "for", "delta"]


@pytest.mark.parametrize("codec", STRING_CODECS)
def test_string_roundtrip(codec):
    rt(pa.array(["py", "java", None, "", "go"] * 50), "string", codec)


@pytest.mark.parametrize("codec", STRING_CODECS)
def test_unicode_roundtrip(codec):
    rt(pa.array(["héllo wörld", "日本語テキスト", None, "🎉emoji"] * 25), "string", codec)


@pytest.mark.parametrize("codec", ["dict", "raw", "fsst"])
def test_binary_roundtrip(codec):
    rt(pa.array([b"\x00\xff\x80abc", None, b"", b"zz"] * 25, type=pa.binary()), "binary", codec)


@pytest.mark.parametrize("codec", INT_CODECS)
def test_int_roundtrip(codec):
    rt(pa.array([1, None, -(2**62), 2**62, 0] * 20, type=pa.int64()), "bigint", codec)


@pytest.mark.parametrize("dtype,patype", [("int", pa.int32()), ("smallint", pa.int16()), ("tinyint", pa.int8())])
def test_narrow_int_roundtrip(dtype, patype):
    for codec in INT_CODECS:
        rt(pa.array([1, None, -5, 100], type=patype), dtype, codec)


@pytest.mark.parametrize("codec", ["dict", "rle", "raw"])
def test_double_roundtrip(codec):
    rt(pa.array([1.5, None, -0.25, 1e300] * 25, type=pa.float64()), "double", codec)


@pytest.mark.parametrize("codec", ["dict", "rle", "raw", "for"])
def test_timestamp_roundtrip(codec):
    base = datetime.datetime(2020, 1, 1)
    vals = [base + datetime.timedelta(seconds=i) for i in range(50)] + [None]
    rt(pa.array(vals, type=pa.timestamp("us")), "timestamp_ntz", codec)


@pytest.mark.parametrize("codec", INT_CODECS)
def test_date_roundtrip(codec):
    base = datetime.date(2020, 1, 1)
    vals = [base + datetime.timedelta(days=i // 3) for i in range(50)] + [None]
    rt(pa.array(vals, type=pa.date32()), "date", codec)


@pytest.mark.parametrize("codec", ["dict", "rle", "raw"])
def test_bool_roundtrip(codec):
    rt(pa.array([True, False, None] * 30), "boolean", codec)


def test_list_null_vs_empty():
    """null list != empty list — repetition semantics
    (ParquetExampleTest.scala:182-195)."""
    arr = pa.array([[1, 2], [], None, [5]], type=pa.list_(pa.int64()))
    out = decode_array(encode_array(arr, "array<bigint>", "list"), "array<bigint>", "list")
    assert out.to_pylist() == [[1, 2], [], None, [5]]


def test_list_float_roundtrip():
    arr = pa.array([[1.5, 2.5], None, []], type=pa.list_(pa.float32()))
    rt(arr, "array<float>", "list")


def test_all_null_chunks():
    for codec in ["dict", "rle", "raw"]:
        rt(pa.array([None] * 50, type=pa.string()), "string", codec)


def test_empty_chunks():
    for codec in ["dict", "rle", "raw", "fsst"]:
        rt(pa.array([], type=pa.string()), "string", codec)


# ---------- fsst specifics ----------

def test_fsst_compresses_templated_text():
    txt = pa.array(
        [f"def handler_{i % 97}(x):\n    return x + {i % 13}\n" * 4 for i in range(2000)]
    )
    raw_len = sum(len(s) for s in txt.to_pylist())
    payload = encode_array(txt, "string", "fsst")
    assert len(payload) < raw_len * 0.2
    rt(txt, "string", "fsst")


def test_fsst_handles_high_entropy():
    hx = pa.array([hashlib.sha256(str(i).encode()).hexdigest() for i in range(2000)])
    rt(hx, "string", "fsst")


def test_fsst_strip_restore():
    data = bytes(range(256)) * 7
    stripped, pos, vals = fsst.strip_specials(data)
    assert fsst.restore_specials(stripped, pos, vals, len(data)) == data


def test_fsst_symbols_invertible():
    data = b"hello world hello spark hello arrow " * 500
    stripped, pos, vals = fsst.strip_specials(data)
    syms = fsst.learn_symbols(stripped)
    assert syms, "expected symbols on repetitive text"
    comp, used = fsst.compress_buffer(stripped, syms)
    assert len(comp) < len(stripped)
    assert fsst.decompress_buffer(comp, used) == stripped


# ---------- negative ----------

def test_wrong_dtype_rejected():
    with pytest.raises(TypeError):
        encode_array(pa.array(["a"]), "string", "for")
    with pytest.raises(TypeError):
        encode_array(pa.array([1.0]), "double", "fsst")


def test_registry_complete():
    assert set(CODECS) == {"dict", "rle", "for", "delta", "fsst", "raw", "bss", "list"}


def test_delta_beats_for_on_sorted_wide_range():
    import json

    # sorted values with tiny steps but a huge range: FOR needs ~34 bits,
    # delta needs ~4
    arr = pa.array([10_000_000_000 + i * 7 for i in range(5000)], type=pa.int64())
    d = len(encode_array(arr, "bigint", "delta"))
    f = len(encode_array(arr, "bigint", "for"))
    assert d < f / 3
