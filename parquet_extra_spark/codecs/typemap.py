"""Arrow <-> Spark type mapping + value (de)serialization helpers.

Mirrors the reference's lossless schema conversion layer
(parquet-tensorflow Schema.java:242-257 toParquet/fromParquet, including
the int64 logical annotation at :155-169): every supported Spark type has
a stable `dtype` string stored per chunk-column row, so the chunk table
is self-describing exactly like a Parquet footer
(ExampleParquetReader.java:65-71 getSchema reads schema from footer).
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa

# dtype string (Spark simpleString) -> arrow type
SPARK_TO_ARROW = {
    "string": pa.string(),
    "bigint": pa.int64(),
    "int": pa.int32(),
    "smallint": pa.int16(),
    "tinyint": pa.int8(),
    "double": pa.float64(),
    "float": pa.float32(),
    "boolean": pa.bool_(),
    "binary": pa.binary(),
    "timestamp": pa.timestamp("us", tz="UTC"),
    "timestamp_ntz": pa.timestamp("us"),
    "date": pa.date32(),
    "array<bigint>": pa.list_(pa.int64()),
    "array<int>": pa.list_(pa.int32()),
    "array<float>": pa.list_(pa.float32()),
    "array<double>": pa.list_(pa.float64()),
    "array<string>": pa.list_(pa.string()),
    "array<boolean>": pa.list_(pa.bool_()),
}

INT_DTYPES = {"bigint", "int", "smallint", "tinyint"}
# dtypes whose values travel through codecs as int64 (frame-of-reference path)
INTLIKE_DTYPES = INT_DTYPES | {"timestamp", "timestamp_ntz", "date", "boolean"}
FLOAT_DTYPES = {"double", "float"}
STRLIKE_DTYPES = {"string", "binary"}

# decimal(p,s) with p <= 18: unscaled value fits int64, so decimals ride the
# same FOR/delta/dict/RLE int path as timestamps (Parquet stores such
# decimals as INT64 logical-annotated the same way, Schema.java:155-169's
# int64 annotation pattern). p > 18 would need int128 payloads — rejected.
_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def decimal_params(dtype: str) -> tuple[int, int] | None:
    m = _DECIMAL_RE.match(dtype)
    return (int(m.group(1)), int(m.group(2))) if m else None


def is_decimal(dtype: str) -> bool:
    return decimal_params(dtype) is not None


def spark_to_arrow(dtype: str) -> pa.DataType:
    """dtype string -> arrow type, incl. parameterized decimal(p,s)."""
    t = SPARK_TO_ARROW.get(dtype)
    if t is not None:
        return t
    p = decimal_params(dtype)
    if p is not None:
        if p[0] > 18:
            raise TypeError(
                f"unsupported decimal precision {p[0]} (> 18: unscaled value "
                "exceeds the engine's int64 payload lane)"
            )
        return pa.decimal128(*p)
    raise TypeError(f"unsupported column type for encoding: {dtype}")


def is_supported(dtype: str) -> bool:
    if dtype in SPARK_TO_ARROW:
        return True
    p = decimal_params(dtype)
    return p is not None and p[0] <= 18


def is_intlike(dtype: str) -> bool:
    return dtype in INTLIKE_DTYPES or is_decimal(dtype)


def decimal_to_unscaled(arr: pa.Array, dtype: str) -> pa.Array:
    """decimal(p,s) array -> int64 array of unscaled values (nulls kept).

    Reads the 128-bit two's-complement storage directly: with p <= 18 the
    unscaled value fits int64, so the low 8 bytes viewed as int64 ARE the
    value. Zero decimal arithmetic, no per-row Python."""
    mask = arr.is_null().to_numpy(zero_copy_only=False)
    buf = arr.buffers()[1]
    pairs = np.frombuffer(buf, dtype="<i8")
    lo = pairs[2 * arr.offset :: 2][: len(arr)].copy()
    lo[mask] = 0  # null slots hold garbage; normalize
    return pa.array(lo, type=pa.int64(), mask=mask)


def unscaled_to_decimal(ints: pa.Array, dtype: str) -> pa.Array:
    """int64 unscaled values -> decimal(p,s) array (nulls kept). Builds the
    128-bit storage buffer directly (low word = value, high word = sign
    extension) — exact for every p <= 18, s <= 18."""
    p, s = decimal_params(dtype)
    mask = ints.is_null().to_numpy(zero_copy_only=False)
    vals = ints.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    n = len(vals)
    words = np.empty((n, 2), dtype=np.int64)
    words[:, 0] = vals
    words[:, 1] = vals >> 63  # arithmetic shift: 0 or -1 sign extension
    validity = None
    null_count = int(mask.sum())
    if null_count:
        validity = pa.py_buffer(np.packbits(~mask, bitorder="little").tobytes())
    return pa.Array.from_buffers(
        pa.decimal128(p, s),
        n,
        [validity, pa.py_buffer(words.tobytes())],
        null_count=null_count,
    )


def arrow_to_dtype(t: pa.DataType) -> str:
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp" if t.tz is not None else "timestamp_ntz"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        if pa.types.is_int64(t.value_type):
            return "array<bigint>"
        if pa.types.is_int32(t.value_type):
            return "array<int>"
        if pa.types.is_float32(t.value_type):
            return "array<float>"
        if pa.types.is_float64(t.value_type):
            return "array<double>"
        if pa.types.is_string(t.value_type) or pa.types.is_large_string(t.value_type):
            return "array<string>"
        if pa.types.is_boolean(t.value_type):
            return "array<boolean>"
    raise TypeError(f"unsupported column type for encoding: {t}")


def to_int64_values(arr: pa.Array, dtype: str) -> tuple[np.ndarray, np.ndarray]:
    """Int-like arrow array -> (int64 values with nulls as 0, null mask).
    Decimals travel as unscaled int64 (decimal_to_unscaled)."""
    mask = arr.is_null().to_numpy(zero_copy_only=False)
    if dtype in ("timestamp", "timestamp_ntz"):
        arr = arr.cast(SPARK_TO_ARROW[dtype])
    elif is_decimal(dtype):
        arr = decimal_to_unscaled(arr, dtype)
    elif dtype == "date":
        arr = arr.cast(pa.int32())  # pyarrow casts date32 to int32 only
    filled = arr.cast(pa.int64()).fill_null(0)
    return filled.to_numpy(zero_copy_only=False).astype(np.int64), mask


def from_int64_values(vals: np.ndarray, mask: np.ndarray, dtype: str) -> pa.Array:
    base = pa.array(vals.astype(np.int64), type=pa.int64(), mask=mask)
    if is_decimal(dtype):
        return unscaled_to_decimal(base, dtype)
    if dtype == "date":
        base = base.cast(pa.int32())
    return base.cast(spark_to_arrow(dtype))


def str_buffers(arr: pa.Array) -> tuple[np.ndarray, bytes, np.ndarray]:
    """String/binary arrow array -> (lengths uint64, concatenated data, null mask).

    Null slots contribute zero-length; the mask restores them on decode.
    """
    mask = arr.is_null().to_numpy(zero_copy_only=False)
    is_bin = pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type)
    target = pa.binary() if is_bin else pa.string()
    arr = arr.cast(target).fill_null(b"" if is_bin else "")
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    data_buf = arr.buffers()[2]
    data = data_buf.to_pybytes()[offsets[0] : offsets[-1]] if data_buf is not None else b""
    lengths = np.diff(offsets).astype(np.uint64)
    return lengths, data, mask


def str_from_buffers(lengths: np.ndarray, data: bytes, mask: np.ndarray, dtype: str) -> pa.Array:
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths.astype(np.int64), out=offsets[1:])
    t = pa.binary() if dtype == "binary" else pa.string()
    validity = None
    null_count = int(mask.sum())
    if null_count:
        validity = pa.py_buffer(np.packbits(~mask, bitorder="little").tobytes())
    return pa.Array.from_buffers(
        t,
        n,
        [validity, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(data)],
        null_count=null_count,
    )
