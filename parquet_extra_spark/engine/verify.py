"""Round-trip verification — the engine's core correctness oracle.

The reference's central test property is write→read→equality
(ParquetExampleTest.scala:51-55 roundTrip, :178-180 primitives); the
north_rule sharpens it to per-row sha256 equality of content.

Comparison is an order-insensitive **multiset equality**: every row gets
a sha256 fingerprint over an injective string encoding of its columns
(text length-prefixed, NULL a marker no value can equal); the two
sides match iff every fingerprint occurs the same number of times in
both. This needs no key assumption (real tables have duplicate business
keys) and is exactly as strong as row-level equality up to ordering.
Everything is JVM-side (sha2 / groupBy / join) — no Python in the
comparison path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T


# types whose string cast is never empty and never contains the separator
_PLAIN_TYPES = (
    T.NumericType, T.BooleanType, T.DateType, T.TimestampType, T.TimestampNTZType
)


def _row_fingerprint(df: DataFrame, cols: list[str]):
    """sha256 over an injective encoding of the given columns, joined by
    \\x1f and read back left to right in column order:

    * numbers, booleans, dates and timestamps are their string cast, and
      NULL is the empty string;
    * every other value is text — hex of binary, JSON of arrays, maps and
      structs (``cast`` to string is ambiguous for those), the string cast
      of the rest — written as ``<byte length>`` then the text, or ``N``
      for NULL, so a separator inside a value cannot shift it.

    One concat_ws per row copies each value once (it skips the NULL text
    itself), keeping the single sha2 per row."""
    types = {f.name: f.dataType for f in df.schema.fields}
    parts = []
    for c in cols:
        col, dt = F.col(f"`{c}`"), types[c]
        if isinstance(dt, _PLAIN_TYPES):
            parts.append(F.coalesce(col.cast("string"), F.lit("")))
            continue
        if isinstance(dt, T.BinaryType):
            text = F.hex(col)
        elif isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
            text = F.to_json(col)
        else:
            text = col.cast("string")
        parts += [F.coalesce(F.octet_length(text).cast("string"), F.lit("N")), text]
    return F.sha2(F.concat_ws("\x1f", *parts), 256)


def verify_roundtrip(
    src: DataFrame,
    decoded: DataFrame,
    key_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """-> one-row DataFrame (n_src, n_decoded, n_matched, n_mismatched).

    Multiset comparison over (key_cols + value_cols); both default to all
    columns present on both sides. A perfect round trip has
    n_src == n_decoded == n_matched and n_mismatched == 0.
    """
    cols = list(key_cols or []) + list(
        value_cols
        if value_cols is not None
        else [c for c in src.columns if c in decoded.columns and c not in (key_cols or [])]
    )
    s = (
        src.select(_row_fingerprint(src, cols).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_s"))
    )
    d = (
        decoded.select(_row_fingerprint(decoded, cols).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_d"))
    )
    j = s.join(d, "fp", "full_outer").select(
        F.coalesce("n_s", F.lit(0)).alias("n_s"),
        F.coalesce("n_d", F.lit(0)).alias("n_d"),
    )
    return j.agg(
        F.sum("n_s").alias("n_src"),
        F.sum("n_d").alias("n_decoded"),
        F.sum(F.least("n_s", "n_d")).alias("n_matched"),
        F.sum(F.abs(F.col("n_s") - F.col("n_d"))).alias("n_mismatched"),
    )


def roundtrip_ok(
    src: DataFrame,
    decoded: DataFrame,
    key_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
) -> bool:
    row = verify_roundtrip(src, decoded, key_cols, value_cols).collect()[0]
    return (
        row["n_src"] == row["n_decoded"]
        and row["n_matched"] == row["n_src"]
        and (row["n_mismatched"] or 0) == 0
    )
