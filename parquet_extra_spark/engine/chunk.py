"""The chunk table — the engine's central data structure.

One row per (partition-key, salt, chunk, column): the Spark-native
analogue of a Parquet column chunk plus its footer metadata (reference:
parquet-tensorflow Schema.java fields + parquet-mr chunk stats; the
self-describing dtype column plays the role of footer schema discovery,
ExampleParquetReader.java:65-71). SURVEY.md §2.3.

Stats columns (min_val/max_val/distinct_est/n_runs) drive chunk-level
predicate pushdown (engine/predicate.py) — the analogue of parquet-extra's
Predicate trees evaluated against row-group statistics
(Predicate.scala:47-183).
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import types as T

CHUNK_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("part_key", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("col_idx", T.IntegerType(), False),
        T.StructField("dtype", T.StringType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("null_count", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("encoded_bytes", T.LongType(), False),
        T.StructField("min_val", T.StringType(), True),
        T.StructField("max_val", T.StringType(), True),
        T.StructField("distinct_est", T.LongType(), False),
        T.StructField("n_runs", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("schema_fp", T.StringType(), False),
        # membership digest: sorted 63-bit hashes of the chunk's distinct
        # values when the exact dictionary is small (stats._MEMBER_MAX) —
        # the chunk-table analogue of parquet-mr's dictionary filter that
        # the reference's eq predicates inherit (Predicate.scala:31-38).
        # NULL = no digest (high cardinality / sampled stats): never prunes.
        T.StructField("member_hashes", T.ArrayType(T.LongType(), False), True),
        # Bloom digest (opt-in, encode(bloom_cols=...)): point-lookup
        # pruning for HIGH-cardinality columns where the exact member
        # list is too big — 63-bit words, stats.bloom_positions is the
        # plan-side contract. NULL = no bloom: never prunes.
        T.StructField("member_bloom", T.ArrayType(T.LongType(), False), True),
        T.StructField("trigram_bloom", T.ArrayType(T.LongType(), False), True),
    ]
)

CHUNK_ARROW_SCHEMA = pa.schema(
    [
        ("part_key", pa.string()),
        ("salt", pa.int32()),
        ("chunk_id", pa.int64()),
        ("seq", pa.int64()),
        ("column", pa.string()),
        ("col_idx", pa.int32()),
        ("dtype", pa.string()),
        ("codec", pa.string()),
        ("payload", pa.binary()),
        ("n_values", pa.int64()),
        ("null_count", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("min_val", pa.string()),
        ("max_val", pa.string()),
        ("distinct_est", pa.int64()),
        ("n_runs", pa.int64()),
        ("sha256", pa.string()),
        ("schema_fp", pa.string()),
        ("member_hashes", pa.list_(pa.int64())),
        ("member_bloom", pa.list_(pa.int64())),
        ("trigram_bloom", pa.list_(pa.int64())),
    ]
)

PART_SEP = "\x1f"  # joins partition-column values into part_key
NULL_TOKEN = "\x00"  # stands in for NULL partition values


def schema_fingerprint(columns: list[str], namespace: str = "") -> str:
    """Per-encode provenance stamp carried on every chunk row: decode
    fails fast when one chunk_id group mixes rows from encodes with
    different schemas/namespaces (a collision with disjoint column sets
    is undetectable from the (part_key, salt, seq) identity alone)."""
    return hashlib.sha1(f"{namespace}|{','.join(columns)}".encode()).hexdigest()[:16]


def chunk_uid(part_key: str, salt: int, seq: int, namespace: str = "") -> int:
    """Deterministic 63-bit chunk id — collision-free in practice and
    reproducible across runs (required for checkpoint resume).

    ``namespace`` isolates ids of independent encode() calls whose chunk
    tables will be unioned (e.g. schema versions): within one encode (or
    the checkpoint layer, which never re-encodes a committed unit) ids
    are unique without it."""
    h = hashlib.sha1(f"{namespace}|{part_key}|{salt}|{seq}".encode()).digest()
    return int.from_bytes(h[:8], "little") >> 1
