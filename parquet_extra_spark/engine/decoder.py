"""Distributed columnar decode: chunk-table DataFrame -> original DataFrame.

Analogue of the reference's record materialization (parquet-tensorflow
ExampleConverter.java:13-59: per-column converters buffer values, end()
stitches them into a record), but batched: all column-chunk rows of a
chunk_id are assembled into one Arrow RecordBatch per chunk inside
mapInArrow, and streamed out. No pandas in the hot path (avoids pandas'
nullable-int pitfalls), no collect — except the tiny schema-discovery
pass, which reads only the (column, col_idx, dtype) triples: the
analogue of reading a Parquet footer (ExampleParquetReader.java:65-71).

Two physical strategies:

* ``colocated=True`` — **no shuffle**. The encoder emits every column of
  a chunk contiguously from one task (engine/encoder.py _chunk_rows_batch
  builds one record batch per chunk), and narrow transformations
  (filters, broadcast semi-joins, cache) preserve that partitioning. The
  decode then only needs a within-partition sort on (chunk_id, col_idx)
  — zero network/disk movement of payload bytes. At 100 TB this is the
  difference between decoding in place and shuffling 100 TB first.
* ``colocated=False`` (default) — repartition on chunk_id + in-partition
  sort. Required for chunk tables whose co-location is unknown (e.g.
  re-partitioned unions, arbitrary file reads). ``check_colocated``
  verifies co-location with a metadata-only aggregation (payloads are
  pruned from the scan) so file-backed chunk tables can opt into the
  no-shuffle path safely.

Projection on encoded data is a *filter on the chunk table*
(column ∈ requested) — reference semantics O19/O20
(ExampleReadSupport.java:33-53, 76-90), including the fail-fast on
unknown fields (:88, IllegalStateException). ``expected_schema`` is the
by-schema read variant (ExampleParquetReader.java:41-45 withSchema):
the discovered footer schema must agree with the caller's declared
schema on every requested column's name and dtype.

Decode failures are wrapped with (part_key, chunk_id, column) context —
the analogue of ExampleConverter.java:48-52's ParquetDecodingException.
Chunk-id collisions (unioned chunk tables from independent encode()
calls without distinct uid_namespace values) are detected structurally:
a chunk_id group spanning more than one (part_key, salt, seq) identity
fails fast *before* any payload is decoded, even when the colliding
chunks have disjoint column sets.

Predicate pruning happens in the kernel too (``_decode(prune=...)``,
the path behind ``predicate.filter_decode_pred``): the chunk's stats rows
ride along in the scan, and right after the structural checks the
kernel takes ``predicate.stats_verdict`` and drops a chunk no row of
which can match — its payloads are never decoded, and no verdict job
or semi-join runs ahead of the decode. Only the columns the kernel
reads cross the Arrow pipe.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from ..codecs import decode_array, typemap
from .worker import kernel


class ChunkDecodeError(RuntimeError):
    pass


def discover_schema(chunks: DataFrame) -> list[tuple[str, int, str]]:
    """-> [(column, col_idx, dtype)] in original column order (footer read)."""
    rows = (
        chunks.select("column", "col_idx", "dtype").distinct().collect()
    )
    seen: dict[str, tuple[int, str]] = {}
    for r in rows:
        if r["column"] in seen and seen[r["column"]] != (r["col_idx"], r["dtype"]):
            raise ChunkDecodeError(
                f"inconsistent schema for column {r['column']!r} across chunks"
            )
        seen[r["column"]] = (r["col_idx"], r["dtype"])
    return sorted(((c, i, d) for c, (i, d) in seen.items()), key=lambda t: t[1])


def check_colocated(chunks: DataFrame) -> bool:
    """True iff every chunk_id lives in exactly one partition of ``chunks``.

    Metadata-only: the aggregation reads just (partition-id, chunk_id), so
    on a file-backed chunk table column pruning keeps payload bytes out of
    the scan entirely — at 100 TB this costs a scan of the id column, not
    the data. Use before ``decode(..., colocated=True)`` on chunk tables
    whose physical layout is not known by construction (encode() output
    and cached/filtered derivatives of it are co-located by construction).
    """
    row = (
        chunks.select(F.spark_partition_id().alias("pid"), "chunk_id")
        .groupBy("chunk_id")
        .agg(F.countDistinct("pid").alias("np"))
        .agg(F.coalesce(F.max("np"), F.lit(0)).alias("m"))
        .collect()[0]
    )
    return row["m"] <= 1


def _spark_schema(cols: list[tuple[str, int, str]]) -> T.StructType:
    from .schema import to_struct

    return to_struct(cols)


_WORK_COLS = (
    "chunk_id", "col_idx", "column", "codec", "payload", "n_values",
    "part_key", "salt", "seq", "schema_fp",
)
_DIGEST_COLS = ("member_hashes", "member_bloom", "trigram_bloom")


def _make_decode_fn(
    cols: list[tuple[str, int, str]],
    nullable_ok: frozenset[str] = frozenset(),
    prune=None,
):
    """The decode kernel. ``prune`` = (lowered Pred, session time zone):
    each chunk is then judged by ``predicate.stats_verdict`` after its
    structural checks and skipped, undecoded, when no row can match."""
    names = [c for c, _, _ in cols]
    dtypes = {c: d for c, _, d in cols}
    arrow_schema = pa.schema([(c, typemap.spark_to_arrow(dtypes[c])) for c in names])
    if prune is not None:
        from .predicate import STAT_KEYS, referenced_columns, stats_verdict

        pred, tz = prune
        refs = referenced_columns(pred)

    def decode_group(rows: dict) -> pa.RecordBatch | None:
        cid = rows["chunk_id"][0]
        # structural integrity first — before any payload is decoded or
        # any stats verdict is taken: (1) one source chunk per chunk_id
        # group (catches collisions even with disjoint column sets),
        # (2) no duplicate column rows.
        idents = set(zip(rows["part_key"], rows["salt"], rows["seq"]))
        if len(set(rows["schema_fp"])) > 1:
            raise ChunkDecodeError(
                f"chunk_id collision: id {cid} mixes rows from encodes with"
                " different schemas/namespaces (schema_fp mismatch) — unioned"
                " chunk tables from independent encode() calls need distinct"
                " uid_namespace values"
            )
        if len(idents) > 1:
            raise ChunkDecodeError(
                f"chunk_id collision: id {cid} produced by multiple source chunks"
                f" {sorted(idents)} — unioned chunk tables from independent"
                " encode() calls need distinct uid_namespace values"
            )
        if len(set(rows["column"])) != len(rows["column"]):
            dupes = sorted({c for c in rows["column"] if rows["column"].count(c) > 1})
            raise ChunkDecodeError(
                f"duplicate chunk-table rows: part_key={rows['part_key'][0]!r}"
                f" chunk_id={cid} columns={dupes}"
            )
        if prune is not None:
            stats = {
                col: {k: rows[k][i] for k in STAT_KEYS}
                for i, col in enumerate(rows["column"])
                if col in refs
            }
            if not stats_verdict(pred, stats, dtypes, tz)[0]:
                return None  # no row of this chunk can match
        by_col = {}
        n_anchor: int | None = None
        for col, codec, payload, n_values, pk in zip(
            rows["column"], rows["codec"], rows["payload"], rows["n_values"],
            rows["part_key"],
        ):
            if col not in dtypes:
                # anchor row: kept in the scan only so chunks that predate a
                # newly-added column still report their row count — its
                # payload is never decoded
                n_anchor = n_values
                continue
            try:
                arr = decode_array(payload.as_py(), dtypes[col], codec)
            except Exception as e:  # noqa: BLE001 — re-raise with chunk context (O28)
                raise ChunkDecodeError(
                    f"decode failed: part_key={pk!r} chunk_id={cid} column={col!r} codec={codec}: {e}"
                ) from e
            if len(arr) != n_values:
                raise ChunkDecodeError(
                    f"length mismatch: part_key={pk!r} chunk_id={cid} column={col!r}: "
                    f"{len(arr)} != {n_values}"
                )
            by_col[col] = arr
        missing = [c for c in names if c not in by_col]
        hard_missing = [c for c in missing if c not in nullable_ok]
        if hard_missing:
            raise ChunkDecodeError(
                f"chunk {cid} missing columns {hard_missing} "
                f"(decode of data written without them — incompatible schema)"
            )
        if missing:
            # read-time evolution: a chunk written before an OPTIONAL column
            # was added materializes it as all-null — the reference reads old
            # files with a widened schema the same way (new optional/repeated
            # field -> absent, ParquetExampleTest.scala:300-318 r6/r7; only a
            # new REQUIRED field errors, r5 — the hard_missing branch above)
            n = len(next(iter(by_col.values()))) if by_col else n_anchor
            if n is None:
                raise ChunkDecodeError(
                    f"chunk {cid} has no decodable columns and no anchor row"
                )
            for c in missing:
                by_col[c] = pa.nulls(n, type=typemap.spark_to_arrow(dtypes[c]))
        lens = {len(by_col[c]) for c in names}
        if len(lens) > 1:
            raise ChunkDecodeError(f"column length skew in chunk {cid}: {lens}")
        return pa.RecordBatch.from_arrays([by_col[c] for c in names], schema=arrow_schema)

    def decode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # one chunk's rows are contiguous (sorted on chunk_id, col_idx);
        # payloads stay Arrow scalars until their chunk is decoded, so a
        # skipped chunk's payload bytes are never copied into Python
        pending: dict | None = None
        cur_cid = None
        for batch in batches:
            keys = batch.schema.names
            cols = {
                k: batch.column(k) if k == "payload" else batch.column(k).to_pylist()
                for k in keys
            }
            for i, cid in enumerate(cols["chunk_id"]):
                if pending is None or cid != cur_cid:
                    if pending is not None:
                        out = decode_group(pending)
                        if out is not None:
                            yield out
                    pending = {k: [] for k in keys}
                    cur_cid = cid
                for k in keys:
                    pending[k].append(cols[k][i])
        if pending is not None:
            out = decode_group(pending)
            if out is not None:
                yield out

    return decode_fn


def _validate_expected(
    schema_cols: list[tuple[str, int, str]],
    expected: "T.StructType | list[tuple[str, int, str]]",
) -> tuple[list[tuple[str, int, str]], frozenset[str]]:
    """By-schema read validation (ExampleParquetReader.java:41-45 withSchema).

    Every expected column must exist in the chunk table with the same
    dtype — EXCEPT a nullable (optional) column, which may be absent and
    then reads as all-null, the reference's widened-schema read contract
    (ParquetExampleTest.scala:300-318: a new optional/repeated field reads
    as absent on old files, r6/r7; a new required field fails, r5).
    Nullability is only expressible through the StructType form; the
    [(name, idx, dtype)] tuple form stays strict.

    Returns (schema_cols possibly extended with absent optional columns,
    frozenset of column names allowed to materialize as null when a chunk
    lacks them).
    """
    from .schema import from_struct

    if isinstance(expected, T.StructType):
        exp = from_struct(expected)
        nullable = {f.name for f in expected.fields if f.nullable}
    else:
        exp = expected
        nullable = set()
    have = {c: d for c, _, d in schema_cols}
    out = list(schema_cols)
    next_idx = max((i for _, i, _ in schema_cols), default=-1) + 1
    for name, _, dt in exp:
        if name not in have:
            if name in nullable and typemap.is_supported(dt):
                out.append((name, next_idx, dt))
                next_idx += 1
                continue
            raise ChunkDecodeError(
                f"expected_schema column {name!r} not present in chunk table"
                " (only a nullable/optional column may be absent and read"
                " as null — the reference fails a new required field the"
                " same way, ParquetExampleTest.scala r5)"
            )
        if have[name] != dt:
            raise ChunkDecodeError(
                f"expected_schema type mismatch for {name!r}: "
                f"chunk table has {have[name]}, caller expects {dt}"
            )
    return out, frozenset(nullable)


def decode(
    chunks: DataFrame,
    columns: list[str] | None = None,
    num_partitions: int | None = None,
    schema_cols: list[tuple[str, int, str]] | None = None,
    colocated: bool = False,
    expected_schema: "T.StructType | list[tuple[str, int, str]] | None" = None,
) -> DataFrame:
    """Decode the chunk table back into a data DataFrame.

    columns: optional projection — only these columns are decoded (the
    chunk rows of other columns are never read past their stats: the
    columnar-projection trick). Unknown names raise, matching the
    reference's invalid-projection contract (ExampleReadSupport.java:88).

    schema_cols: pass the known schema (e.g. schema_from_struct(df.schema)
    for a chunk table just produced by encode(df)) to skip the
    discover_schema action — on a lazy encode pipeline that action would
    otherwise *run the whole encode job* just to read the footer.

    colocated: True = trust that every chunk's rows share one partition
    (guaranteed for encode() output and narrow transformations of it;
    verifiable for file-backed tables via check_colocated) and decode with
    only a within-partition sort — no shuffle of payload bytes. False =
    repartition on chunk_id first (always safe).

    expected_schema: by-schema read (O19's withSchema variant) — validate
    the chunk table's discovered schema against a caller-declared one and
    fail fast on missing columns or dtype changes.
    """
    return _decode(
        chunks, columns, num_partitions, schema_cols, colocated, expected_schema
    )


def _decode(
    chunks: DataFrame,
    columns: list[str] | None = None,
    num_partitions: int | None = None,
    schema_cols: list[tuple[str, int, str]] | None = None,
    colocated: bool = False,
    expected_schema: "T.StructType | list[tuple[str, int, str]] | None" = None,
    prune=None,
) -> DataFrame:
    """``decode`` plus an optional in-kernel chunk skip: ``prune`` =
    (Pred with lowered literals, session time zone) — see
    ``predicate.filter_decode_pred``."""
    spark = chunks.sparkSession
    if schema_cols is None:
        schema_cols = discover_schema(chunks)
    if not schema_cols:
        raise ChunkDecodeError(
            "empty chunk table and no schema_cols given — cannot derive output schema"
        )
    nullable_ok: frozenset[str] = frozenset()
    if expected_schema is not None:
        schema_cols, nullable_ok = _validate_expected(schema_cols, expected_schema)
    known = {c for c, _, _ in schema_cols}
    if columns is not None:
        unknown = [c for c in columns if c not in known]
        if unknown:
            raise ValueError(f"projection references unknown columns: {unknown}")
        schema_cols = [t for t in schema_cols if t[0] in set(columns)]
        if nullable_ok.intersection(columns):
            # evolution-aware projection: chunks written before an optional
            # column existed have NO row for it — keep each chunk's col_idx 0
            # row as an anchor (row count only, payload never decoded) so
            # those chunks still contribute all-null rows instead of
            # silently vanishing from the result
            chunks = chunks.filter(
                F.col("column").isin(list(columns)) | (F.col("col_idx") == 0)
            )
        else:
            chunks = chunks.filter(F.col("column").isin(list(columns)))
    # only what the kernel reads crosses the Arrow pipe; the stats rows
    # ride along when the kernel judges chunks (tables persisted before a
    # digest column existed read back without it: no digest, never prunes)
    keep = list(_WORK_COLS)
    if prune is not None:
        keep += ["null_count", "min_val", "max_val"]
        keep += [
            F.col(c) if c in chunks.columns
            else F.lit(None).cast("array<bigint>").alias(c)
            for c in _DIGEST_COLS
        ]
    chunks = chunks.select(*keep)

    if colocated:
        # no shuffle: chunks already co-located per partition; the sort is
        # in-partition only (group contiguity + col_idx order for assembly)
        work = chunks.sortWithinPartitions("chunk_id", "col_idx")
    else:
        n_part = num_partitions or spark.sparkContext.defaultParallelism
        work = (
            chunks.repartition(n_part, "chunk_id")
            .sortWithinPartitions("chunk_id", "col_idx")
        )
    fn = _make_decode_fn(schema_cols, nullable_ok, prune)
    return work.mapInArrow(kernel(fn), schema=_spark_schema(schema_cols))
