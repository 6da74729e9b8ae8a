"""Distributed columnar encode: DataFrame -> chunk-table DataFrame.

The Spark-native analogue of the reference's typed columnar write path
(parquet-tensorflow ExampleWriteSupport.java:47-56 + Schema.java per-type
writers), redesigned for Spark's execution model per BASELINE.json
north_rule:

* **Explicit partitioning + salting.** Rows are hash-partitioned on the
  clustering key (e.g. (repo, lang)) via a bounded bucket id
  ``pmod(xxhash64(repo, lang), n_buckets)`` plus a salt
  ``xxhash64(salt_col) % n_salts``, so a skewed mega-repo splits across
  n_salts tasks instead of serializing one executor, while thousands of
  tiny (repo, lang) groups share buckets instead of producing one
  degenerate chunk each. At 1000 executors the same code holds: shuffle
  keys bound per-task input and chunk size (not group size) bounds memory.
* **Clustered, not fragmented.** Within each task, rows are sorted by
  (bucket, salt, *clustering cols, *sort_cols); chunks fill to chunk_rows
  across group boundaries. Clustering means RLE sees runs on repo/lang/
  path/commit and chunk min/max stats stay selective for pushdown.
* **Streaming, bounded memory.** ``mapInArrow`` consumes Arrow record
  batches; the UDF buffers at most ~chunk_rows rows per (bucket, salt)
  before flushing a chunk. No whole-group materialization, no collect.
* **All vectorized.** Codec kernels are numpy/pyarrow over Arrow buffers;
  Python never touches individual rows (input_hint contract).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..codecs import typemap
from . import stats as stats_mod
from .chunk import CHUNK_ARROW_SCHEMA, CHUNK_SPARK_SCHEMA, chunk_uid, schema_fingerprint
from .worker import kernel

class ChunkEncodeError(RuntimeError):
    """Write-side contract violation (required-field null, etc.)."""


_BUCKET = "__pe_bucket"
_SALT = "__pe_salt"

DEFAULT_CHUNK_ROWS = 65536


def _as_array(col) -> pa.Array:
    """ChunkedArray | Array -> contiguous Array."""
    if isinstance(col, pa.ChunkedArray):
        if col.num_chunks == 0:
            return pa.array([], type=col.type)
        if col.num_chunks == 1:
            return col.chunk(0)
        return col.combine_chunks()
    return col


_RESELECT_EVERY = 8  # re-run full codec selection every Nth chunk per column

# Cross-task codec memo, keyed (schema_fp, column). PySpark reuses Python
# worker processes across tasks (spark.python.worker.reuse, default on),
# so module state survives the task boundary: when every task holds just
# one chunk (fine-partitioned encodes — the scheduler-balance sweet spot),
# a per-task memo never amortizes the trial-encode selection, but the
# worker-level memo still does. Same staleness bound as the per-task memo
# (_RESELECT_EVERY uses between full re-selections); one worker runs one
# task at a time, so plain dict access is safe. Keying by schema_fp keeps
# unrelated encodes from sharing hints.
_WORKER_MEMO: dict = {}


def _sort_key_np(col: pa.Array):
    """One sort-key column -> an order-equivalent numpy array for
    np.lexsort. Strings (and anything int64-uncastable) become
    dictionary codes: equal values share a code, which is all RLE
    adjacency needs — the order *within* the chunk is by
    first-appearance code, not lexicographic, irrelevant for
    compression and stats."""
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type) or pa.types.is_binary(col.type):
        return col.dictionary_encode().indices.fill_null(-1).to_numpy(zero_copy_only=False)
    try:
        return col.cast(pa.int64()).fill_null(0).to_numpy(zero_copy_only=False)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        codes = col.cast(pa.string()).dictionary_encode().indices.fill_null(-1)
        return codes.to_numpy(zero_copy_only=False)


def _sort_table(table: pa.Table, sort_cols: list[str]) -> pa.Table:
    """Columnar in-chunk sort: np.lexsort over dictionary codes + one Arrow
    take. ~10x cheaper than JVM row-wise sorting because the wide content
    column moves once, columnar, instead of per comparison-driven row
    copy. Only the (narrow) key columns are combined here; non-key
    columns stay chunked until the final ``take``, so wide text moves
    through memory exactly once per chunk."""
    import numpy as np

    keys = [_sort_key_np(_as_array(table.column(c))) for c in reversed(sort_cols)]
    order = np.lexsort(keys)
    return table.take(pa.array(order))


def _chunk_rows_batch(
    part_key: str,
    salt: int,
    seq: int,
    table: pa.Table,
    columns: list[str],
    dtypes: dict[str, str],
    forced_codec: str | None,
    memo: dict,
    sort_cols: list[str] | None = None,
    uid_namespace: str = "",
    schema_fp: str = "",
    display: list[str] | None = None,
    required: set[str] | None = None,
    bloom_cols: set[str] | None = None,
    trigram_cols: set[str] | None = None,
) -> pa.RecordBatch:
    """Encode one chunk (all columns) -> record batch of chunk-table rows.

    ``display`` maps the (resolution-safe) physical column names back to
    the user-facing names stored in the chunk table's ``column`` field.

    ``memo`` caches the selected codec per column within this task:
    consecutive chunks of a column in one partition see near-identical
    distributions, so the (trial-encode based) selection only re-runs every
    _RESELECT_EVERY chunks — the same amortization parquet writers use for
    their dictionary-fallback heuristics."""
    cid = chunk_uid(part_key, salt, seq, uid_namespace)
    if sort_cols:
        table = _sort_table(table, sort_cols)
    rows = {name: [] for name in CHUNK_ARROW_SCHEMA.names}
    labels = display or columns
    for idx, col in enumerate(columns):
        arr = _as_array(table.column(col))
        dtype = dtypes[col]
        st = stats_mod.compute_stats(
            arr,
            dtype,
            bloom=bool(bloom_cols) and col in bloom_cols,
            trigram=bool(trigram_cols) and col in trigram_cols,
        )
        if required and col in required and st.null_count:
            # write-time repetition enforcement — the reference rejects a
            # null in a required field at write (Schema.java:95-128
            # checkSize, tested ParquetExampleTest.scala:300-305)
            raise ChunkEncodeError(
                f"required column {labels[idx]!r} has {st.null_count} null"
                f" value(s) in chunk (part_key={part_key!r} seq={seq})"
            )
        memo_key = (schema_fp, col)
        hint, uses = memo.get(memo_key, (None, 0))
        if forced_codec is not None:
            codec, payload = stats_mod.choose_and_encode(arr, dtype, st, forced_codec)
        elif hint is not None and uses < _RESELECT_EVERY:
            codec, payload = stats_mod.choose_and_encode(arr, dtype, st, hint)
            memo[memo_key] = (hint, uses + 1)
        else:
            codec, payload = stats_mod.choose_and_encode(arr, dtype, st, None)
            memo[memo_key] = (codec, 1)
        rows["part_key"].append(part_key)
        rows["salt"].append(salt)
        rows["chunk_id"].append(cid)
        rows["seq"].append(seq)
        rows["column"].append(labels[idx])
        rows["col_idx"].append(idx)
        rows["dtype"].append(dtype)
        rows["codec"].append(codec)
        rows["payload"].append(payload)
        rows["n_values"].append(st.n)
        rows["null_count"].append(st.null_count)
        rows["raw_bytes"].append(st.raw_bytes)
        rows["encoded_bytes"].append(len(payload))
        rows["min_val"].append(st.min_val)
        rows["max_val"].append(st.max_val)
        rows["distinct_est"].append(st.distinct)
        rows["n_runs"].append(st.n_runs)
        rows["sha256"].append(stats_mod.canonical_sha256(arr, dtype))
        rows["schema_fp"].append(schema_fp)
        rows["member_hashes"].append(st.members)
        rows["member_bloom"].append(st.bloom)
        rows["trigram_bloom"].append(st.trigrams)
    return pa.RecordBatch.from_pydict(
        {k: pa.array(v, type=CHUNK_ARROW_SCHEMA.field(k).type) for k, v in rows.items()},
        schema=CHUNK_ARROW_SCHEMA,
    )


def _make_encode_fn(
    columns: list[str],
    dtypes: dict[str, str],
    chunk_rows: int,
    codec: str | None,
    sort_cols: list[str] | None = None,
    uid_namespace: str = "",
    display: list[str] | None = None,
    required: set[str] | None = None,
    bloom_cols: set[str] | None = None,
    trigram_cols: set[str] | None = None,
    per_task_uid: bool = False,
):
    schema_fp = schema_fingerprint(display or columns, uid_namespace)

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        # Exchange-free lane (assume_clustered): without the unit
        # repartition, rows of one (bucket, salt) unit can land in MANY
        # tasks, and each task restarts seq at 0 for the units it sees —
        # chunk_uid(part_key, salt, seq, ns) would collide across tasks.
        # Suffixing the uid namespace with the task's partition id keeps
        # ids unique (schema_fp stays the BASE namespace's fingerprint:
        # all chunks of this encode remain one schema family for the
        # decoder's structural check). Deterministic across retries: a
        # re-executed task has the same partitionId over the same rows.
        eff_ns = uid_namespace
        if per_task_uid:
            from pyspark import TaskContext

            tc = TaskContext.get()
            if tc is not None:
                eff_ns = f"{uid_namespace}#task{tc.partitionId()}"

        # Per-(bucket, salt) buffers: the exchange hash-partitions rows on
        # the unit key but rows of a unit arrive INTERLEAVED across input
        # batches — regrouping happens here, columnar, instead of a JVM
        # sortWithinPartitions. That JVM sort buffered+spilled the entire
        # task input through UnsafeExternalSorter (a full extra ser/deser
        # pass over the wide content bytes) just to make units contiguous.
        # Buffers hold (table, row_indices) pairs — row SELECTIONS, never
        # pre-gathered copies (indices=None means the whole table): the
        # regroup gather and the in-chunk RLE sort compose into ONE
        # permutation applied by a single Arrow take at flush, so the wide
        # content bytes move through memory exactly once per chunk
        # (gathering per batch AND sorting per chunk was two full passes).
        # Memory: a unit flushes the moment it reaches chunk_rows, and a
        # referenced input batch is pinned only until the units it feeds
        # flush. On the default lane the unit repartition gives a task
        # ~n_units/num_partitions open units. On the exchange-free lane
        # (assume_clustered, salt 0) any task may see rows of every
        # bucket: the worst case is n_buckets open buffers per task, each
        # filling toward chunk_rows rows — nothing here caps that sum.
        bufs: dict[tuple[int, int], list[tuple[pa.Table, "np.ndarray | None"]]] = {}
        buf_rows: dict[tuple[int, int], int] = {}
        seqs: dict[tuple[int, int], int] = {}
        memo = _WORKER_MEMO  # codec cache shared across tasks in this worker

        def split_parts(parts, k):
            """Split a parts list at row k without copying values
            (index-array slicing / zero-copy table slices only)."""
            head, tail, acc = [], [], 0
            for t, idx in parts:
                m = len(idx) if idx is not None else len(t)
                if acc >= k:
                    tail.append((t, idx))
                    continue
                if acc + m <= k:
                    head.append((t, idx))
                    acc += m
                    continue
                cut = k - acc
                if idx is not None:
                    head.append((t, idx[:cut]))
                    tail.append((t, idx[cut:]))
                else:
                    head.append((t.slice(0, cut), None))
                    tail.append((t.slice(cut), None))
                acc = k
            return head, tail

        def flush(key: tuple[int, int]) -> pa.RecordBatch | None:
            parts = bufs.pop(key, None)
            n = buf_rows.pop(key, 0)
            if not n:
                return None
            bucket, salt = key
            seq = seqs.get(key, 0)
            seqs[key] = seq + 1
            # zero-copy concat of the referenced tables; the composed
            # gather(+sort) permutation below is the ONE move of the
            # wide columns (or no move at all: whole-table parts with no
            # sort_cols go straight to the kernels, which combine chunks
            # lazily per column)
            combined = pa.concat_tables([t for t, _ in parts])
            identity = all(idx is None for _, idx in parts)
            gidx = None
            if not identity:
                pieces, off = [], 0
                for t, idx in parts:
                    m = len(t)
                    pieces.append(
                        np.arange(off, off + m, dtype=np.int64)
                        if idx is None
                        else idx.astype(np.int64) + off
                    )
                    off += m
                gidx = np.concatenate(pieces)
            if sort_cols:
                keys = []
                for c in reversed(sort_cols):
                    col = combined.column(c)
                    if gidx is not None:
                        col = col.take(pa.array(gidx))  # narrow keys only
                    keys.append(_sort_key_np(_as_array(col)))
                order = np.lexsort(keys)
                final_idx = gidx[order] if gidx is not None else order
                table = combined.take(pa.array(final_idx))
            elif gidx is not None:
                table = combined.take(pa.array(gidx))
            else:
                table = combined
            return _chunk_rows_batch(
                f"b{bucket}", salt, seq, table, columns, dtypes, codec, memo,
                sort_cols=None, uid_namespace=eff_ns,
                schema_fp=schema_fp, display=display, required=required,
                bloom_cols=bloom_cols, trigram_cols=trigram_cols,
            )

        def overflow(key: tuple[int, int]):
            while buf_rows.get(key, 0) >= chunk_rows:
                # split an oversized buffer exactly at chunk_rows
                head, tail = split_parts(bufs[key], chunk_rows)
                bufs[key], buf_rows[key] = head, chunk_rows
                out = flush(key)
                if out is not None:
                    yield out
                if tail:
                    bufs[key] = tail
                    buf_rows[key] = sum(
                        len(i) if i is not None else len(t) for t, i in tail
                    )

        for batch in batches:
            table = pa.Table.from_batches([batch])
            n = len(table)
            if n == 0:
                continue
            buckets = _as_array(table.column(_BUCKET)).to_numpy(zero_copy_only=False)
            salts = _as_array(table.column(_SALT)).to_numpy(zero_copy_only=False)
            combo = buckets.astype(np.int64) * 1_000_003 + salts.astype(np.int64)
            if (np.diff(combo) != 0).any():
                # order rows by unit key within the batch (stable argsort
                # of the narrow key only — the wide columns are NOT
                # gathered here), cut at key-change boundaries, and buffer
                # each unit's rows as an index array into the batch
                order = np.argsort(combo, kind="stable")
                combo_s = combo[order]
                starts = np.flatnonzero(np.diff(combo_s, prepend=combo_s[0] - 1))
                ends = np.append(starts[1:], n)
                for start, end in zip(starts.tolist(), ends.tolist()):
                    idx = order[start:end]
                    r0 = int(idx[0])
                    key = (int(buckets[r0]), int(salts[r0]))
                    bufs.setdefault(key, []).append((table, idx))
                    buf_rows[key] = buf_rows.get(key, 0) + (end - start)
                    yield from overflow(key)
            else:
                key = (int(buckets[0]), int(salts[0]))
                bufs.setdefault(key, []).append((table, None))
                buf_rows[key] = buf_rows.get(key, 0) + n
                yield from overflow(key)
        for key in sorted(bufs):
            out = flush(key)
            if out is not None:
                yield out

    return encode_fn


def unit_exprs(
    columns: list[str],
    partition_cols: list[str] | None,
    n_buckets: int,
    n_salts: int,
    salt_col: str | None,
):
    """The (bucket, salt) work-unit expressions — shared with the
    checkpoint layer so resume can identify completed units on the source
    side *before* paying for encode."""
    partition_cols = partition_cols or []
    if partition_cols:
        bucket_expr = F.pmod(
            F.xxhash64(*[F.col(f"`{c}`") for c in partition_cols]), F.lit(n_buckets)
        ).cast("int")
    else:
        bucket_expr = F.lit(0).cast("int")
    salt_src = salt_col or next((c for c in columns if c not in partition_cols), columns[0])
    salt_expr = F.pmod(
        F.xxhash64(F.col(f"`{salt_src}`").cast("string")), F.lit(n_salts)
    ).cast("int")
    return bucket_expr, salt_expr


def encode_plan(
    df: DataFrame,
    partition_cols: list[str],
    n_buckets: int = 64,
    target_unit_share: float = 0.01,
    max_salts: int = 64,
) -> dict:
    """Pre-encode skew/sizing plan from ONE source scan (north_rule:
    'salting for skewed mega-repos', skew detected from the stats pass).

    A single groupBy over the clustering key produces the key histogram;
    every other fact — heaviest key, heaviest *bucket* (keys hashed with
    the exact ``unit_exprs`` bucket function, so many small keys landing
    in one bucket are accounted for), recommended salt count — derives
    from that aggregated (small) frame without rescanning the source.

    n_salts is sized so the heaviest (bucket, salt) WORK UNIT — a
    bucket's rows split ~evenly across salts — is at most
    ``target_unit_share`` of the table: no single task can serialize more
    than that share of the encode. Returns
    {n_rows, n_keys, max_key_share, max_bucket_share, n_salts}.
    """
    counts = (
        df.groupBy(*[F.col(f"`{c}`") for c in partition_cols])
        .count()
        .withColumn(
            "__bucket",
            F.pmod(
                F.xxhash64(*[F.col(f"`{c}`") for c in partition_cols]),
                F.lit(n_buckets),
            ),
        )
    )
    # ONE action: per-bucket partials first, then the global facts — the
    # key histogram is scanned once and never recomputed (a second .agg
    # action on the uncached `counts` would rerun the full source scan)
    facts = (
        counts.groupBy("__bucket")
        .agg(
            F.sum("count").alias("bn"),
            F.count("*").alias("nk"),
            F.max("count").alias("mk"),
        )
        .agg(
            F.sum("bn").alias("n"),
            F.sum("nk").alias("n_keys"),
            F.max("mk").alias("max_key"),
            F.max("bn").alias("bucket_max"),
        )
        .collect()[0]
    )
    if not facts["n"]:
        return {
            "n_rows": 0, "n_keys": 0, "max_key_share": 0.0,
            "max_bucket_share": 0.0, "n_salts": 1,
        }
    max_bucket_share = facts["bucket_max"] / facts["n"]
    salts = 1
    while max_bucket_share / salts > target_unit_share and salts < max_salts:
        salts *= 2
    return {
        "n_rows": facts["n"],
        "n_keys": facts["n_keys"],
        "max_key_share": facts["max_key"] / facts["n"],
        "max_bucket_share": max_bucket_share,
        "n_salts": salts,
    }


def recommend_salts(
    df: DataFrame,
    partition_cols: list[str],
    n_buckets: int = 64,
    target_unit_share: float = 0.01,
    max_salts: int = 64,
) -> int:
    """Salt count bounding the heaviest (bucket, salt) unit at
    ``target_unit_share`` of the table — see encode_plan (which this
    wraps) for the one-scan derivation."""
    return encode_plan(
        df, partition_cols, n_buckets, target_unit_share, max_salts
    )["n_salts"]


def encode(
    df: DataFrame,
    partition_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    n_buckets: int = 64,
    n_salts: int = 8,
    salt_col: str | None = None,
    codec: str | None = None,
    num_partitions: int | None = None,
    uid_namespace: str = "",
    expected_schema=None,
    unit_sort: bool = False,
    bloom_cols: list[str] | None = None,
    trigram_cols: list[str] | None = None,
    assume_clustered: bool = False,
) -> DataFrame:
    """Encode every column of ``df`` into the chunk table.

    partition_cols: clustering keys (e.g. ["repo","lang"]). Rows are
        hash-partitioned on them (bucketed to n_buckets), so each
        (bucket, salt) unit holds whole key groups — group locality for
        chunk stats without fragmenting small groups into degenerate
        chunks.
    sort_cols: value order inside each chunk (columnar, Python-side) to
        expose runs to RLE. NOTE: by default this does NOT order rows
        ACROSS the chunks of a unit — on input that is not already
        clustered, every chunk's [min,max] can span the unit's full value
        range, and range pushdown on these columns degrades to a full
        decode (equality/isin pushdown keeps working via the membership
        digest). Pass ``unit_sort=True`` when selective RANGE pruning on
        sort_cols matters.
    unit_sort: opt-in JVM ``sortWithinPartitions`` on (bucket, salt,
        *partition_cols, *sort_cols) before chunking. Costs one extra
        buffered sort pass over the task's rows (UnsafeExternalSorter —
        measurably slower on wide content), and buys chunk ranges that
        tile the key space disjointly: the one-time ingest sort that makes
        range pushdown prune ~uniformly at 100 TB. Use for pushdown-heavy
        tables; leave off for throughput-bound re-encodes.
    codec: force one codec (tests); default statistics-driven per
        chunk-column (engine/stats.py).
    uid_namespace: isolates chunk ids of independent encode() calls whose
        chunk tables will be unioned (schema versions, multi-source
        merges); the decoder fails fast on colliding ids.
    bloom_cols: opt-in per-chunk Bloom digests (~1 KB/chunk) on the named
        int/string columns — point-lookup (eq/isin) pruning at HIGH
        cardinality, where the automatic exact membership digest is
        capped out. The parquet-mr optional per-column bloom analogue:
        "find one doc_id in 100 TB" decodes only the chunks whose bloom
        admits the key. Costs one canonical hash per distinct value at
        encode; leave unset (default) on throughput-critical paths.
    trigram_cols: opt-in per-chunk trigram-Bloom digests on the named
        STRING columns — the pg_trgm idea at chunk granularity: a chunk
        whose trigram set provably lacks any 3-gram of a LIKE-'%s%'
        needle skips without decode (substring position defeats
        [min,max] pruning, so this is the ONLY skip lane substring
        predicates have). Saturates (stores nothing) above 4096 distinct
        trigrams per chunk — meant for path/source/id-like columns, not
        content-scale text.
    expected_schema: optional declared StructType. Column names/types are
        validated against ``df`` at the driver; fields with
        nullable=False are enforced AT WRITE TIME — a null in a required
        column aborts the encode with ChunkEncodeError, the reference's
        checkSize contract (Schema.java:95-128).
    assume_clustered: zero-shuffle lane for input whose physical layout
        ALREADY groups the clustering key — an Iceberg/Hive table
        partitioned by (repo, lang), a bucketed write, or a re-encode of
        data the engine itself clustered. Skips the unit repartition
        entirely (the single Exchange of the default plan, and the
        dominant phase of encode wall time — BENCH/BASELINE.md phase
        decomposition), reading source splits straight into the encode
        UDF. At 100 TB this is the difference between shuffling the
        corpus once more and not touching the network at all.

        PARALLELISM equals the source's own split count — there is no
        exchange to re-spread work. At 100 TB that's thousands of file
        splits and a non-issue; on SMALL compressed sources Spark's
        split packing (spark.sql.files.maxPartitionBytes, 128 MB
        default) can collapse the scan to a handful of tasks and
        serialize the encode. If the input is small relative to
        maxPartitionBytes x cores, lower that conf (or skip this lane —
        the exchange it avoids is cheap at that size anyway).

        CORRECTNESS never depends on the assumption: bucket/salt are
        computed per row as usual, chunk ids stay globally unique (the
        uid namespace gains a per-task suffix, since one unit's rows may
        now span tasks), and decode is layout-free. What the assumption
        buys is chunk QUALITY — on genuinely clustered input, chunks are
        as dense and their [min,max]/membership stats as selective as on
        the default lane; on UNclustered input this lane still round-trips
        exactly but emits more, less-prunable chunks (every open unit per
        task buffers toward chunk_rows, so interleaved keys fragment).
        MEMORY per task is not capped on this lane: in the worst case a
        task holds n_buckets open buffers, each filling toward chunk_rows
        rows.
        Unit-granular resume (encode_to) composes safely: run commits are
        atomic, and unit identity (part_key, salt) is layout-independent.
        A resume must keep this flag: the lane uses one salt, so
        encode_to refuses a switch (its identity check).
    """
    from .schema import validate_columns

    spark = df.sparkSession
    columns = df.columns
    validate_columns(columns)  # duplicate-name rejection (Schema.java:209)
    dtypes_by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c, dt in dtypes_by_name.items():
        if not typemap.is_supported(dt):
            raise TypeError(f"column {c!r}: unsupported type {dt}")

    # Resolution-safe physical names: PySpark's mapInArrow resolves its
    # input columns by bare name and breaks on dots (nested-shred leaf
    # names like "address.zip", or any user column containing '.'). Encode
    # under positional aliases; chunk rows carry the true names (display).
    required_names: set[str] = set()
    if expected_schema is not None:
        declared = {f.name: f for f in expected_schema.fields}
        missing = [c for c in declared if c not in columns]
        if missing:
            raise ValueError(f"expected_schema columns not in DataFrame: {missing}")
        for c, f in declared.items():
            want = f.dataType.simpleString()
            if dtypes_by_name[c] != want:
                raise TypeError(
                    f"expected_schema type mismatch for {c!r}: DataFrame has "
                    f"{dtypes_by_name[c]}, declared {want}"
                )
            if not f.nullable:
                required_names.add(c)

    safe = [f"__pe_v{i}" for i in range(len(columns))]
    s_of = dict(zip(columns, safe))
    work0 = df.select(*[F.col(f"`{c}`").alias(s) for c, s in zip(columns, safe)])
    dtypes = {s_of[c]: dtypes_by_name[c] for c in columns}

    partition_cols = partition_cols or []
    unknown = [c for c in list(partition_cols) + list(sort_cols or []) if c not in s_of]
    if unknown:
        raise ValueError(f"unknown partition/sort columns: {unknown}")
    bloom_set = set(bloom_cols or [])
    bad_bloom = [c for c in sorted(bloom_set) if c not in s_of]
    if bad_bloom:
        raise ValueError(f"unknown bloom columns: {bad_bloom}")
    trigram_set = set(trigram_cols or [])
    bad_tg = [c for c in sorted(trigram_set) if c not in s_of]
    if bad_tg:
        raise ValueError(f"unknown trigram columns: {bad_tg}")
    bucket_expr, salt_expr = unit_exprs(
        safe,
        [s_of[c] for c in partition_cols],
        n_buckets,
        n_salts,
        s_of[salt_col] if salt_col else None,
    )
    if assume_clustered:
        # Salting exists to spread one hot key across the EXCHANGE's
        # reducers; with no exchange rows are already placed, so a
        # per-row salt would only splinter each task's unit buffers
        # into n_salts-way-smaller chunks (measured 90x chunk-count
        # blowup on a hash-bucketed source) — skew handling on this
        # lane belongs to the source layout (file rolling / range
        # distribution), where real partitioned tables already do it.
        salt_expr = F.lit(0).cast("int")
    work = work0.withColumn(_BUCKET, bucket_expr).withColumn(_SALT, salt_expr)
    if assume_clustered:
        # falsy num_partitions (None or the CLI's 0 = auto sentinel) is
        # "no partition control requested" — only an explicit count
        # conflicts with keeping the source's own partitioning
        if num_partitions:
            raise ValueError(
                "assume_clustered=True keeps the source's own partitioning;"
                " num_partitions cannot apply without the exchange it controls"
            )
    else:
        # 4 tasks per core: (bucket, salt) units hash unevenly (a mega-repo's
        # units are ~10x an average unit), so 1 task/core leaves a straggler
        # tail that caps scaling efficiency; finer tasks let the scheduler
        # re-balance — the same tasks-per-slot rule used on real clusters.
        n_part = num_partitions or spark.sparkContext.defaultParallelism * 4
        # ONE exchange, NO JVM sort. Unit contiguity is restored Python-side in
        # encode_fn (per-unit Arrow buffers): a JVM sortWithinPartitions on the
        # unit keys — even int-only — buffers and re-serializes every task's
        # full input through UnsafeExternalSorter before the Arrow conversion,
        # a whole extra pass over the wide content bytes. Value ordering for
        # RLE happens columnar *inside each chunk* (_sort_table); row order
        # across chunks of a unit carries no information (chunk stats and
        # decode are order-free).
        work = work.repartition(n_part, _BUCKET, _SALT)

    chunk_sort = [s_of[c] for c in list(partition_cols) + list(sort_cols or [])]
    if unit_sort and chunk_sort:
        # one deliberate extra pass: rows arrive at encode_fn already
        # unit-contiguous AND value-ordered, so consecutive chunks of a
        # unit carry disjoint [min,max] ranges (selective range pushdown)
        work = work.sortWithinPartitions(_BUCKET, _SALT, *chunk_sort)
    fn = _make_encode_fn(safe, dtypes, chunk_rows, codec,
                         sort_cols=chunk_sort or None, uid_namespace=uid_namespace,
                         display=columns,
                         required={s_of[c] for c in required_names} or None,
                         bloom_cols={s_of[c] for c in bloom_set} or None,
                         trigram_cols={s_of[c] for c in trigram_set} or None,
                         per_task_uid=assume_clustered)
    return work.mapInArrow(kernel(fn), schema=CHUNK_SPARK_SCHEMA)
