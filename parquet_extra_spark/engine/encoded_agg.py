"""Aggregation pushed into the encoded layout — compute over compressed.

``metadata_profile`` (engine/aggregates.py) answers count/min/max from
chunk stats alone. This module goes one layer deeper: grouped aggregates
computed from the *codec structures themselves* — dictionary codes and
RLE runs — without materializing the column's values:

* a dict-encoded chunk yields per-value counts from one ``np.bincount``
  over its (bit-unpacked) codes; the values decoded are the DICTIONARY
  (``distinct`` entries), never the ``n_values`` rows;
* an RLE chunk is even cheaper: run lengths summed per run value — the
  count arrives without touching per-row data at all;
* any other codec falls back to a full single-column decode + vectorized
  ``value_counts`` (still no per-row Python).

The classic C-Store/column-store "operate directly on compressed data"
argument (Abadi et al., SIGMOD'06 — public literature), realized
Spark-first: the per-chunk kernel emits tiny partial-aggregate rows and
Catalyst finishes with an ordinary groupBy, so the shuffle carries
(distinct-value, count) pairs instead of the column. At 100 TB a
``GROUP BY lang`` over a dict/RLE-encoded column reads payload bytes
proportional to the dictionaries, and the shuffle is ~n_chunks×distinct
rows — both thousands of times smaller than the data.

One grouped-aggregate kernel serves every GROUP BY here: _agg_partials
(count/sum/avg/min/max over any mix of columns in one chunk pass).
group_agg_encoded exposes it directly; group_sum/group_stats/
group_minmax_encoded and the filtered value_counts_encoded are fixed agg
specs over it, and the per-chunk partials of DISTINCT, COUNT(DISTINCT)
and grouped quantiles are its groups. Every operator that pairs a
chunk's column rows shares one per-chunk prelude (_chunk_pass: dtypes,
stats pruning, pairing, the WHERE mask). Only the unfiltered
value_counts/distinct stay map-only over single chunk rows.

Reference anchor: the same statistics the reference's scanner derives by
scanning raw data (ExampleScanner.java:23-89) are derived here from the
encoded form directly.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..codecs import decode_array, framing, packing, typemap
from ..codecs.dictionary import _decode_dict_values, _dv_dtype
from .decoder import discover_schema
from .encoded_filter import row_mask
from .predicate import Pred, prune_chunks, referenced_columns
from .worker import kernel


def _dtype_map(
    chunks: DataFrame, needed: list[str], op: str, schema_cols=None
) -> tuple[dict[str, str], list[tuple[str, int, str]]]:
    """One discover_schema pass -> {column: dtype} for ``needed`` (plus
    the full schema_cols for downstream pruning). Fail-fast on unknown
    columns, matching the decode surface's contract. A caller-supplied
    ``schema_cols`` (same (column, col_idx, dtype) triples decode takes,
    e.g. from schema_from_struct or a checkpoint manifest) skips the
    discovery ACTION — without it every encoded aggregate pays one extra
    Spark job over the chunk table's metadata columns per call, which at
    bench scale is ~30% of the whole query's wall clock."""
    if schema_cols is None:
        schema_cols = discover_schema(chunks)
    dtypes = {c: d for c, _, d in schema_cols}
    unknown = [c for c in needed if c not in dtypes]
    if unknown:
        raise ValueError(f"{op}: unknown columns {unknown}")
    return {c: dtypes[c] for c in needed}, schema_cols


def _get_codes(group: dict, c: str, dtypes: dict[str, str], cache: dict):
    """Per-chunk memo over _codes_and_dict: a column referenced both as a
    group key and by the WHERE predicate is unpacked once."""
    if c not in cache:
        codec, payload, n = group[c]
        cache[c] = _codes_and_dict(payload, dtypes[c], codec, n)
    return cache[c]


def _build_mask(
    group: dict, where: Pred | None, dtypes: dict[str, str], cache: dict
):
    """Row keep-mask from the WHERE predicate, evaluated in the
    dictionary domain (engine/encoded_filter): each leaf costs
    |dictionary| comparisons plus one vectorized gather through the
    codes — referenced columns never materialize their values per row."""
    if where is None:
        return None
    env = {}
    for c in referenced_columns(where):
        codes, dict_arr, _ = _get_codes(group, c, dtypes, cache)
        env[c] = (codes, dict_arr, dtypes[c])
    return row_mask(where, env)


def _typed_dict(dict_arr: pa.Array, dtype: str) -> pa.Array:
    """Dictionary values in the storage lane (int64 for ts/bool/decimal)
    -> the column's real Arrow type (same conversions as dictionary.decode)."""
    if dtype == "boolean":
        return dict_arr.cast(pa.bool_())
    if dtype in ("timestamp", "timestamp_ntz"):
        return dict_arr.cast(typemap.spark_to_arrow(dtype))
    if typemap.is_decimal(dtype):
        return typemap.unscaled_to_decimal(dict_arr, dtype)
    return dict_arr


def _section_dict(secs: list, dict_n: int, dtype: str) -> pa.Array:
    """The typed dictionary of an unpacked dict or rle payload (both
    codecs keep it in sections 3 and 4)."""
    return _typed_dict(
        _decode_dict_values(secs[3], secs[4], dict_n, _dv_dtype(dtype)), dtype
    )


def _rle_runs(payload: bytes, dtype: str):
    """-> (run code per run, run length per run, typed dictionary) of an
    rle payload; code len(dictionary) is the null sentinel."""
    secs = framing.unpack_sections(payload)
    meta = json.loads(secs[0])
    n_runs = meta["n_runs"]
    run_vals = packing.unpack_uints(secs[1], n_runs, meta["vwidth"]).astype(np.int64)
    run_lens = packing.unpack_uints(secs[2], n_runs, meta["lwidth"]).astype(np.int64)
    return run_vals, run_lens, _section_dict(secs, meta["dict_n"], dtype)


def _codes_and_dict(
    payload: bytes, dtype: str, codec: str, n_values: int
) -> tuple[np.ndarray, pa.Array, int]:
    """-> (codes int64 with null sentinel == len(dict), typed dictionary,
    null_count). For dict/rle this reads codec structures only; for any
    other codec it decodes the column once and dictionary-encodes it."""
    if codec == "dict":
        secs = framing.unpack_sections(payload)
        meta = json.loads(secs[0])
        n, dict_n, width = meta["n"], meta["dict_n"], meta["width"]
        codes = packing.unpack_uints(secs[2], n, width).astype(np.int64)
        if meta["null_count"]:
            mask = packing.unpack_mask(secs[1], n)
            codes[mask] = dict_n
        return codes, _section_dict(secs, dict_n, dtype), meta["null_count"]
    if codec == "rle":
        run_vals, run_lens, dict_arr = _rle_runs(payload, dtype)
        codes = np.repeat(run_vals, run_lens)  # sentinel len(dict) == null
        null_count = int(run_lens[run_vals == len(dict_arr)].sum())
        return codes, dict_arr, null_count
    arr = decode_array(payload, dtype, codec)
    enc = arr.dictionary_encode()
    dict_arr = enc.dictionary
    mask = arr.is_null().to_numpy(zero_copy_only=False)
    codes = enc.indices.fill_null(0).cast(pa.int64()).to_numpy(zero_copy_only=False).copy()
    codes[mask] = len(dict_arr)
    return codes, dict_arr, int(mask.sum())


def value_counts_encoded(
    chunks: DataFrame,
    column: str,
    where: Pred | None = None,
    colocated: bool = False,
    schema_cols=None,
) -> DataFrame:
    """``SELECT value, count(*) GROUP BY value`` over one encoded column,
    computed from codec structures (see module docstring). Output columns:
    (value:<column dtype>, cnt:bigint); a null group appears when the
    column has nulls — exactly SQL GROUP BY semantics.

    ``where`` adds a pushed WHERE clause: the filtered form is the
    grouped-aggregate kernel with ``count(*)`` as its one aggregate
    (_agg_partials — chunk-stat pruning, then the dictionary-domain exact
    recheck of engine/encoded_filter masks rows before counting), which
    pairs the target column with the predicate's columns per chunk
    (_pair_work; ``colocated=True`` skips its repartition). Without
    ``where`` the operator stays map-only over single chunk rows and
    ``colocated`` is irrelevant."""
    if where is not None:
        return _grouped(
            "value_counts_encoded", chunks, [column], ["value"],
            [("count", "*", "cnt")], colocated, where, schema_cols,
        )
    dtype = _dtype_map(chunks, [column], "value_counts_encoded", schema_cols)[0][column]
    out_t = typemap.spark_to_arrow(dtype)
    work = chunks.filter(F.col("column") == column).select(
        "codec", "payload", "n_values"
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for codec, payload, n_values in _rows(batches, "codec", "payload", "n_values"):
            if codec == "rle":
                # counts from run lengths alone — codes never expand to
                # row scale
                codes, weights, dict_arr = _rle_runs(payload, dtype)
            else:
                codes, dict_arr, _ = _codes_and_dict(payload, dtype, codec, n_values)
                weights = None
            n = len(dict_arr)
            counts = np.bincount(codes, weights, minlength=n + 1).astype(np.int64)
            values = dict_arr.cast(out_t)
            if counts[n]:  # the null group
                values = pa.concat_arrays([values, pa.nulls(1, type=out_t)])
            else:
                counts = counts[:n]
            if len(values):
                yield pa.RecordBatch.from_arrays(
                    [values, pa.array(counts, type=pa.int64())], ["value", "cnt"]
                )

    partials = work.mapInArrow(kernel(fn), schema=f"value {dtype}, cnt bigint")
    return partials.groupBy("value").agg(F.sum("cnt").alias("cnt"))


def distinct_encoded(
    chunks: DataFrame,
    column: "str | list[str]",
    where: Pred | None = None,
    colocated: bool = False,
    schema_cols=None,
) -> DataFrame:
    """``SELECT DISTINCT column`` from codec structures. dict/RLE chunks
    answer from the DICTIONARY ALONE — by construction it is exactly the
    chunk's distinct non-null set (codecs/dictionary.dict_encode_codes)
    — plus the chunk stats row's null_count for the null element; codes
    never expand to row scale. Other codecs decode once and unique
    chunk-locally. The shuffle then carries per-chunk distinct values
    (dictionary scale), and a Catalyst distinct finishes. Output column:
    (value:<column dtype>). With ``where`` the single column takes the
    multi-column path below: chunks are stats-pruned and rows masked in
    the dictionary domain first (a code must survive the mask for its
    value to count as present); ``colocated`` then applies to the
    per-chunk column pairing (_pair_work) and is irrelevant without
    ``where`` (the unfiltered path is map-only).

    A LIST of columns gives multi-column DISTINCT (``SELECT DISTINCT a,
    b``): per chunk the columns' dictionary codes stack and compact via
    ``np.unique(axis=0)`` (_key_codes — the group-by machinery, with
    every column a key), so combinations materialize only at
    per-chunk-distinct scale; output columns keep their real names."""
    if isinstance(column, (list, tuple)):
        return _distinct_multi(chunks, list(column), where, colocated, schema_cols)
    if where is not None:
        return _distinct_multi(
            chunks, [column], where, colocated, schema_cols
        ).withColumnRenamed(column, "value")
    dtype = _dtype_map(chunks, [column], "distinct_encoded", schema_cols)[0][column]
    out_t = typemap.spark_to_arrow(dtype)
    work = chunks.filter(F.col("column") == column).select(
        "codec", "payload", "null_count"
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for codec, payload, null_count in _rows(
            batches, "codec", "payload", "null_count"
        ):
            if codec in ("dict", "rle"):
                secs = framing.unpack_sections(payload)
                dict_n = json.loads(secs[0])["dict_n"]
                values = _section_dict(secs, dict_n, dtype).cast(out_t)
            else:
                import pyarrow.compute as pc

                arr = decode_array(payload, dtype, codec)
                values = pc.unique(arr.drop_null()).cast(out_t)
            if null_count > 0:
                values = pa.concat_arrays([values, pa.nulls(1, type=out_t)])
            if len(values):
                yield pa.RecordBatch.from_arrays([values], ["value"])

    return work.mapInArrow(kernel(fn), schema=f"value {dtype}").distinct()


def _distinct_multi(
    chunks: DataFrame, cols: list[str], where: Pred | None, colocated: bool,
    schema_cols=None,
) -> DataFrame:
    """Multi-column DISTINCT — a GROUP BY of every column with no
    aggregate: the grouped-aggregate kernel's per-chunk groups (chunk-
    local combination compaction over stacked dictionary codes), then a
    Catalyst distinct across chunks."""
    if not cols:
        raise ValueError("distinct_encoded needs at least one column")
    if len(set(cols)) != len(cols):
        raise ValueError(f"distinct_encoded: duplicate columns {cols}")
    groups, _ = _agg_partials(
        "distinct_encoded", chunks, cols, cols, [("count", "*", "n")],
        colocated, where, schema_cols,
    )
    return groups.select(*[F.col(f"`{c}`") for c in cols]).distinct()


def group_count_distinct_encoded(
    chunks: DataFrame,
    key_col: "str | list[str]",
    val_col: str,
    colocated: bool = False,
    where: Pred | None = None,
    schema_cols=None,
) -> DataFrame:
    """``SELECT keys, count(DISTINCT val) GROUP BY keys`` over encoded
    data: per chunk, the grouped-aggregate kernel's groups over (keys...,
    val) — np.unique over the STACKED codes — are the chunk-local
    distinct pairs; both sides read as dictionary codes, values
    materializing only at per-chunk-distinct scale. The shuffle carries
    those pairs and Catalyst's count_distinct
    finishes (cross-chunk duplicates collapse there). SQL semantics:
    NULL values don't count (a key whose values are all NULL reports 0,
    and the key row is still present); NULL keys group together. Output:
    (key | the named key columns, nd:bigint)."""
    keys, out_names = _norm_keys("group_count_distinct_encoded", key_col, val_col)
    pairs, _ = _agg_partials(
        "group_count_distinct_encoded", chunks, keys + [val_col],
        [*out_names, "__pe_v"], [("count", "*", "n")], colocated, where,
        schema_cols,
    )
    return pairs.groupBy(*[F.col(f"`{n}`") for n in out_names]).agg(
        F.count_distinct(F.col("__pe_v")).alias("nd")
    )


def quantiles_encoded(
    chunks: DataFrame,
    column: str,
    qs: list[float],
    where: Pred | None = None,
    colocated: bool = False,
    distributed: bool | None = None,
    max_window_values: int = 65536,
    schema_cols=None,
) -> DataFrame:
    """Exact discrete quantiles (order statistics) over one encoded
    column: ``value_counts_encoded`` supplies (value, count) pairs from
    codec structures — values materialize at dictionary scale — then the
    value at rank ``max(1, ceil(q*n))`` over the n non-null rows is
    selected per q (the standard discrete-quantile / lower-order-
    statistic rule; NULLs are ignored, as SQL percentile functions do).
    Output rows: (q:double, value:<column dtype>), one per requested q.
    ``where`` pushes a filter into the underlying counts (see
    value_counts_encoded).

    Two rank-selection strategies, auto-gated on the metadata-only
    cardinality estimate (sum of per-chunk distinct_est):

    * low cardinality (the dict/RLE sweet spot): one running-count
      window over the sorted distinct values — a single tiny partition.
    * high cardinality (``distributed=True`` or estimate above
      ``max_window_values``): range-partition the (value, count) pairs,
      collect only the P per-partition subtotals to locate each rank's
      partition, then run the running-count window PARTITIONED (parallel)
      over just the few partitions that hold a requested rank. No global
      single-partition sort at any scale; the result (<= |qs| rows) is
      materialized eagerly so the range-partitioned intermediate can be
      unpersisted deterministically."""
    from pyspark.sql import Window

    uq = _norm_qs("quantiles_encoded", qs)
    spark = chunks.sparkSession
    vc = value_counts_encoded(
        chunks, column, where=where, colocated=colocated,
        schema_cols=schema_cols,
    ).filter(F.col("value").isNotNull())
    if distributed is None:
        est = (
            chunks.filter(F.col("column") == column)
            .agg(F.sum("distinct_est"))
            .collect()[0][0]
        )
        distributed = (est or 0) > max_window_values
    if distributed:
        return _quantiles_distributed(vc, uq, spark)
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = vc.select(
        "value",
        F.sum("cnt").over(w).alias("__pe_cum"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__pe_n"),
    )
    q_df = spark.createDataFrame([(q,) for q in uq], "q double")
    # rank r = max(1, ceil(q*n)); the quantile is the FIRST value whose
    # running count reaches r. The join is (|qs| x |distinct|) at most —
    # dictionary scale — and the groupBy collapses it to one row per q.
    joined = q_df.join(
        cum,
        F.col("__pe_cum")
        >= F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("__pe_n"))),
        "left",
    )
    return joined.groupBy("q").agg(F.min("value").alias("value"))


def _norm_qs(op: str, qs: list[float]) -> list[float]:
    """Validated quantile fractions, deduplicated in request order."""
    if not qs:
        raise ValueError(f"{op} needs at least one q")
    bad = [q for q in qs if not (0.0 <= float(q) <= 1.0)]
    if bad:
        raise ValueError(f"{op}: q out of [0,1]: {bad}")
    return [float(q) for q in dict.fromkeys(qs)]


def group_quantiles_encoded(
    chunks: DataFrame,
    key_col: "str | list[str]",
    val_col: str,
    qs: list[float],
    where: Pred | None = None,
    colocated: bool = False,
    schema_cols=None,
) -> DataFrame:
    """Exact discrete quantiles PER GROUP over encoded data:
    ``SELECT keys, quantile_disc(val, q) GROUP BY keys`` for each q.
    The (keys, value, count) table is the grouped-aggregate kernel
    counting rows per (keys..., val) (_grouped): both sides read as
    dictionary codes, so values materialize at per-chunk-distinct scale,
    never per row, and Catalyst collapses cross-chunk duplicates. Then
    one running-count window PARTITIONED BY the keys locates rank
    ``max(1, ceil(q*n))`` among each group's n non-null values (the same
    discrete-quantile rule quantiles_encoded uses; NULL values are
    ignored, a group whose values are all NULL reports NULL, and NULL
    keys group together — SQL semantics throughout).

    Output: (key | the named key columns, q:double, value:<val dtype>),
    one row per group per requested q. ``where``/``colocated`` behave as
    in group_stats_encoded.

    Scale shape: the window parallelizes across groups; within one group
    the work is its distinct-value count, bounded by the union of its
    chunks' dictionaries — the operator targets dict/RLE-friendly value
    columns. For a single giant group at high cardinality use the
    range-partitioned global path (quantiles_encoded(distributed=True))
    with a pre-filter on the key."""
    from pyspark.sql import Window

    keys, out_names = _norm_keys("group_quantiles_encoded", key_col, val_col)
    uq = _norm_qs("group_quantiles_encoded", qs)
    vc = _grouped(
        "group_quantiles_encoded", chunks, keys + [val_col],
        [*out_names, "__pe_v"], [("count", "*", "__pe_c")], colocated, where,
        schema_cols,
    )
    kcols = [F.col(f"`{n}`") for n in out_names]
    spark = chunks.sparkSession
    q_df = spark.createDataFrame([(q,) for q in uq], "q double")
    # every (group, q) pair must appear in the output even when the
    # group's values are all NULL — build the base grid first
    grid = vc.select(*kcols).distinct().crossJoin(F.broadcast(q_df)).alias("g")
    wk = Window.partitionBy(*out_names)
    wcum = (
        Window.partitionBy(*out_names)
        .orderBy(F.col("__pe_v").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    nn = (
        vc.filter(F.col("__pe_v").isNotNull())
        .select(
            *kcols,
            "__pe_v",
            F.sum("__pe_c").over(wcum).alias("__pe_cum"),
            F.sum("__pe_c").over(wk).alias("__pe_n"),
        )
        .alias("v")
    )
    # null-safe key equality (NULL keys are real groups) + the rank
    # reach condition; the quantile is the FIRST value whose running
    # count reaches rank — F.min over the reached rows
    cond = F.lit(True)
    for n in out_names:
        cond = cond & F.col(f"g.`{n}`").eqNullSafe(F.col(f"v.`{n}`"))
    cond = cond & (
        F.col("v.__pe_cum")
        >= F.greatest(F.lit(1), F.ceil(F.col("g.q") * F.col("v.__pe_n")))
    )
    return (
        grid.join(nn, cond, "left")
        .groupBy(*[F.col(f"g.`{n}`").alias(n) for n in out_names], F.col("g.q"))
        .agg(F.min(F.col("v.__pe_v")).alias("value"))
    )


def _quantiles_distributed(vc, uq: list[float], spark) -> DataFrame:
    """High-cardinality rank selection (see quantiles_encoded): locate
    each rank's range partition from P collected subtotals, then window
    only inside those partitions."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import types as T

    val_field = vc.schema["value"]
    out_schema = T.StructType(
        [T.StructField("q", T.DoubleType(), False),
         T.StructField("value", val_field.dataType, True)]
    )
    n_parts = max(spark.sparkContext.defaultParallelism, 2)
    rp = (
        vc.repartitionByRange(n_parts, "value")
        .sortWithinPartitions("value")
        .withColumn("__pe_pid", F.spark_partition_id())
        .persist()
    )
    try:
        tots = {
            r["__pe_pid"]: r["t"]
            for r in rp.groupBy("__pe_pid").agg(F.sum("cnt").alias("t")).collect()
        }
        n = sum(tots.values())
        if n == 0:
            return spark.createDataFrame([(q, None) for q in uq], out_schema)
        targets = []  # (q, pid, local rank)
        for q in uq:
            r = max(1, math.ceil(q * n))
            off = 0
            for pid in sorted(tots):
                if r <= off + tots[pid]:
                    targets.append((q, pid, r - off))
                    break
                off += tots[pid]
        t_df = spark.createDataFrame(
            targets, "q double, __pe_pid int, __pe_lr bigint"
        )
        w = (
            Window.partitionBy("__pe_pid")
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = rp.filter(
            F.col("__pe_pid").isin(sorted({p for _, p, _ in targets}))
        ).select("value", "__pe_pid", F.sum("cnt").over(w).alias("__pe_cum"))
        rows = (
            t_df.join(
                cum,
                (t_df["__pe_pid"] == cum["__pe_pid"])
                & (cum["__pe_cum"] >= t_df["__pe_lr"]),
                "left",
            )
            .groupBy("q")
            .agg(F.min("value").alias("value"))
            .collect()
        )
        return spark.createDataFrame(
            [(r["q"], r["value"]) for r in rows], out_schema
        )
    finally:
        rp.unpersist()


def _pair_work(
    chunks: DataFrame, cols: list[str], colocated: bool
) -> DataFrame:
    """The chunk rows of ``cols``, arranged so each chunk's group is
    contiguous inside one partition.

    ``colocated=True`` — **no shuffle** (mirrors decode's contract,
    engine/decoder.py): encode() output and narrow transformations of it
    keep every chunk's rows in one partition, so an in-partition sort
    suffices and the ONLY exchange in the whole aggregate carries
    (value, partial) pairs. At 100 TB that is the difference between
    shuffling the compressed table and shuffling kilobytes of partials.
    ``colocated=False`` (default) repartitions on chunk_id first — always
    safe for arbitrary chunk tables (unions, file reads of unknown
    layout); ``decoder.check_colocated`` can verify file-backed tables
    metadata-only before opting in."""
    work = chunks.filter(F.col("column").isin(sorted(set(cols)))).select(
        "chunk_id", "column", "codec", "payload", "n_values"
    )
    if not colocated:
        spark = chunks.sparkSession
        work = work.repartition(spark.sparkContext.defaultParallelism, "chunk_id")
    return work.sortWithinPartitions("chunk_id", "column")


def _rows(batches: Iterator[pa.RecordBatch], *cols: str) -> Iterator[tuple]:
    """Chunk-table rows, one at a time, as tuples of ``cols``' values."""
    for batch in batches:
        arrs = [batch.column(c) for c in cols]
        for i in range(batch.num_rows):
            yield tuple(a[i].as_py() for a in arrs)


def _pair_stream(batches: Iterator[pa.RecordBatch], emit) -> Iterator[pa.RecordBatch]:
    """Group contiguous (chunk_id) rows and hand {column: (codec, payload,
    n_values)} dicts to ``emit``."""
    pending: dict = {}
    cur = None
    for cid, column, *entry in _rows(
        batches, "chunk_id", "column", "codec", "payload", "n_values"
    ):
        if cid != cur and pending:
            out = emit(pending)
            if out is not None:
                yield out
            pending = {}
        cur = cid
        pending[column] = tuple(entry)
    if pending:
        out = emit(pending)
        if out is not None:
            yield out


def _chunk_pass(
    op: str,
    chunks: DataFrame,
    cols: list[str],
    where: Pred | None,
    colocated: bool,
    schema_cols=None,
):
    """The per-chunk prelude every paired operator shares -> (dtypes, run).

    ``dtypes`` maps ``cols`` and the WHERE columns to their dtypes (one
    discovery, fail-fast on unknown names — _dtype_map). ``run(emit,
    schema, prune=where)`` stats-prunes the chunks on ``prune``
    (prune_chunks), pairs each chunk's column rows (_pair_work) and maps
    ``emit(group, mask, cache)`` over the chunks: ``mask`` is the WHERE
    keep-mask (None without ``where``) and ``cache`` the chunk's
    _get_codes memo, so a column the WHERE already unpacked is not
    unpacked again. A chunk lacking one of those columns raises, naming
    ``op``."""
    refs = sorted(referenced_columns(where)) if where is not None else []
    need = list(dict.fromkeys(cols + refs))
    dtypes, schema_cols = _dtype_map(chunks, need, op, schema_cols)

    def run(emit, schema, prune: Pred | None = where) -> DataFrame:
        pruned = chunks if prune is None else prune_chunks(chunks, prune, schema_cols)

        def per_chunk(group: dict) -> pa.RecordBatch | None:
            missing = [c for c in need if c not in group]
            if missing:
                raise ValueError(
                    f"chunk is missing column rows for {missing} — {op}"
                    " needs every column it reads and every WHERE column in"
                    " the chunk table"
                )
            cache: dict = {}
            return emit(group, _build_mask(group, where, dtypes, cache), cache)

        return _pair_work(pruned, need, colocated).mapInArrow(
            kernel(lambda batches: _pair_stream(batches, per_chunk)), schema=schema
        )

    return dtypes, run


def _norm_keys(op: str, key_cols, val_col: str) -> tuple[list[str], list[str]]:
    """-> (key column list, output key names). Single-key keeps the legacy
    output column name ``key``; multi-key outputs the real column names."""
    single = isinstance(key_cols, str)
    keys = [key_cols] if single else list(key_cols)
    if not keys:
        raise ValueError(f"{op} needs at least one key column")
    if len(set(keys)) != len(keys):
        raise ValueError(f"{op}: duplicate key columns {keys}")
    if val_col in keys:
        raise ValueError(f"{op}: value column {val_col!r} cannot also be a key")
    return keys, (["key"] if single else keys)


def _key_codes(
    group: dict,
    key_cols: list[str],
    key_dtypes: dict[str, str],
    mask: np.ndarray | None,
    cache: dict,
) -> tuple[np.ndarray, int, list[pa.Array]]:
    """-> (compact group codes per row, group count m, one key Array of
    length m per key column). Each key column's dictionary codes come from
    the codec structures (_codes_and_dict, null sentinel = len(dict));
    the composite key is compacted with np.unique over the STACKED code
    columns — no cross-key stride arithmetic, so any key count and any
    per-key cardinality fits without overflow. Every returned group is
    present in the chunk (dense) — with a WHERE ``mask`` the codes are
    filtered BEFORE compaction, so fully-filtered groups never emit (SQL:
    GROUP BY only over surviving rows). A null key value decodes to a
    null element exactly as SQL GROUP BY groups nulls."""
    per, dicts = [], []
    for c in key_cols:
        codes, dict_arr, _ = _get_codes(group, c, key_dtypes, cache)
        if mask is not None:
            codes = codes[mask]
        per.append(codes)
        dicts.append(dict_arr)
    stacked = np.stack(per, axis=1)
    uniq, inv = np.unique(stacked, axis=0, return_inverse=True)
    outs = []
    for k, c in enumerate(key_cols):
        out_t = typemap.spark_to_arrow(key_dtypes[c])
        full = pa.concat_arrays(
            [dicts[k].cast(out_t), pa.nulls(1, type=out_t)]
        )  # index len(dict) == the null sentinel
        outs.append(full.take(pa.array(uniq[:, k], type=pa.int64())))
    return inv.astype(np.int64).ravel(), len(uniq), outs


def _val_lane(op: str, val_dtype: str) -> tuple[str, str]:
    """-> (lane, SQL type of the SUM) for a value column. Three lanes:

    * int    — exact int64 accumulation (SUM(int) -> bigint);
    * float  — float64 accumulation (SUM(float/double) -> double, the
               SQL standard promotion);
    * decimal— exact arbitrary-precision accumulation of the int64
               unscaled lane (object-dtype adds: chunk-local sums of
               decimal(18) values overflow int64), SUM -> decimal(38,s).

    timestamps/dates/booleans are rejected exactly as SQL SUM rejects
    them (metadata_agg serves their min/max)."""
    if val_dtype in typemap.INT_DTYPES:
        return "int", "bigint"
    if val_dtype in typemap.FLOAT_DTYPES:
        return "float", "double"
    if typemap.is_decimal(val_dtype):
        _, s = typemap.decimal_params(val_dtype)
        return "decimal", f"decimal(38,{s})"
    raise TypeError(
        f"{op} needs an int, float, or decimal value column, got {val_dtype}"
        " (SQL SUM rejects timestamps/dates/booleans; use metadata_agg for"
        " their min/max)"
    )


def _extract_vals(varr: pa.Array, val_dtype: str, lane: str):
    """-> (vals ndarray with nulls zeroed, null mask). int/decimal lanes
    are exact int64; float lane is float64."""
    if lane == "int":
        return typemap.to_int64_values(varr, val_dtype)
    if lane == "float":
        mask = varr.is_null().to_numpy(zero_copy_only=False)
        vals = (
            varr.cast(pa.float64()).fill_null(0.0).to_numpy(zero_copy_only=False)
        )
        return vals, mask
    ints = typemap.decimal_to_unscaled(varr, val_dtype)
    mask = ints.is_null().to_numpy(zero_copy_only=False)
    return ints.fill_null(0).to_numpy(zero_copy_only=False), mask


def _group_sums(codes, vals, vmask, m: int, lane: str) -> np.ndarray:
    """Per-group sums over dictionary codes (nulls contribute 0)."""
    contrib = np.where(vmask, 0, vals)
    if lane == "decimal":
        # exact beyond int64: astype(object) yields Python ints, whose
        # addition is arbitrary-precision (no per-row Python in the hot
        # paths — this lane only runs for decimal value columns)
        sums = np.zeros(m, dtype=object)
        np.add.at(sums, codes, contrib.astype(object))
        return sums
    sums = np.zeros(m, dtype=np.float64 if lane == "float" else np.int64)
    np.add.at(sums, codes, contrib)
    return sums


def _sum_arrow(sums, lane: str, sum_sql: str) -> pa.Array:
    if lane == "decimal":
        import decimal as _dec

        _, s = typemap.decimal_params(sum_sql)
        return pa.array(
            [_dec.Decimal(int(v)).scaleb(-s) for v in sums],
            type=pa.decimal128(38, s),
        )
    t = pa.float64() if lane == "float" else pa.int64()
    return pa.array(sums, type=t)


def _minmax_arrays(
    codes, vals, vmask, m: int, lane: str, val_dtype: str
) -> tuple[pa.Array, pa.Array]:
    """-> (mins, maxs) typed in the value column's own type. Float
    NaN follows Spark's ordering (NaN greater than everything): MAX is
    NaN when any value in the group is NaN; MIN is NaN only when every
    non-null value is."""
    val_t = typemap.spark_to_arrow(val_dtype)
    nn_codes = codes[~vmask]
    nn_vals = vals[~vmask]
    has = np.zeros(m, dtype=bool)
    np.logical_or.at(has, nn_codes, True)
    if lane == "float":
        mins = np.full(m, np.inf)
        maxs = np.full(m, -np.inf)
        np.fmin.at(mins, nn_codes, nn_vals)  # fmin/fmax skip NaN
        np.fmax.at(maxs, nn_codes, nn_vals)
        nan_in = np.zeros(m, dtype=bool)
        np.logical_or.at(nan_in, nn_codes, np.isnan(nn_vals))
        maxs[nan_in] = np.nan  # Spark: NaN is the largest value
        # a group is all-NaN only when NO non-NaN value was seen — testing
        # mins == inf would misread a group whose true minimum IS +inf
        non_nan_seen = np.zeros(m, dtype=bool)
        np.logical_or.at(non_nan_seen, nn_codes, ~np.isnan(nn_vals))
        all_nan = has & ~non_nan_seen
        mins[all_nan] = np.nan
        mk = lambda a: pa.array(a, type=pa.float64(), mask=~has).cast(val_t)
        return mk(mins), mk(maxs)
    I64 = np.iinfo(np.int64)
    mins = np.full(m, I64.max, dtype=np.int64)
    maxs = np.full(m, I64.min, dtype=np.int64)
    np.minimum.at(mins, nn_codes, nn_vals)
    np.maximum.at(maxs, nn_codes, nn_vals)
    ints = lambda a: pa.array(a, type=pa.int64(), mask=~has)
    if lane == "decimal":
        return (
            typemap.unscaled_to_decimal(ints(mins), val_dtype),
            typemap.unscaled_to_decimal(ints(maxs), val_dtype),
        )
    return ints(mins).cast(val_t), ints(maxs).cast(val_t)


def _dict_ranks(vdict: pa.Array, out_t) -> tuple[np.ndarray, pa.Array]:
    """Rank a value dictionary once -> (rank per code, sorted dictionary
    cast to ``out_t``). ``pc.sort_indices`` gives the same total order
    Spark/SQL uses: binary collation for strings, NaN greatest for
    floats. The null sentinel code len(vdict) ranks -1."""
    import pyarrow.compute as pc

    nv = len(vdict)
    si = pc.sort_indices(vdict).to_numpy(zero_copy_only=False).astype(np.int64)
    rank = np.empty(nv + 1, dtype=np.int64)
    rank[si] = np.arange(nv)
    rank[nv] = -1
    return rank, vdict.take(pa.array(si, type=pa.int64())).cast(out_t)


def _rank_minmax(
    vcodes: np.ndarray, vdict: pa.Array, codes: np.ndarray, m: int, out_t
) -> tuple[pa.Array, pa.Array]:
    """Per-group (min, max) for ANY orderable dtype, both sides at
    dictionary scale: the value dictionary is ranked once (_dict_ranks)
    and min/max reduce over RANKS through the codes; extreme VALUES come
    back by indexing the sorted dictionary. ``vcodes`` must already be
    row-mask-filtered to align with ``codes``."""
    nv = len(vdict)
    rank, sorted_dict = _dict_ranks(vdict, out_t)
    nn = vcodes < nv  # the null sentinel is excluded
    nn_codes, nn_rr = codes[nn], rank[vcodes][nn]
    minr = np.full(m, nv, dtype=np.int64)
    maxr = np.full(m, -1, dtype=np.int64)
    np.minimum.at(minr, nn_codes, nn_rr)
    np.maximum.at(maxr, nn_codes, nn_rr)
    has = maxr >= 0
    mn = sorted_dict.take(
        pa.array(np.where(has, minr, 0), type=pa.int64(), mask=~has)
    )
    mx = sorted_dict.take(
        pa.array(np.where(has, maxr, 0), type=pa.int64(), mask=~has)
    )
    return mn, mx


def group_stats_encoded(
    chunks: DataFrame,
    key_col: "str | list[str]",
    val_col: str,
    colocated: bool = False,
    where: Pred | None = None,
    schema_cols=None,
) -> DataFrame:
    """Grouped count/sum/min/max in one encoded-side pass:
    ``SELECT keys, count(*), count(val), sum(val), min(val), max(val)
    GROUP BY keys`` — a fixed agg spec over group_agg_encoded's kernel
    (_agg_partials), with every key read as dictionary codes (module
    docstring); multiple key columns compose via np.unique over the
    stacked per-key codes (_key_codes) — composite keys still never
    materialize per row. Value column may be int (exact int64),
    float/double (float64, SUM -> double), or decimal(p<=18,s) (exact,
    SUM -> decimal(38,s)). Output: (key | the named key columns, n_rows,
    n_vals, s, mn, mx) — s/mn/mx NULL for groups whose values are all
    null, SQL semantics. ``colocated=True`` skips the chunk_id
    repartition (see _pair_work). ``where`` pushes a WHERE clause into
    the encoded pass: chunk stats skip impossible chunks (prune_chunks),
    then the exact recheck runs in the DICTIONARY domain
    (engine/encoded_filter — |dictionary| comparisons per leaf, one
    vectorized gather per row; Kleene 3-valued, so NULL semantics match
    the SQL WHERE exactly)."""
    keys, out_names = _norm_keys("group_stats_encoded", key_col, val_col)
    return _grouped(
        "group_stats_encoded", chunks, keys, out_names,
        [
            ("count", "*", "n_rows"),
            ("count", val_col, "n_vals"),
            ("sum", val_col, "s"),
            ("min", val_col, "mn"),
            ("max", val_col, "mx"),
        ],
        colocated, where, schema_cols,
    )


def group_minmax_encoded(
    chunks: DataFrame,
    key_col: "str | list[str]",
    val_col: str,
    colocated: bool = False,
    where: Pred | None = None,
    schema_cols=None,
) -> DataFrame:
    """``SELECT keys, count(*), count(val), min(val), max(val) GROUP BY
    keys`` for ANY orderable value dtype — including the types SQL SUM
    rejects (string, timestamp, date, boolean), which group_sum/
    group_stats_encoded correctly refuse.

    A fixed agg spec over group_agg_encoded's kernel (_agg_partials),
    which picks the value column's lane: numeric values decode once and
    reduce in their own lane (_minmax_arrays — NaN greatest, as in
    Spark); any other dtype stays at dictionary scale — its dictionary is
    ranked once per chunk and per-group min/max reduce over RANKS through
    the codes (_rank_minmax), so per-row values never materialize.
    Output: (key | the named key columns, n_rows, n_vals, mn, mx); mn/mx
    NULL for all-null groups (SQL). ``where``/``colocated`` as in
    group_stats_encoded."""
    keys, out_names = _norm_keys("group_minmax_encoded", key_col, val_col)
    return _grouped(
        "group_minmax_encoded", chunks, keys, out_names,
        [
            ("count", "*", "n_rows"),
            ("count", val_col, "n_vals"),
            ("min", val_col, "mn"),
            ("max", val_col, "mx"),
        ],
        colocated, where, schema_cols,
    )


def group_topk_encoded(
    chunks: DataFrame,
    key_col: "str | list[str]",
    val_col: str,
    k: int,
    desc: bool = True,
    colocated: bool = False,
    where: Pred | None = None,
    schema_cols=None,
) -> DataFrame:
    """Per-group ORDER BY ... LIMIT k over encoded data: the k extreme
    VALUES of ``val_col`` within each group (SQL ``row_number() OVER
    (PARTITION BY keys ORDER BY val) <= k`` on non-null values — the
    result multiset is deterministic even under value ties).

    Two-level top-k: each chunk emits its own per-group top-k candidates
    straight from codec structures — group codes from key dictionaries,
    value ORDER from the ranked value dictionary (same total order as
    group_minmax_encoded), one lexsort at chunk scale — and the global
    window then runs over candidates only. The union of per-chunk top-k
    contains the global top-k, so the shuffle carries at most
    chunks x groups x k rows, never the table. NULL values are excluded
    (SQL ORDER BY LIMIT semantics for ranked values; use
    group_stats_encoded's n_rows - n_vals for null accounting).
    Output: (key | the named key columns, value)."""
    if k < 1:
        raise ValueError(f"group_topk_encoded: k must be >= 1, got {k}")
    keys, out_names = _norm_keys("group_topk_encoded", key_col, val_col)
    dtypes, run = _chunk_pass(
        "group_topk_encoded", chunks, keys + [val_col], where, colocated,
        schema_cols,
    )
    val_dtype = dtypes[val_col]
    out_t = typemap.spark_to_arrow(val_dtype)

    def emit(group: dict, mask, cache: dict) -> pa.RecordBatch | None:
        vcodes, vdict, _ = _get_codes(group, val_col, dtypes, cache)
        if mask is not None:
            vcodes = vcodes[mask]
        codes, m, key_arrs = _key_codes(group, keys, dtypes, mask, cache)
        if m == 0:
            return None
        rank, sorted_dict = _dict_ranks(vdict, out_t)
        nn = vcodes < len(vdict)  # nulls never rank
        g, r = codes[nn], rank[vcodes[nn]]
        if not len(g):
            return None
        order = np.lexsort((-r if desc else r, g))
        gs = g[order]
        starts = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
        lens = np.diff(np.r_[starts, len(gs)])
        pos = np.arange(len(gs)) - np.repeat(starts, lens)
        top = pos < k  # chunk-local per-group top-k candidates
        vals = sorted_dict.take(pa.array(r[order][top], type=pa.int64()))
        gtake = pa.array(gs[top], type=pa.int64())
        return pa.RecordBatch.from_arrays(
            [*(a.take(gtake) for a in key_arrs), vals],
            [*out_names, "value"],
        )

    key_schema = ", ".join(f"`{n}` {dtypes[c]}" for n, c in zip(out_names, keys))
    cand = run(emit, f"{key_schema}, value {val_dtype}")
    from pyspark.sql import Window

    order_col = F.col("value").desc() if desc else F.col("value").asc()
    w = Window.partitionBy(*[F.col(f"`{n}`") for n in out_names]).orderBy(order_col)
    return (
        cand.withColumn("__pe_rn", F.row_number().over(w))
        .filter(F.col("__pe_rn") <= k)
        .drop("__pe_rn")
    )


def group_sum_encoded(
    chunks: DataFrame,
    key_col: "str | list[str]",
    val_col: str,
    colocated: bool = False,
    where: Pred | None = None,
    schema_cols=None,
) -> DataFrame:
    """``SELECT keys, sum(val) GROUP BY keys`` — a one-aggregate spec over
    group_agg_encoded's kernel (_agg_partials) — with the key side read
    from codec structures: per chunk, the keys' dictionary codes drive one
    scatter-add over the value column — key values materialize only at
    dictionary scale, and multi-key composites compact via np.unique over
    stacked codes (_key_codes), never per row. Value lanes as
    group_stats_encoded: int (exact, -> bigint), float/double (-> double),
    decimal(p<=18,s) (exact, -> decimal(38,s)); SQL SUM semantics (nulls
    ignored, all-null group -> NULL). Output columns: (key | the named
    key columns, s). ``colocated=True`` skips the chunk_id repartition
    (see _pair_work). ``where`` pushes a WHERE clause into the encoded
    pass: stats-pruned chunks plus a dictionary-domain exact recheck
    (see group_stats_encoded / engine/encoded_filter)."""
    keys, out_names = _norm_keys("group_sum_encoded", key_col, val_col)
    return _grouped(
        "group_sum_encoded", chunks, keys, out_names,
        [("sum", val_col, "s")], colocated, where, schema_cols,
    )


_AGG_FNS = ("count", "sum", "avg", "min", "max")


def _norm_agg_specs(
    op: str, aggs, out_key_names: list[str]
) -> list[tuple[str, str, str]]:
    """Normalize/validate the (fn, column, alias) agg list. ``count`` may
    take ``"*"``; aliases must be unique and distinct from the output key
    columns (they become the result's column names)."""
    if not aggs:
        raise ValueError(f"{op} needs at least one aggregate")
    specs: list[tuple[str, str, str]] = []
    seen = set(out_key_names)
    for item in aggs:
        if not (isinstance(item, (tuple, list)) and len(item) == 3):
            raise ValueError(
                f"{op}: each aggregate must be (fn, column, alias), got {item!r}"
            )
        fn, col, alias = item
        fn = str(fn).lower()
        if fn not in _AGG_FNS:
            raise ValueError(
                f"{op}: unknown aggregate {fn!r} (supported: {_AGG_FNS};"
                " use group_count_distinct_encoded for COUNT(DISTINCT) and"
                " group_quantiles_encoded for quantiles)"
            )
        if col == "*" and fn != "count":
            raise ValueError(f"{op}: '*' is only valid with count")
        if not alias or not isinstance(alias, str):
            raise ValueError(f"{op}: aggregate alias must be a non-empty string")
        if alias in seen:
            raise ValueError(f"{op}: duplicate output column {alias!r}")
        seen.add(alias)
        specs.append((fn, str(col), alias))
    return specs


def group_agg_encoded(
    chunks: DataFrame,
    key_col: "str | list[str]",
    aggs: "list[tuple[str, str, str]]",
    colocated: bool = False,
    where: Pred | None = None,
    derive: "dict[str, str] | None" = None,
    schema_cols=None,
) -> DataFrame:
    """Multi-aggregate GROUP BY over encoded data in ONE chunk pass:
    ``SELECT keys, agg1, agg2, ... GROUP BY keys`` where each agg is a
    ``(fn, column, alias)`` tuple with fn in count/sum/avg/min/max
    (``("count", "*", n)`` counts rows). It reads every referenced
    column once and emits one combined partial row per (chunk, group) —
    at 100 TB, an N-aggregate report costs one pass instead of N.
    group_sum/group_stats/group_minmax_encoded and the filtered
    value_counts_encoded are fixed agg specs over the same kernel
    (_agg_partials).

    Per column the cheapest sound lane is chosen: numeric columns
    (int/float/decimal) decode once and serve sum/avg/min/max/count from
    the same array (avg -> double, computed exactly as merged-sum /
    merged-count); non-numeric columns (string/timestamp/date/boolean)
    never materialize per row — count and min/max come from dictionary
    codes with the ranked-dictionary kernel (_rank_minmax), and sum/avg
    on them raise exactly as SQL SUM does. NULL semantics are SQL
    throughout: count(*) counts rows, count(col) non-nulls, sum/avg/
    min/max of an all-null group are NULL, null keys group together.

    ``derive`` maps output-column aliases to SQL expressions over the
    RAW key columns, evaluated at PARTIAL scale (n_chunks × distinct
    keys rows, never per row) before the final merge — GROUP BY an
    expression of the key with the expression cost paid at dictionary
    scale: ``derive={"day": "date_trunc('day', ts)"}`` is a time-bucket
    rollup (see time_rollup_encoded). With ``derive`` the output groups
    by the derived aliases; without it, by the key columns (single key
    keeps the legacy ``key`` output name). Decomposable-merge rule:
    count/sum re-sum, min/max re-min/max, avg = summed-sum/summed-count,
    so regrouping partials under a coarser derived key stays exact.

    ``colocated``/``where`` as in group_stats_encoded (stats-pruned
    chunks + dictionary-domain exact recheck)."""
    single = isinstance(key_col, str)
    keys = [key_col] if single else list(key_col)
    out_names = keys if derive is not None else (["key"] if single else keys)
    specs = _norm_agg_specs("group_agg_encoded", aggs, out_names)
    if derive is not None:
        if not derive:
            raise ValueError("group_agg_encoded: derive must be non-empty")
        taken = set(out_names) | {a for _, _, a in specs}
        clash = [a for a in derive if a in taken]
        if clash:
            raise ValueError(
                f"group_agg_encoded: derive aliases {clash} collide with"
                " key/aggregate output columns"
            )
    partials, merges = _agg_partials(
        "group_agg_encoded", chunks, keys, out_names, specs, colocated,
        where, schema_cols,
    )
    if derive is not None:
        for alias, expr in derive.items():
            partials = partials.withColumn(alias, F.expr(expr))
        gcols = list(derive)
    else:
        gcols = out_names
    return partials.groupBy(*[F.col(f"`{g}`") for g in gcols]).agg(*merges)


def _agg_partials(
    op: str,
    chunks: DataFrame,
    keys: list[str],
    out_names: list[str],
    specs: list[tuple[str, str, str]],
    colocated: bool,
    where: Pred | None,
    schema_cols=None,
) -> tuple[DataFrame, list]:
    """The one grouped-aggregate kernel, behind group_agg_encoded,
    group_agg_sets_encoded and the fixed-spec shims (_grouped): one
    chunk pass over every referenced column
    -> (partials DataFrame keyed by ``out_names``, merge expressions in
    spec order). Partials are decomposable (count/sum re-sum, min/max
    re-extreme, avg = Σsum/Σcount), so ANY regrouping of them — a
    coarser derived key, a grouping set, a cube — stays exact."""
    if not keys:
        raise ValueError(f"{op} needs at least one key column")
    if len(set(keys)) != len(keys):
        raise ValueError(f"{op}: duplicate key columns {keys}")
    agg_cols = sorted({c for _, c, _ in specs if c != "*"})
    dtypes, run = _chunk_pass(
        op, chunks, keys + agg_cols, where, colocated, schema_cols
    )

    # per referenced column: "decode" lane (numeric — one decode serves
    # every agg) or "codes" lane (dictionary-domain count/min/max only)
    lanes: dict[str, str] = {}
    sum_sqls: dict[str, str] = {}
    modes: dict[str, str] = {}
    for c in agg_cols:
        fns = {f for f, cc, _ in specs if cc == c}
        try:
            lanes[c], sum_sqls[c] = _val_lane(op, dtypes[c])
            modes[c] = "decode"
        except TypeError:
            if fns & {"sum", "avg"}:
                raise
            modes[c] = "codes"

    part_fields, merges = [], []
    for i, (fn, c, alias) in enumerate(specs):
        a = f"__a{i}"
        if fn == "count":
            part_fields.append(f"{a} bigint")
            merges.append(F.sum(a).alias(alias))
        elif fn in ("sum", "avg"):
            part_fields.append(f"{a} {sum_sqls[c]}, __c{i} bigint")
            nn_sum = F.sum(f"__c{i}")
            if fn == "sum":
                merges.append(
                    F.when(nn_sum > 0, F.sum(a))
                    .otherwise(F.lit(None))
                    .cast(sum_sqls[c])
                    .alias(alias)
                )
            else:
                merges.append(
                    F.when(nn_sum > 0, F.sum(a).cast("double") / nn_sum)
                    .otherwise(F.lit(None))
                    .alias(alias)
                )
        else:
            part_fields.append(f"{a} {dtypes[c]}")
            merges.append((F.min(a) if fn == "min" else F.max(a)).alias(alias))

    def emit(group: dict, mask, cache: dict) -> pa.RecordBatch | None:
        codes, m, key_arrs = _key_codes(group, keys, dtypes, mask, cache)
        if m == 0:
            return None
        dec: dict[str, tuple] = {}
        cod: dict[str, tuple] = {}
        for c in agg_cols:
            if modes[c] == "decode":
                codec_, payload_, _ = group[c]
                varr = decode_array(payload_, dtypes[c], codec_)
                vals, vmask = _extract_vals(varr, dtypes[c], lanes[c])
                if mask is not None:
                    vals, vmask = vals[mask], vmask[mask]
                dec[c] = (vals, vmask)
            else:
                vcodes, vdict, _ = _get_codes(group, c, dtypes, cache)
                if mask is not None:
                    vcodes = vcodes[mask]
                cod[c] = (vcodes, vdict)
        mm_cache: dict[str, tuple] = {}

        def minmax(c: str):
            if c not in mm_cache:
                if modes[c] == "decode":
                    vals, vmask = dec[c]
                    mm_cache[c] = _minmax_arrays(
                        codes, vals, vmask, m, lanes[c], dtypes[c]
                    )
                else:
                    vcodes, vdict = cod[c]
                    mm_cache[c] = _rank_minmax(
                        vcodes, vdict, codes, m,
                        typemap.spark_to_arrow(dtypes[c]),
                    )
            return mm_cache[c]

        arrays, names = [*key_arrs], list(out_names)
        for i, (fn, c, alias) in enumerate(specs):
            a = f"__a{i}"
            if fn == "count":
                if c == "*":
                    cnt = np.bincount(codes, minlength=m)
                elif modes[c] == "decode":
                    cnt = np.bincount(codes[~dec[c][1]], minlength=m)
                else:
                    vcodes, vdict = cod[c]
                    cnt = np.bincount(codes[vcodes < len(vdict)], minlength=m)
                arrays.append(pa.array(cnt.astype(np.int64), type=pa.int64()))
                names.append(a)
            elif fn in ("sum", "avg"):
                vals, vmask = dec[c]
                sums = _group_sums(codes, vals, vmask, m, lanes[c])
                nn = np.bincount(codes[~vmask], minlength=m).astype(np.int64)
                arrays.append(_sum_arrow(sums, lanes[c], sum_sqls[c]))
                arrays.append(pa.array(nn, type=pa.int64()))
                names.extend([a, f"__c{i}"])
            else:
                mn, mx = minmax(c)
                arrays.append(mn if fn == "min" else mx)
                names.append(a)
        return pa.RecordBatch.from_arrays(arrays, names)

    key_schema = ", ".join(f"`{n}` {dtypes[c]}" for n, c in zip(out_names, keys))
    return run(emit, f"{key_schema}, {', '.join(part_fields)}"), merges


def _grouped(
    op: str,
    chunks: DataFrame,
    keys: list[str],
    out_names: list[str],
    specs: list[tuple[str, str, str]],
    colocated: bool,
    where: Pred | None,
    schema_cols=None,
) -> DataFrame:
    """A fixed agg spec through _agg_partials, merged per output key."""
    partials, merges = _agg_partials(
        op, chunks, keys, out_names, specs, colocated, where, schema_cols
    )
    return partials.groupBy(*[F.col(f"`{n}`") for n in out_names]).agg(*merges)


def group_agg_sets_encoded(
    chunks: DataFrame,
    key_cols: list[str],
    aggs: "list[tuple[str, str, str]]",
    sets: "list[list[str]] | str",
    colocated: bool = False,
    where: Pred | None = None,
    schema_cols=None,
) -> DataFrame:
    """GROUPING SETS / ROLLUP / CUBE over encoded data with ONE chunk
    pass: ``SELECT keys, aggs..., grouping_id GROUP BY GROUPING SETS
    (...)``. The finest-grain partials (all key columns, dictionary
    scale — see group_agg_encoded) are built once; Spark's native
    ``groupingSets`` then expands them per set, so the multi-grain
    report costs one scan of the chunk table plus a re-aggregation of
    tiny partial rows — at 100 TB, a rollup with S sets reads the data
    once, not S times.

    ``sets`` is a list of key subsets (``[]`` = grand total), or the
    shorthands ``"rollup"`` (prefixes, coarsest last) / ``"cube"`` (all
    subsets). Output: every key column (NULL where not grouped — use
    ``gid`` to tell that apart from a NULL key value), the aggregate
    aliases, and ``gid`` = Spark's grouping_id (leftmost key = most
    significant bit; SQL ``GROUPING(k1)*2^(n-1)+...`` gives the same
    number). ``colocated``/``where`` as in group_stats_encoded."""
    keys = list(key_cols)
    if isinstance(sets, str):
        mode = sets.lower()
        if mode == "rollup":
            sets = [keys[:i] for i in range(len(keys), -1, -1)]
        elif mode == "cube":
            from itertools import combinations

            sets = [
                list(c)
                for r in range(len(keys), -1, -1)
                for c in combinations(keys, r)
            ]
        else:
            raise ValueError(
                f"group_agg_sets_encoded: sets shorthand {sets!r} must be"
                " 'rollup' or 'cube' (or an explicit list of key subsets)"
            )
    if not sets:
        raise ValueError("group_agg_sets_encoded needs at least one grouping set")
    seen_sets = set()
    for s in sets:
        bad = [k for k in s if k not in keys]
        if bad:
            raise ValueError(
                f"group_agg_sets_encoded: grouping set {s} references"
                f" non-key columns {bad}"
            )
        t = tuple(sorted(s))
        if t in seen_sets:
            raise ValueError(f"group_agg_sets_encoded: duplicate grouping set {s}")
        seen_sets.add(t)
    specs = _norm_agg_specs("group_agg_sets_encoded", aggs, keys + ["gid"])
    partials, merges = _agg_partials(
        "group_agg_sets_encoded", chunks, keys, keys, specs, colocated,
        where, schema_cols,
    )
    gs = partials.groupingSets(
        [[F.col(f"`{k}`") for k in s] for s in sets],
        *[F.col(f"`{k}`") for k in keys],
    )
    return gs.agg(*merges, F.grouping_id().alias("gid"))


_TIME_UNITS = (
    "year", "quarter", "month", "week", "day", "hour", "minute", "second",
)


def time_rollup_encoded(
    chunks: DataFrame,
    ts_col: str,
    unit: str,
    aggs: "list[tuple[str, str, str]]",
    colocated: bool = False,
    where: Pred | None = None,
    bucket_name: str = "bucket",
    schema_cols=None,
) -> DataFrame:
    """Time-bucketed rollup over encoded data — the hypertable/continuous
    -aggregate shape: ``SELECT date_trunc(unit, ts) AS bucket, aggs...
    GROUP BY 1``. A thin veneer over group_agg_encoded's ``derive``: the
    timestamp column reads as dictionary codes, per-chunk partials group
    at the RAW timestamp's dictionary scale, and date_trunc runs on
    those partial rows (n_chunks × distinct timestamps), never per row;
    the final merge re-groups partials under the bucket exactly
    (count/sum re-sum, min/max re-extreme, avg = Σsum/Σcount)."""
    u = str(unit).lower()
    if u not in _TIME_UNITS:
        raise ValueError(
            f"time_rollup_encoded: unit {unit!r} not in {_TIME_UNITS}"
        )
    return group_agg_encoded(
        chunks,
        [ts_col],
        aggs,
        colocated=colocated,
        where=where,
        derive={bucket_name: f"date_trunc('{u}', `{ts_col}`)"},
        schema_cols=schema_cols,
    )


def pivot_encoded(
    chunks: DataFrame,
    row_key: str,
    col_key: str,
    agg: "tuple[str, str]" = ("count", "*"),
    values: "list | None" = None,
    colocated: bool = False,
    where: Pred | None = None,
    schema_cols=None,
) -> DataFrame:
    """Cross-tab over encoded data: ``SELECT row_key, agg FILTER
    (col_key = v1) AS v1, ... GROUP BY row_key``.

    The heavy lifting is the single-pass encoded GROUP BY on
    (row_key, col_key) — both keys stay at dictionary scale, the shuffle
    carries (row, col, partial) tuples — and the pivot itself runs on
    the FINAL aggregate (|row domain| x |col domain| rows, kilobytes),
    so spreading columns never touches row-scale data.

    ``values`` pins the output columns (required for a deterministic
    schema on a cluster — Spark's pivot otherwise runs an extra distinct
    job and orders columns by observed values); count cells fill 0 as
    SQL's ``count(*) FILTER`` does, other aggs keep NULL for absent
    (row, col) pairs as SQL's filtered sum/min/max do.
    """
    fn, col = agg
    cells = group_agg_encoded(
        chunks,
        [row_key, col_key],
        [(fn, col, "__cell")],
        colocated=colocated,
        where=where,
        schema_cols=schema_cols,
    )
    p = cells.groupBy(row_key).pivot(col_key, values)
    out = p.agg(F.first("__cell"))
    if fn == "count":
        for c in out.columns:
            if c != row_key:
                out = out.withColumn(
                    c, F.coalesce(F.col(f"`{c}`"), F.lit(0))
                )
    return out
