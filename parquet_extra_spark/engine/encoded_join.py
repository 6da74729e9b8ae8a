"""Join pushed into the encoded layout — the "invisible join" over
compressed data (Abadi et al., "Column-Stores vs. Row-Stores", SIGMOD'08
— public literature), realized Spark-first.

``join_encoded`` joins an encoded chunk table (the FACT side) against a
small dimension DataFrame on one equi-key, without ever running the join
at row scale:

* **metadata pruning** — the dim's key set becomes a pushed ``P.isin``:
  chunks whose [min,max]/membership digests miss the whole set never
  decode a byte (engine/predicate.prune_chunks; above 64 keys the
  data-shaped broadcast form, never per-value Catalyst terms);
* **dictionary-domain matching** — per surviving chunk the key column's
  DICTIONARY entries (``distinct`` values, not ``n_values`` rows) are
  matched against the dim keys once (``pc.index_in``); per-row dim
  indices arrive by gathering that match through the codes;
* **late materialization** — payload columns decode only in chunks with
  at least one surviving row, and non-surviving rows are dropped by one
  vectorized ``take`` before anything widens.

The dim side ships once per executor as a Spark broadcast; the fact side
is map-only (``colocated=True`` keeps the whole join exchange-free, the
one metadata semi-join of pruning aside). At 100 TB a fact-dim join
therefore shuffles NOTHING: the classic broadcast-hash-join plan, minus
ever materializing the fact rows that miss.

Reference anchor: the reference's read path has no join operator — joins
happen after full materialization (ExampleParquetReader.java reads whole
records). This module is the engine-completeness analogue of its
predicate pushdown (parquet-avro Predicate.scala:10-27): the same
coarse-skip + exact-recheck contract, applied to a join key.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..codecs import decode_array, typemap
from .decoder import _spark_schema, discover_schema
from .encoded_agg import _chunk_pass, _get_codes
from .predicate import P, Pred

_HOW = ("inner", "left", "semi", "anti")


def _norm_on(on) -> tuple[str, str]:
    if isinstance(on, str):
        return on, on
    fact_key, dim_key = on
    return fact_key, dim_key


def join_encoded(
    chunks: DataFrame,
    on,
    dim: DataFrame,
    columns: list[str] | None = None,
    dim_columns: list[str] | None = None,
    how: str = "inner",
    where: Pred | None = None,
    colocated: bool = False,
    max_dim_rows: int = 2_000_000,
    schema_cols=None,
) -> DataFrame:
    """Equi-join the encoded fact table against a small ``dim`` DataFrame.

    ``on`` — the join key: one column name shared by both sides, or a
    ``(fact_key, dim_key)`` pair. Dim keys must be UNIQUE (the PK-dim
    enrichment contract; a duplicated key would need row multiplication,
    which this operator refuses rather than silently first-matches).

    ``columns`` — fact columns to materialize (default: all).
    ``dim_columns`` — dim columns to attach (inner/left; default: every
    dim column except the key). ``how`` — ``inner`` | ``left`` | ``semi``
    | ``anti``. semi/anti return fact columns only; anti keeps null-key
    fact rows, matching Spark's left_anti / SQL NOT EXISTS; left keeps
    every (WHERE-surviving) fact row and fills dim columns with NULL on
    misses — note only inner/semi prune chunks by the key set.

    ``where`` composes a pushed fact-side predicate: it joins the key set
    in the chunk-pruning pass and masks rows in the dictionary domain
    (engine/encoded_filter) before any payload decodes.

    ``colocated=True`` — encode-output layout: no repartition; the fact
    side of the join is then exchange-free (see decoder.check_colocated).

    The dim side is collected and broadcast — bounded by
    ``max_dim_rows`` (default 2M). For dim sides past broadcast scale use
    ``decode(...)`` + Spark's own join: shuffling both sides is then the
    right plan, and Catalyst owns it.
    """
    if how not in _HOW:
        raise ValueError(f"join_encoded: how must be one of {_HOW}, got {how!r}")
    fact_key, dim_key = _norm_on(on)
    if dim_key not in dim.columns:
        raise ValueError(f"join_encoded: dim has no column {dim_key!r}")
    if how in ("semi", "anti") and dim_columns:
        raise ValueError(f"join_encoded: dim_columns make no sense with how={how!r}")
    if dim_columns is None:
        dim_columns = (
            [c for c in dim.columns if c != dim_key]
            if how in ("inner", "left")
            else []
        )
    unknown_dim = [c for c in dim_columns if c not in dim.columns]
    if unknown_dim:
        raise ValueError(f"join_encoded: unknown dim columns {unknown_dim}")

    if schema_cols is None:
        schema_cols = discover_schema(chunks)
    if columns is None:
        columns = [c for c, _, _ in schema_cols]
    collide = sorted(set(columns) & set(dim_columns))
    if collide:
        raise ValueError(
            f"join_encoded: output name collision {collide} — select/alias"
            " the dim side before joining"
        )
    dtypes, run = _chunk_pass(
        "join_encoded", chunks, [fact_key, *columns], where, colocated,
        schema_cols,
    )
    key_dtype = dtypes[fact_key]
    key_t = typemap.spark_to_arrow(key_dtype)

    # ---- collect + validate the dim side (ONE job, bounded) ----
    dim_tbl = (
        dim.select(dim_key, *dim_columns)
        .limit(max_dim_rows + 1)
        .toArrow()
        .combine_chunks()
    )
    if dim_tbl.num_rows > max_dim_rows:
        raise ValueError(
            f"join_encoded: dim exceeds max_dim_rows={max_dim_rows} — this"
            " operator broadcasts the dim; for large-large joins decode()"
            " the fact side and use Spark's join"
        )
    # SQL equi-join semantics: a NULL dim key matches nothing — drop it.
    dim_tbl = dim_tbl.filter(pc.is_valid(dim_tbl.column(dim_key)))
    try:
        dim_keys = dim_tbl.column(dim_key).combine_chunks().cast(key_t)
    except pa.ArrowInvalid as e:
        raise TypeError(
            f"join_encoded: dim key {dim_key!r} is not castable to the fact"
            f" key's type {key_dtype} ({e})"
        ) from e
    if pc.count_distinct(dim_keys).as_py() != len(dim_keys):
        raise ValueError(
            f"join_encoded: dim keys {dim_key!r} are not unique — an"
            " enrichment join needs a PK dim (pre-aggregate or dropDuplicates"
            " the dim first)"
        )
    dim_arrays = {c: dim_tbl.column(c).combine_chunks() for c in dim_columns}

    # ---- output schema: fact columns (their encoded dtypes) + dim fields
    out_schema = _spark_schema([(c, i, dtypes[c]) for i, c in enumerate(columns)])
    dim_fields = list(dim.select(*dim_columns).schema.fields) if dim_columns else []
    if how == "left":
        # misses fill dim columns with NULL — the output fields must be
        # nullable regardless of the dim's own nullability
        dim_fields = [
            T.StructField(f.name, f.dataType, nullable=True) for f in dim_fields
        ]
    out_struct = T.StructType(list(out_schema.fields) + dim_fields)

    spark = chunks.sparkSession
    key_list = dim_keys.to_pylist()
    if not key_list and how in ("inner", "semi"):
        # empty dim: inner/semi results are empty by definition
        return spark.createDataFrame([], out_struct)

    # ---- metadata pruning (only inner/semi may skip chunks by key) ----
    pred = where
    if how in ("inner", "semi"):
        # the key set as a pushed IN-list; >64 values take the data-shaped
        # broadcast form inside prune_chunks, never per-value expressions
        key_pred = P.isin(fact_key, key_list)
        pred = key_pred if pred is None else (pred & key_pred)

    # key -> dim row index, built ONCE on the driver and shipped as a
    # broadcast: each executor deserializes it once and every chunk pays
    # O(|dictionary|) lookups — never a per-chunk rebuild of a hash table
    # over the full key set (at a 2M-key dim x thousands of chunks per
    # task, re-hashing the big side per chunk would dominate)
    lookup = {v: i for i, v in enumerate(key_list)}
    bc = spark.sparkContext.broadcast((lookup, dim_arrays))
    anti, left = how == "anti", how == "left"
    out_ts = {c: typemap.spark_to_arrow(dtypes[c]) for c in columns}

    def emit(group: dict, mask, cache: dict) -> pa.RecordBatch | None:
        b_lookup, b_arrays = bc.value
        codes, dict_arr, _ = _get_codes(group, fact_key, dtypes, cache)
        # match ONCE per dictionary entry (O(|dict|) dict lookups against
        # the broadcast map); sentinel len(dict) = null key, never matches
        entries = dict_arr.cast(key_t).to_pylist()
        ext = np.fromiter(
            (b_lookup.get(v, -1) for v in entries),
            dtype=np.int64,
            count=len(entries),
        )
        ext = np.concatenate([ext, np.array([-1], dtype=np.int64)])
        didx = ext[codes]
        if left:
            keep = np.ones(len(codes), dtype=bool)
        elif anti:
            keep = didx < 0
        else:
            keep = didx >= 0
        if mask is not None:
            keep &= mask
        idx = np.nonzero(keep)[0]
        if not len(idx):
            return None
        take = pa.array(idx, type=pa.int64())
        n_rows = len(codes)
        arrays = []
        for c in columns:
            if c in cache:
                # dictionary-domain reconstruction: values = dict[codes]
                ccodes, cdict, _ = cache[c]
                full = pa.concat_arrays(
                    [cdict.cast(out_ts[c]), pa.nulls(1, type=out_ts[c])]
                )
                arrays.append(full.take(pa.array(ccodes[idx], type=pa.int64())))
                continue
            codec, payload, n_values = group[c]
            arr = decode_array(payload, dtypes[c], codec)
            if len(arr) != n_rows or n_values != n_rows:
                raise ValueError(
                    f"join_encoded: column length skew in chunk for {c!r}:"
                    f" {len(arr)}/{n_values} != {n_rows}"
                )
            arrays.append(arr.take(take))
        if dim_columns:
            d = didx[idx]
            # null dim row index -> null dim values (left-join misses)
            dtake = pa.array(np.where(d >= 0, d, 0), type=pa.int64(), mask=d < 0)
            for c in dim_columns:
                arrays.append(b_arrays[c].take(dtake))
        return pa.RecordBatch.from_arrays(
            arrays, [f.name for f in out_struct.fields]
        )

    return run(emit, out_struct, prune=pred)
