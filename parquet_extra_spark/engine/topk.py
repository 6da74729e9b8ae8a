"""ORDER BY ... LIMIT k over the encoded chunk table, stats-pruned.

A naive ``decode(chunks).orderBy(col).limit(k)`` reads and decodes every
chunk to keep k rows. Chunk statistics admit the classic top-k refinement
(the TopN/zone-map pruning of column stores; same min/max machinery as
the reference's row-group predicate skipping, parquet-avro
Predicate.scala:19-27, applied to an ordering instead of a filter):

1. **Seed** — order chunks by their stat bound (max_val for descending,
   min_val for ascending; NULL bounds conservatively first, they mean
   "unbounded"), and take just enough chunks that their summed non-null
   counts reach k. At most k chunks seed (each contributes >= 1 value).
2. **Threshold** — decode ONLY the ordering column of the seed chunks
   and read its k-th best value v_k. The k-th best of any subset with
   >= k values bounds the global k-th best from the weak side, so:
3. **Prune** — every chunk whose stat bound is strictly worse than v_k
   provably contributes nothing to the global top k (a one-sided
   ``P.ge``/``P.le`` prune). Decode the survivors, filter to the v_k
   boundary, order, limit k.

At 100 TB a clustered ordering column (unit_sort / Z-order ingest) makes
step 3 keep O(k / chunk_rows) chunks; even unclustered, the decode is
bounded by how many chunks straddle v_k. The two driver actions touch
metadata plus one column of <= k chunks.

NULL ordering keys never appear in the result (SQL ``NULLS LAST`` with
k <= the non-null count; the operator documents — and tests — that it
returns fewer than k rows when fewer than k non-null keys exist).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .decoder import decode, discover_schema
from .predicate import (
    P,
    Pred,
    _typed,
    prune_chunks,
    referenced_columns,
    semi_join_surviving,
    to_spark,
)


def topk_encoded(
    chunks: DataFrame,
    order_cols: "str | list[str]",
    k: int,
    columns: list[str] | None = None,
    ascending: bool = False,
    schema_cols: list[tuple[str, int, str]] | None = None,
    colocated: bool = False,
    where: Pred | None = None,
) -> DataFrame:
    """Top-k rows by ``order_cols[0]`` (descending by default), with the
    remaining ``order_cols`` as ascending tie-breakers — include a unique
    key there to make the returned SET deterministic under boundary ties.
    Only ``order_cols[0]`` participates in chunk PRUNING (the seed and
    the k-th-value threshold are single-column bounds); tie-break columns
    decode at row scale for the surviving chunks only — they order, they
    never prune. ``columns`` projects the decoded output (the ordering
    columns are added for the sort and projected back out if not
    requested). Returns a DataFrame ordered by the full spec, at most k
    rows.

    ``where`` filters BEFORE ranking (SQL: WHERE ... ORDER BY ... LIMIT
    k): chunks impossible under the predicate are stats-pruned up front,
    so both the seed and the threshold prune work on the filtered table;
    the exact row recheck applies after decode. The seed's k-th value is
    computed on rechecked rows, keeping the threshold sound under the
    filter."""
    if k <= 0:
        raise ValueError(f"topk_encoded: k must be positive, got {k}")
    order = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    if not order:
        raise ValueError("topk_encoded needs at least one ordering column")
    col = order[0]
    if schema_cols is None:
        schema_cols = discover_schema(chunks)
    dtypes = {c: d for c, _, d in schema_cols}
    refs = sorted(referenced_columns(where)) if where is not None else []
    unknown = [c for c in order + (columns or []) + refs if c not in dtypes]
    if unknown:
        raise ValueError(f"topk_encoded: unknown columns {unknown}")
    dtype = dtypes[col]
    if where is not None:
        chunks = prune_chunks(chunks, where, schema_cols)

    # 1. seed: enough best-bound chunks to cover k non-null values.
    # bound NULL = unbounded (all-null chunks are excluded by nn > 0;
    # a truncated string max reads NULL) -> conservatively first.
    bound = _typed(F.col("max_val" if not ascending else "min_val"), dtype)
    stat_rows = (
        chunks.filter(F.col("column") == col)
        .select(
            "chunk_id",
            bound.alias("__pe_bound"),
            (F.col("n_values") - F.col("null_count")).alias("__pe_nn"),
        )
        .filter(F.col("__pe_nn") > 0)
    )
    order_expr = (
        F.col("__pe_bound").asc_nulls_first()
        if ascending
        else F.col("__pe_bound").desc_nulls_first()
    )
    seed_rows = stat_rows.orderBy(order_expr).limit(k).collect()
    seed_ids, covered = [], 0
    for r in seed_rows:
        seed_ids.append(r["chunk_id"])
        covered += r["__pe_nn"]
        if covered >= k:
            break

    need = sorted(set(order) | set(columns or []) | set(refs))
    if columns is None:
        need = None  # full-row decode

    # 2. threshold from the seed chunks' ordering column alone (plus the
    # WHERE recheck columns when filtering — the k-th value must be the
    # k-th QUALIFYING value, and is only usable when the seed still has
    # >= k qualifying rows after the exact recheck)
    v_k = None
    if covered >= k:
        spark = chunks.sparkSession
        seed_df = spark.createDataFrame(
            [(int(i),) for i in seed_ids], "chunk_id bigint"
        )
        seed_vals = decode(
            semi_join_surviving(chunks, seed_df),
            columns=sorted({col, *refs}),
            schema_cols=schema_cols,
            colocated=colocated,
        )
        if where is not None:
            seed_vals = seed_vals.filter(to_spark(where))
        kth = (
            seed_vals.filter(F.col(f"`{col}`").isNotNull())
            .orderBy(
                F.col(f"`{col}`").asc() if ascending else F.col(f"`{col}`").desc()
            )
            .limit(k)
            .agg(
                F.count("*").alias("n"),
                (F.max if ascending else F.min)(F.col(f"`{col}`")).alias("v"),
            )
            .collect()
        )
        if kth and kth[0]["n"] >= k:
            v_k = kth[0]["v"]

    # 3. prune on the threshold, decode survivors, exact order + limit
    pruned = chunks
    if v_k is not None:
        pruned = prune_chunks(
            chunks, P.le(col, v_k) if ascending else P.ge(col, v_k), schema_cols
        )
    out = decode(
        pruned, columns=need, schema_cols=schema_cols, colocated=colocated
    )
    c0 = F.col(f"`{col}`")
    out = out.filter(c0.isNotNull())
    if where is not None:
        out = out.filter(to_spark(where))
    if v_k is not None:
        out = out.filter(c0 >= F.lit(v_k) if not ascending else c0 <= F.lit(v_k))
    sort_spec = [c0.asc() if ascending else c0.desc()] + [
        F.col(f"`{c}`").asc() for c in order[1:]
    ]
    out = out.orderBy(*sort_spec).limit(k)
    if columns is not None:
        out = out.select(*[F.col(f"`{c}`") for c in columns])
    return out
