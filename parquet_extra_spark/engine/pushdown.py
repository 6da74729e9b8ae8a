"""Single-column predicate pushdown over the encoded chunk table.

The one-column surface of the reference's Predicate macro
(parquet-avro Predicate.scala:47-183): a range, membership or null test
skips whole chunks on their statistics before any decode, then the exact
filter re-checks the decoded rows (Predicate.scala:10,19-27
Predicates{native, parquet}, tested PredicateTest.scala:206-222).

Every function here is a thin shim: it builds the equivalent ``Pred``
(``P.ge``/``P.le``, ``P.isin``, ``P.is_null``/``P.not_null``) and hands
it to the one pruning compiler in engine/predicate.py, so min/max,
membership-digest, Bloom and large-``isin`` pruning behave exactly as
they do for any predicate tree. A ``Pred`` leaf skips all-null chunks
(no NULL satisfies a comparison).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .decoder import decode, discover_schema
from .predicate import (
    P,
    Pred,
    filter_decode_pred,
    prune_chunks,
    pushdown_stats_pred,
)


def _checked(
    chunks: DataFrame, column: str, schema_cols: list | None
) -> list[tuple[str, int, str]]:
    """Schema of ``chunks``; an unknown column raises (a typo would
    otherwise prune every chunk and return an empty result)."""
    if schema_cols is None:
        schema_cols = discover_schema(chunks)
    if column not in {c for c, _, _ in schema_cols}:
        raise ValueError(f"unknown column {column!r}")
    return schema_cols


def _range(column: str, lower, upper) -> Pred | None:
    """``lower <= column <= upper``; None when both bounds are open, as
    no ``Pred`` means "true"."""
    parts = [P.ge(column, lower)] if lower is not None else []
    parts += [P.le(column, upper)] if upper is not None else []
    return P.and_(*parts) if parts else None


def chunk_range_filter(
    chunks: DataFrame,
    column: str,
    lower=None,
    upper=None,
    dtype: str | None = None,
) -> DataFrame:
    """Full chunk rows of chunks whose [min,max] may intersect
    [lower, upper] on ``column``; either bound may be None (unbounded).
    Pass ``dtype`` to skip schema discovery."""
    schema_cols = None if dtype is None else [(column, 0, dtype)]
    pred = _range(column, lower, upper)
    if pred is None:  # nothing to prune on
        _checked(chunks, column, schema_cols)
        return chunks
    return prune_chunks(chunks, pred, schema_cols)


def chunk_isin_filter(
    chunks: DataFrame, column: str, values: list, dtype: str | None = None
) -> DataFrame:
    """Membership pushdown (an isin is an OR of the reference's equality
    predicates, Predicate.scala:31-38)."""
    schema_cols = None if dtype is None else [(column, 0, dtype)]
    return prune_chunks(chunks, P.isin(column, values), schema_cols)


def chunk_null_filter(
    chunks: DataFrame,
    column: str,
    want_null: bool,
    schema_cols: list[tuple[str, int, str]] | None = None,
) -> DataFrame:
    """Null-ness pushdown (the reference's null literals,
    Predicate.scala:120-127): is-null skips chunks with no nulls,
    is-not-null skips all-null chunks."""
    pred = P.is_null(column) if want_null else P.not_null(column)
    return prune_chunks(chunks, pred, schema_cols)


def filter_decode(
    chunks: DataFrame,
    column: str,
    lower=None,
    upper=None,
    columns: list[str] | None = None,
    schema_cols: list[tuple[str, int, str]] | None = None,
    colocated: bool = False,
) -> DataFrame:
    """Two-phase range decode: chunk-stats skip + exact row recheck. With
    both bounds None every row returns, NULLs included."""
    pred = _range(column, lower, upper)
    if pred is None:  # no prune and no filter
        schema_cols = _checked(chunks, column, schema_cols)
        return decode(
            chunks, columns=columns, schema_cols=schema_cols, colocated=colocated
        )
    return filter_decode_pred(chunks, pred, columns, schema_cols, colocated)


def filter_decode_isin(
    chunks: DataFrame,
    column: str,
    values: list,
    columns: list[str] | None = None,
    schema_cols: list[tuple[str, int, str]] | None = None,
    colocated: bool = False,
) -> DataFrame:
    """Two-phase membership decode: chunk-stats skip + exact isin recheck."""
    return filter_decode_pred(
        chunks, P.isin(column, values), columns, schema_cols, colocated
    )


def filter_decode_null(
    chunks: DataFrame,
    column: str,
    want_null: bool = True,
    columns: list[str] | None = None,
    schema_cols: list[tuple[str, int, str]] | None = None,
    colocated: bool = False,
) -> DataFrame:
    """Two-phase null decode: null_count skip + exact isNull/isNotNull
    recheck."""
    pred = P.is_null(column) if want_null else P.not_null(column)
    return filter_decode_pred(chunks, pred, columns, schema_cols, colocated)


def pushdown_stats(chunks: DataFrame, column: str, lower=None, upper=None) -> dict:
    """Pruning effectiveness of a range: chunks total vs surviving."""
    pred = _range(column, lower, upper)
    if pred is None:
        _checked(chunks, column, None)
        n = chunks.select("chunk_id").distinct().count()
        return {"chunks_total": n, "chunks_kept": n, "chunks_skipped": 0}
    return pushdown_stats_pred(chunks, pred)
