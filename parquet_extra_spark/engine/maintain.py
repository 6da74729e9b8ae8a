"""Row-level maintenance on the chunk table: DELETE and keyed MERGE.

The lakehouse operations (Delta/Iceberg DELETE FROM / MERGE INTO) the
reference stack leaves to its table layer, re-expressed over this
engine's chunk table with the same metadata-first discipline as
compaction (engine/compact.py):

``delete_where(chunks, pred)`` classifies every chunk from its stats
using the SAME sound (possible, certain) abstract interpretation the
read path uses (engine/predicate.chunk_verdicts):

* ``certain``  — every row matches the predicate: the whole chunk is
  dropped, payload never decoded;
* ``not possible`` — no row can match: the chunk passes through
  byte-identical;
* otherwise — the chunk is decoded, surviving rows re-encoded.

At 100 TB a date-range retention delete therefore costs decode work
proportional to the BOUNDARY chunks only (interior chunks drop on
metadata, untouched chunks never move), exactly how lakehouse engines
make retention affordable.

Row semantics match SQL DELETE: a row is deleted iff the predicate is
TRUE for it; FALSE and NULL rows survive. The (possible, certain)
verdicts respect this — a chunk containing nulls in a referenced column
is never certain-dropped by a comparison predicate (nulls don't match)
or by its negation (NOT of a NULL is NULL, predicate._never_null).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .decoder import decode, discover_schema
from .encoder import encode
from .predicate import Pred, chunk_verdicts, semi_join_surviving, to_spark


def delete_where(
    chunks: DataFrame,
    pred: Pred,
    schema_cols: list[tuple[str, int, str]] | None = None,
    uid_namespace: str = "delete",
    **encode_kwargs,
) -> DataFrame:
    """Chunk table with every row matching ``pred`` removed.

    Only boundary chunks (possible but not certain) are decoded and
    re-encoded under ``uid_namespace`` (must differ from the source
    encode's namespace so rewritten chunk ids cannot collide with kept
    ones — the decoder fails fast if they do); ``encode_kwargs`` shape
    the rewritten chunks' layout. The output unions two encodes, so use
    the default shuffled decode on it (same caveat as compact_chunks).
    """
    if schema_cols is None:
        schema_cols = discover_schema(chunks)
    v = chunk_verdicts(chunks, pred, schema_cols)
    drop_ids = v.filter(F.col("__c")).select("chunk_id")
    touch_ids = v.filter(F.col("__p") & ~F.col("__c")).select("chunk_id")

    untouched = chunks.join(
        drop_ids.unionByName(touch_ids), "chunk_id", "left_anti"
    )
    touched = semi_join_surviving(chunks, touch_ids)
    # SQL DELETE row rule: delete iff pred TRUE; NULL verdict rows survive
    kept_rows = decode(touched, schema_cols=schema_cols).filter(
        ~F.coalesce(to_spark(pred), F.lit(False))
    )
    reenc = encode(kept_rows, uid_namespace=uid_namespace, **encode_kwargs)
    return untouched.unionByName(reenc)


def delete_stats(
    chunks: DataFrame,
    pred: Pred,
    schema_cols: list[tuple[str, int, str]] | None = None,
) -> dict:
    """Metadata-only report of what delete_where would do: how many whole
    chunks drop on stats alone, how many need a rewrite, how many pass
    through untouched."""
    if schema_cols is None:
        schema_cols = discover_schema(chunks)
    v = chunk_verdicts(chunks, pred, schema_cols)
    row = v.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("__c").cast("int")).alias("dropped"),
        F.sum((F.col("__p") & ~F.col("__c")).cast("int")).alias("rewritten"),
    ).collect()[0]
    return {
        "chunks_total": row["total"],
        "chunks_dropped": row["dropped"],
        "chunks_rewritten": row["rewritten"],
        "chunks_untouched": row["total"] - row["dropped"] - row["rewritten"],
    }


_MERGE_MAX_KEYS = 100_000


def merge_rows(
    chunks: DataFrame,
    new_df: DataFrame,
    key_col: str,
    schema_cols: list[tuple[str, int, str]] | None = None,
    uid_namespace: str = "merge",
    max_keys: int = _MERGE_MAX_KEYS,
    **encode_kwargs,
) -> DataFrame:
    """Keyed upsert (MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT, whole-row): rows of ``new_df`` replace existing rows with the
    same ``key_col`` value and append otherwise.

    The matched side is a ``delete_where(P.isin(key, keys))`` — eq/isin
    pruning via the membership/Bloom digests makes it selective on
    clustered keys — so only chunks whose stats admit one of the batch's
    keys are rewritten. The key set is collected to the driver and bounded
    by ``max_keys``: this is the small-batch MERGE path (CDC upserts,
    corrections). For batch sizes beyond the guard, pre-partition the
    update into bounded batches; an unbounded key set would both blow the
    driver and degrade the isin pruning to a full rewrite anyway.

    ``new_df`` must not contain duplicate keys (last-writer would be
    ambiguous); duplicates raise.
    """
    from .predicate import P

    if key_col not in new_df.columns:
        raise ValueError(f"key column {key_col!r} not in new_df")
    if schema_cols is None:
        schema_cols = discover_schema(chunks)
    have = {c for c, _, _ in schema_cols}
    if set(new_df.columns) != have:
        raise ValueError(
            f"new_df columns {sorted(new_df.columns)} != chunk table columns "
            f"{sorted(have)} — MERGE replaces whole rows"
        )
    key_rows = (
        new_df.groupBy(key_col).count().limit(max_keys + 1).collect()
    )
    if len(key_rows) > max_keys:
        raise ValueError(
            f"merge batch exceeds max_keys={max_keys} distinct keys — split"
            " the update into bounded batches"
        )
    dupes = [r[0] for r in key_rows if r["count"] > 1]
    if dupes:
        raise ValueError(f"duplicate keys in merge batch: {sorted(dupes)[:5]}")
    keys = [r[0] for r in key_rows]
    if any(k is None for k in keys):
        raise ValueError("merge batch contains a NULL key — keys must be non-null")
    remaining = delete_where(
        chunks,
        P.isin(key_col, keys),
        schema_cols=schema_cols,
        uid_namespace=uid_namespace + "-del",
        **encode_kwargs,
    )
    inserted = encode(new_df, uid_namespace=uid_namespace, **encode_kwargs)
    return remaining.unionByName(inserted)
