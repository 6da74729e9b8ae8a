"""Deterministic sequence packing for training-data pipelines.

Packs variable-length documents into fixed-token-budget training
sequences — the step between dedup/decontamination and the trainer's
data loader.  Two lanes, same contract (every input row assigned to
exactly one ``seq_id``, deterministic for a given input set):

* ``pack_by_cumsum`` — *offset packing*: order documents by a salted
  hash inside hash-derived buckets, running-total their token counts,
  and cut sequences at budget boundaries (``seq = floor((cum - size)
  / budget)``).  A sequence can overshoot the budget by at most one
  document (the one straddling the cut), which trainers handle by
  truncation — in exchange the whole operator is two Catalyst window
  functions over a hash-partitioned order: ONE shuffle, no Python, and
  *exactly* SQL-expressible, so the registered query has a full DuckDB
  value oracle.  Buckets bound window-partition size: at 100 TB pick
  n_buckets so each bucket is a few hundred MB; the hash order inside
  a bucket makes packing insensitive to input file layout.
* ``pack_greedy`` — classic greedy first-fit over the same
  deterministic hash order, one ``applyInPandas`` per bucket: no
  overshoot (documents larger than the budget get singleton
  sequences), denser packs, at the cost of a Python hop.  Correctness
  is pinned by pytest invariants (partition of the input; no sequence
  over budget except singletons; bit-stable across runs and
  partitionings) rather than a SQL oracle — greedy bin state is not
  expressible in one SQL pass.

Global ``seq_id`` is ``bucket * 2^40 + local_seq`` — collision-free
without any cross-bucket coordination (a bucket would need 2^40
sequences to overflow its slice).

Reference anchor: the hash-bucket + intra-bucket deterministic order
is the same salt/unit_sort shape the encoder uses for chunk layout
(engine/encoder.py); sampling.py's md5 bucketing supplies the
engine-portable order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..engine.worker import task

_BUCKET_SHIFT = 40  # local sequence counter fits in 40 bits per bucket


def _order_cols(id_col: str, salt: str):
    # md5 of the id (same engine-portable construction as
    # operators/sampling.py): deterministic, uniform, oracle-matching
    # via DuckDB md5(); the id disambiguates md5 ties (none in
    # practice, but the order must be total for determinism).
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("\x1f" + salt)))
    return [h.alias("_ord"), F.col(id_col)]


def pack_by_cumsum(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    size_col: str = "n_tokens",
    budget: int = 2048,
    n_buckets: int = 1024,
    salt: str = "pack",
) -> DataFrame:
    """Offset packing: one shuffle, pure Catalyst, SQL-oracled.

    Returns the input columns plus ``bucket int, seq_id long,
    seq_offset long`` (``seq_offset`` = tokens preceding this document
    inside its sequence — the trainer's concat offset).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if not 1 <= n_buckets <= (1 << 20):
        raise ValueError(f"n_buckets out of range: {n_buckets}")
    ordc = _order_cols(id_col, salt)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(n_buckets),
    ).cast("int")
    # ROWS frame, not Spark's default RANGE frame: duplicate ids (same
    # doc ingested twice) share identical (_ord, id) order keys, and a
    # RANGE frame would make them peers — both rows would get the same
    # cumsum including BOTH sizes, silently overlapping token ranges in
    # one sequence. ROWS matches the DuckDB oracle's explicit
    # ROWS UNBOUNDED PRECEDING.
    w = (
        Window.partitionBy("_bucket")
        .orderBy(ordc[0], F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(size_col)).over(w)
    out = (
        df.withColumn("_bucket", bucket)
        .withColumn("_ord", ordc[0])
        .withColumn("_cum", cum)
        .withColumn(
            "_seq_local",
            F.floor((F.col("_cum") - F.col(size_col)) / F.lit(budget)).cast("long"),
        )
    )
    return out.select(
        *df.columns,
        F.col("_bucket").alias("bucket"),
        (
            F.col("_bucket").cast("long") * F.lit(1 << _BUCKET_SHIFT)
            + F.col("_seq_local")
        ).alias("seq_id"),
        (
            F.col("_cum")
            - F.col(size_col)
            - F.col("_seq_local") * F.lit(budget)
        ).cast("long").alias("seq_offset"),
    )


def pack_greedy(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    size_col: str = "n_tokens",
    budget: int = 2048,
    n_buckets: int = 1024,
    salt: str = "pack",
) -> DataFrame:
    """Greedy first-fit packing per hash bucket (no overshoot).

    Documents are visited in the bucket's deterministic hash order and
    placed into the first open sequence with room; a document larger
    than the budget becomes a singleton sequence.  Output adds
    ``bucket int, seq_id long, seq_tokens long`` (``seq_tokens`` =
    final token total of the document's sequence).
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if not 1 <= n_buckets <= (1 << 20):
        raise ValueError(f"n_buckets out of range: {n_buckets}")
    ordc = _order_cols(id_col, salt)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(n_buckets),
    ).cast("int")
    src = df.withColumn("_bucket", bucket).withColumn("_ord", ordc[0])
    fields = ", ".join(f"`{c.name}` {c.dataType.simpleString()}" for c in src.schema)
    out_schema = f"{fields}, seq_local long, seq_tokens long"

    bshift = _BUCKET_SHIFT
    id_name, size_name = id_col, size_col

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_ord", id_name], kind="mergesort").reset_index(
            drop=True
        )
        sizes = pdf[size_name].astype("int64").tolist()
        # Exact first-fit in O(n log n) via a max-segment-tree over bin
        # room (a linear scan of open bins is O(n^2) — hours per bucket
        # at realistic 10^5-10^6 docs/bucket).  Leaves are potential
        # bins, all starting at full budget; "open a new bin" falls out
        # naturally as selecting the leftmost untouched leaf, so the
        # assignment is bit-identical to the naive scan.
        n = len(sizes)
        tree_n = 1
        while tree_n < max(n, 1):
            tree_n <<= 1
        room = [budget] * (2 * tree_n)
        for i in range(tree_n + n, 2 * tree_n):
            room[i] = -1  # leaves past n are unusable padding
        for i in range(tree_n - 1, 0, -1):
            room[i] = max(room[2 * i], room[2 * i + 1])
        n_opened = 0
        assign: list[int] = []
        for sz in sizes:
            if room[1] >= sz:
                i = 1
                while i < tree_n:  # descend to leftmost leaf with room
                    i = 2 * i if room[2 * i] >= sz else 2 * i + 1
                leaf = i
            else:
                # oversize document (> budget): singleton sequence at
                # the frontier, room goes negative so it never refills
                leaf = tree_n + n_opened
            placed = leaf - tree_n
            if placed == n_opened:
                n_opened += 1
            room[leaf] -= sz
            i = leaf >> 1
            while i:
                room[i] = max(room[2 * i], room[2 * i + 1])
                i >>= 1
            assign.append(placed)
        pdf["seq_local"] = pd.Series(assign, dtype="int64")
        totals = pdf.groupby("seq_local")[size_name].transform("sum")
        pdf["seq_tokens"] = totals.astype("int64")
        return pdf

    packed = src.groupBy("_bucket").applyInPandas(task(_pack), out_schema)
    return packed.select(
        *df.columns,
        F.col("_bucket").alias("bucket"),
        (
            F.col("_bucket").cast("long") * F.lit(1 << bshift) + F.col("seq_local")
        ).alias("seq_id"),
        F.col("seq_tokens"),
    )
