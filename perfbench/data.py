"""Seeded benchmark inputs and the query mix run against them.

Every input is generated JVM-side from ``spark.range`` and the seed, so the
same seed gives the same rows on any checkout and the engine only ever sees
the generated DataFrames.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_extra_spark.sources import code_corpus


@dataclass(frozen=True)
class Dataset:
    """One benchmark input and how the engine is asked to lay it out."""

    name: str
    encode_kwargs: dict
    eq_col: str          # point lookup column
    range_col: str       # range predicate column
    range_proj: tuple    # columns a range query returns
    isin_col: str        # IN-list column
    isin_proj: tuple     # columns an IN-list query returns (() = all)
    group_col: str       # GROUP BY key of the encoded aggregate
    group_aggs: tuple    # (fn, column, alias) triples for group_agg_encoded


def corpus_input(spark: SparkSession, seed: int, n_rows: int, n_part: int) -> DataFrame:
    """A seeded ~half of a ``2 * n_rows`` source-code corpus: the seed picks
    which rows, so commit runs, repo skew and content shape stay those of
    the corpus generator."""
    base = code_corpus(spark, n_rows=2 * n_rows, partitions=n_part)
    keep = F.pmod(F.xxhash64("path", "commit", "content", F.lit(seed)), F.lit(2)) == 0
    return base.filter(keep)


def lineitem_input(spark: SparkSession, seed: int, n_rows: int, n_part: int) -> DataFrame:
    """TPC-H-shaped lineitem with the value domains of the sf0.1 table:
    11 narrow columns, ~4 lines per order, rows in random order."""
    i = F.col("id")

    def h(tag: int, *cols):
        return F.xxhash64(*(cols or (i,)), F.lit(seed), F.lit(tag))

    def pick(tag: int, n: int):
        return F.pmod(h(tag), F.lit(n))

    order = F.floor(i / 4)
    n_orders = max(1, n_rows // 4)
    quantity = (pick(4, 50) + 1).cast("double")
    ship = F.date_add(F.lit("1995-01-02").cast("date"), pick(9, 2499).cast("int"))
    df = spark.range(0, n_rows, 1, n_part)
    return df.select(
        F.pmod(h(1, order), F.lit(n_orders * 4 // 3 + 1)).alias("l_orderkey"),
        pick(2, 20000).alias("l_partkey"),
        pick(3, 1000).alias("l_suppkey"),
        (pick(5, 7) + 1).cast("int").alias("l_linenumber"),
        quantity.alias("l_quantity"),
        ((pick(6, 10410000) + 90068) / F.lit(100.0)).alias("l_extendedprice"),
        (pick(7, 11) / F.lit(100.0)).alias("l_discount"),
        (pick(8, 9) / F.lit(100.0)).alias("l_tax"),
        F.element_at(F.array(*map(F.lit, "ANR")), (pick(10, 3) + 1).cast("int")).alias(
            "l_returnflag"
        ),
        F.element_at(F.array(*map(F.lit, "FO")), (pick(11, 2) + 1).cast("int")).alias(
            "l_linestatus"
        ),
        ship.cast("timestamp_ntz").alias("l_shipdate"),
    )


CORPUS = Dataset(
    name="corpus",
    encode_kwargs=dict(
        partition_cols=["repo", "lang"], sort_cols=["commit", "path"], n_salts=2,
        chunk_rows=4096,
    ),
    eq_col="commit",
    range_col="path",
    range_proj=("repo", "path"),
    isin_col="repo",
    isin_proj=("repo", "path", "commit"),
    group_col="lang",
    group_aggs=(("count", "*", "n"), ("min", "path", "lo"), ("max", "path", "hi")),
)

LINEITEM = Dataset(
    name="lineitem",
    encode_kwargs=dict(
        partition_cols=["l_returnflag", "l_linestatus"],
        sort_cols=["l_shipdate", "l_orderkey"],
        n_salts=2,
        # several chunks per unit: unit_sort gives them disjoint l_shipdate
        # ranges, so range queries can skip chunks
        chunk_rows=1024,
        unit_sort=True,
    ),
    eq_col="l_orderkey",
    range_col="l_shipdate",
    range_proj=("l_orderkey", "l_shipdate", "l_extendedprice"),
    isin_col="l_partkey",
    isin_proj=(),
    group_col="l_returnflag",
    group_aggs=(
        ("count", "*", "n"),
        ("sum", "l_quantity", "qty"),
        ("min", "l_extendedprice", "lo"),
        ("max", "l_extendedprice", "hi"),
    ),
)


@dataclass(frozen=True)
class Query:
    kind: str            # eq | range | isin | group
    values: tuple        # literals, sampled from the input
    columns: tuple       # projected columns (() = all)


def make_queries(df: DataFrame, ds: Dataset, seed: int, n_each: int) -> list[Query]:
    """``n_each`` queries of every kind with literals drawn from rows of
    ``df`` that the seed picks (one small job). Kinds alternate, so every
    run's first k queries hold the same mix of kinds whatever the seed."""
    cols = [ds.eq_col, ds.range_col, ds.isin_col]
    rows = df.select(*cols).orderBy(F.xxhash64(*cols, F.lit(seed))).limit(8 * n_each).collect()

    def distinct(i: int, k: int) -> list:
        return list(dict.fromkeys(r[i] for r in rows))[:k]

    eq = [Query("eq", (v,), ()) for v in distinct(0, n_each)]
    # narrow ranges: neighbours among the sampled values, each bounding
    # about 1/(8 n_each) of the rows, so their selectivity varies little
    bounds = sorted(distinct(1, 8 * n_each))
    step = max(1, (len(bounds) - 1) // n_each)
    rng = [Query("range", (bounds[j], bounds[j + 1]), ds.range_proj)
           for j in range(0, len(bounds) - 1, step)][:n_each]
    members = distinct(2, 3 * n_each)
    isin = [Query("isin", tuple(members[j:j + 3]), ds.isin_proj)
            for j in range(0, len(members) - 2, 3)]
    random.Random(seed).shuffle(rng)  # not in key order
    group = [Query("group", (), ())] * n_each
    return [q for quad in zip(eq, rng, isin, group) for q in quad]
