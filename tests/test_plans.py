"""Physical-plan assertions: the declarative claims (pushdown reaches the
Parquet scan, projection prunes columns, small joins broadcast, chunk-table
projection filters before decode) must be visible in explain() output —
the first thing that would silently regress at 100 TB."""

import re

import pytest
from pyspark.sql import functions as F

import parquet_extra_spark as pes


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45.0).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_parquet(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = pes.project(li, "l_orderkey", "l_quantity")
    plan = plan_of(q)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_small_dim_join_broadcasts(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    q = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).groupBy("c_mktsegment").count()
    assert "BroadcastHashJoin" in plan_of(q)


def test_chunk_projection_filters_before_decode(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "enc")
    pes.encode_to(docs, out, partition_cols=["lang"], chunk_rows=256, n_buckets=2, n_salts=1)
    chunks = pes.read_chunks(spark, out)
    dec = pes.decode(chunks, columns=["doc_id", "lang"])
    plan = plan_of(dec)
    # the column-IN filter must appear below the decode (pushed into the
    # parquet scan of the chunk table: unrequested payloads never read)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "column" in pushed and "In" in pushed


def test_pushdown_stats_filter_on_chunk_scan(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "enc2")
    pes.encode_to(docs, out, partition_cols=["lang"], chunk_rows=256, n_buckets=2, n_salts=1)
    chunks = pes.read_chunks(spark, out)
    pruned = pes.chunk_range_filter(chunks, "n_chars", 100, 200)
    plan = plan_of(pruned)
    # chunk pruning is a broadcast semi-join on chunk_id — never a shuffle
    # of the payload side
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


# the chunk-stats pivot: Spark plans groupBy("chunk_id").pivot("column")
# as PivotFirst, or — for string/array stats — as first(if (column <=> v))
_PIVOT = re.compile(r"pivotfirst|first\(if \(\(column#\d+ <=> ")


def test_single_column_prune_has_no_pivot(spark):
    """One referenced column reads its stats straight off that column's
    chunk rows; only a multi-column predicate pays the pivot shuffle."""
    df = spark.range(4000).select(F.col("id").alias("k"), (F.col("id") % 97).alias("m"))
    chunks = pes.encode(df, chunk_rows=512, n_buckets=2, n_salts=1)
    schema_cols = pes.schema_from_struct(df.schema)
    one = plan_of(pes.prune_chunks(chunks, pes.P.ge("k", 5) & pes.P.le("k", 900), schema_cols))
    two = plan_of(pes.prune_chunks(chunks, pes.P.ge("k", 5) & pes.P.le("m", 9), schema_cols))
    assert not _PIVOT.search(one)
    assert _PIVOT.search(two)
    assert two.count("Exchange") == one.count("Exchange") + 1


def test_encode_plan_has_single_exchange(spark):
    from parquet_extra_spark.sources import code_corpus

    corpus = code_corpus(spark, n_rows=2000)
    chunks = pes.encode(corpus, partition_cols=["repo", "lang"], chunk_rows=1024)
    plan = plan_of(chunks)
    # exactly one shuffle (the explicit unit repartition); the in-chunk
    # value sort must NOT appear as a JVM Sort of the full sort key list
    assert plan.count("Exchange") == 1
    assert "commit" not in plan.split("Sort")[1][:120] if "Sort" in plan else True
