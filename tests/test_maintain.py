"""DELETE / MERGE on the chunk table: SQL row semantics + the
metadata-decided three-way chunk split (drop / rewrite / untouched)."""

import os

import pytest
from pyspark.sql import functions as F

import parquet_extra_spark as pes
from parquet_extra_spark.engine.maintain import delete_stats


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).cache()


def _rows(df, key="doc_id"):
    return sorted(tuple(r) for r in df.collect())


def test_delete_where_equals_sql_delete(spark, docs):
    chunks = pes.encode(
        docs, partition_cols=["lang"], sort_cols=["doc_id"], chunk_rows=64,
        n_buckets=4, n_salts=2,
    ).cache()
    pred = pes.P.eq("lang", "en") & pes.P.gt("n_chars", 200)
    out = pes.delete_where(chunks, pred, chunk_rows=64)
    got = _rows(pes.decode(out))
    want = _rows(docs.filter(~F.coalesce((F.col("lang") == "en") & (F.col("n_chars") > 200), F.lit(False))))
    assert got == want


def test_delete_three_way_split_on_clustered_chunks(spark):
    """Sorted ingest gives disjoint chunk ranges: a range delete must drop
    interior chunks on metadata alone, rewrite only boundary chunks, and
    leave the rest byte-identical."""
    df = spark.createDataFrame([(i, f"v{i}") for i in range(1000)], "k bigint, v string")
    chunks = pes.encode(
        df, sort_cols=["k"], unit_sort=True, chunk_rows=100, n_buckets=1, n_salts=1
    ).cache()
    pred = pes.P.ge("k", 150) & pes.P.lt("k", 850)
    st = delete_stats(chunks, pred)
    assert st["chunks_total"] == 10
    assert st["chunks_dropped"] >= 5  # interior chunks: metadata-only drop
    assert st["chunks_rewritten"] <= 2  # only the two boundary chunks decode
    assert st["chunks_untouched"] >= 2
    out = pes.delete_where(chunks, pred, chunk_rows=100)
    got = sorted(r["k"] for r in pes.decode(out).select("k").collect())
    assert got == list(range(150)) + list(range(850, 1000))
    # untouched chunks pass through byte-identical (same payload blobs)
    kept_payloads = {
        bytes(r["payload"])
        for r in chunks.filter(F.col("column") == "v").collect()
    }
    out_payloads = {
        bytes(r["payload"])
        for r in out.filter(F.col("column") == "v").collect()
    }
    assert len(out_payloads & kept_payloads) >= st["chunks_untouched"]


def test_delete_null_rows_survive(spark):
    """SQL DELETE: rows where the predicate is NULL are NOT deleted, and a
    chunk with nulls is never certain-dropped by a comparison — nor by a
    NOT, whose child is NULL (not FALSE) on a NULL row or, for an isin
    holding NULL, on every non-matching row."""
    df = spark.createDataFrame(
        [(1, 10, "go"), (2, None, "go"), (3, 30, None), (4, None, "go")],
        "k bigint, x bigint, s string",
    )
    chunks = pes.encode(df, chunk_rows=4, n_buckets=1, n_salts=1)
    out = pes.delete_where(chunks, pes.P.gt("x", 0), chunk_rows=4)
    got = sorted(r["k"] for r in pes.decode(out).select("k").collect())
    assert got == [2, 4]
    many = [f"z{i}" for i in range(70)]  # past the 64-value expansion
    schema_cols = pes.schema_from_struct(df.schema)
    for pred, sql in [
        (~pes.P.gt("x", 40), ~(F.col("x") > 40)),
        (~pes.P.isin("s", ["py", None]), ~F.col("s").isin("py", None)),
        (~pes.P.isin("s", many + [None]), ~F.col("s").isin(*many, None)),
    ]:
        out = pes.delete_where(chunks, pred, chunk_rows=4)
        got = sorted(
            r["k"] for r in pes.decode(out, schema_cols=schema_cols).collect()
        )
        want = sorted(
            r["k"] for r in df.filter(~F.coalesce(sql, F.lit(False))).collect()
        )
        assert got == want, pred
        assert delete_stats(chunks, pred)["chunks_dropped"] == 0, pred


def test_delete_keeps_bigint_rows_past_2_pow_53(spark):
    """A double cast of the bigint stats read the chunk [2**53, 2**53+1]
    as max == 2**53, so `x <= 2**53` certain-dropped it and deleted the
    row 2**53+1, which SQL DELETE keeps."""
    base = 2**53
    df = spark.createDataFrame(
        [(i, base + i) for i in range(4)], "k int, x bigint"
    )
    chunks = pes.encode(df, sort_cols=["x"], unit_sort=True, chunk_rows=2,
                        n_buckets=1, n_salts=1)
    for pred, sql in [
        (pes.P.le("x", base), F.col("x") <= base),
        (pes.P.lt("x", base + 1), F.col("x") < base + 1),
    ]:
        out = pes.delete_where(chunks, pred, chunk_rows=2)
        want = _rows(df.filter(~F.coalesce(sql, F.lit(False))))
        assert _rows(pes.decode(out).select(*df.columns)) == want, pred


def test_delete_unknown_column_raises(spark, docs):
    chunks = pes.encode(docs, chunk_rows=256, n_buckets=2, n_salts=1)
    with pytest.raises(ValueError):
        pes.delete_where(chunks, pes.P.eq("nope", 1))


def test_merge_rows_upsert(spark):
    df = spark.createDataFrame(
        [(i, f"old{i}", i * 10) for i in range(100)], "k bigint, v string, w bigint"
    )
    chunks = pes.encode(df, sort_cols=["k"], chunk_rows=20, n_buckets=1, n_salts=1).cache()
    new = spark.createDataFrame(
        [(5, "NEW5", -1), (42, "NEW42", -2), (200, "INS200", -3)],
        "k bigint, v string, w bigint",
    )
    out = pes.merge_rows(chunks, new, "k", chunk_rows=20)
    dec = {r["k"]: (r["v"], r["w"]) for r in pes.decode(out).collect()}
    assert len(dec) == 101
    assert dec[5] == ("NEW5", -1)
    assert dec[42] == ("NEW42", -2)
    assert dec[200] == ("INS200", -3)
    assert dec[6] == ("old6", 60)


def test_merge_rejects_duplicate_and_null_keys(spark):
    df = spark.createDataFrame([(1, "a")], "k bigint, v string")
    chunks = pes.encode(df, chunk_rows=4, n_buckets=1, n_salts=1)
    dup = spark.createDataFrame([(2, "x"), (2, "y")], "k bigint, v string")
    with pytest.raises(ValueError, match="duplicate"):
        pes.merge_rows(chunks, dup, "k")
    withnull = spark.createDataFrame([(None, "x")], "k bigint, v string")
    with pytest.raises(ValueError, match="NULL key"):
        pes.merge_rows(chunks, withnull, "k")


def test_merge_rejects_schema_mismatch(spark):
    df = spark.createDataFrame([(1, "a")], "k bigint, v string")
    chunks = pes.encode(df, chunk_rows=4, n_buckets=1, n_salts=1)
    bad = spark.createDataFrame([(2,)], "k bigint")
    with pytest.raises(ValueError, match="MERGE replaces whole rows"):
        pes.merge_rows(chunks, bad, "k")


def test_merge_large_key_batch_plans_and_completes(spark):
    """A merge at tens of thousands of distinct keys must PLAN (the isin
    pruning goes data-shaped above 64 values (broadcast-joined value set)
    instead of expanding ~2 expression terms per key) and produce exact upsert
    results."""
    n = 60_000
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    chunks = pes.encode(
        df, sort_cols=["k"], chunk_rows=4096, n_buckets=4, n_salts=2,
        unit_sort=True,
    ).cache()
    chunks.count()
    updates = spark.range(50_000).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
    )
    out = pes.merge_rows(chunks, updates, "k", chunk_rows=4096)
    dec = pes.decode(out)
    assert dec.count() == n
    assert dec.filter("v = -1").count() == 50_000
    assert dec.filter("k >= 50000 AND v = -1").count() == 0
    chunks.unpersist()
