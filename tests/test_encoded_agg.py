"""Compute-over-compressed aggregates: grouped counts/sums from codec
structures must equal the same aggregates over the source DataFrame
(golden-construction equality, the reference's PredicateTest.scala
pattern applied to aggregation)."""

import os

import pytest
from pyspark.sql import functions as F

import parquet_extra_spark as pes
from parquet_extra_spark.engine.encoded_agg import (
    group_minmax_encoded,
    group_stats_encoded,
    group_sum_encoded,
    value_counts_encoded,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).cache()


@pytest.fixture(scope="module")
def doc_chunks(docs):
    return pes.encode(
        docs, partition_cols=["lang"], sort_cols=["doc_id"], chunk_rows=256,
        n_buckets=4, n_salts=2,
    ).cache()


def _as_map(rows, key="value"):
    return {r[key]: r[1] for r in rows}


def test_value_counts_matches_groupby(docs, doc_chunks):
    got = _as_map(value_counts_encoded(doc_chunks, "lang").collect())
    want = _as_map(docs.groupBy(F.col("lang").alias("value")).count().collect())
    assert got == want


def test_value_counts_int_column(docs, doc_chunks):
    got = _as_map(value_counts_encoded(doc_chunks, "n_chars").collect())
    want = _as_map(docs.groupBy(F.col("n_chars").alias("value")).count().collect())
    assert got == want


def test_value_counts_counts_nulls_as_group(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,), ("b",)], "k string"
    )
    chunks = pes.encode(df, chunk_rows=2, n_buckets=1, n_salts=1)
    got = _as_map(value_counts_encoded(chunks, "k").collect())
    assert got == {"a": 2, None: 2, "b": 1}


def test_value_counts_unknown_column(doc_chunks):
    with pytest.raises(ValueError):
        value_counts_encoded(doc_chunks, "nope")


def test_group_sum_matches_groupby(docs, doc_chunks):
    got = _as_map(group_sum_encoded(doc_chunks, "lang", "n_chars").collect(), "key")
    want = _as_map(
        docs.groupBy(F.col("lang").alias("key"))
        .agg(F.sum("n_chars").alias("s"))
        .collect(),
        "key",
    )
    assert got == want


def test_group_sum_null_semantics(spark):
    """Null values are ignored by SUM; a group whose values are all null
    sums to NULL; null keys form their own group."""
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("b", None), (None, 5), (None, None)],
        "k string, v bigint",
    )
    chunks = pes.encode(df, chunk_rows=2, n_buckets=1, n_salts=1)
    got = _as_map(group_sum_encoded(chunks, "k", "v").collect(), "key")
    assert got == {"a": 1, "b": None, None: 5}


def test_group_stats_matches_groupby(docs, doc_chunks):
    got = {
        r["key"]: (r["n_rows"], r["n_vals"], r["s"], r["mn"], r["mx"])
        for r in group_stats_encoded(doc_chunks, "lang", "n_chars").collect()
    }
    want = {
        r["key"]: (r["n_rows"], r["n_vals"], r["s"], r["mn"], r["mx"])
        for r in docs.groupBy(F.col("lang").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_chars").alias("n_vals"),
            F.sum("n_chars").alias("s"),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_group_stats_null_semantics(spark):
    df = spark.createDataFrame(
        [("a", 3), ("a", None), ("a", 1), ("b", None), (None, 5)],
        "k string, v bigint",
    )
    chunks = pes.encode(df, chunk_rows=2, n_buckets=1, n_salts=1)
    got = {
        r["key"]: (r["n_rows"], r["n_vals"], r["s"], r["mn"], r["mx"])
        for r in group_stats_encoded(chunks, "k", "v").collect()
    }
    assert got == {
        "a": (3, 2, 4, 1, 3),
        "b": (1, 0, None, None, None),
        None: (1, 1, 5, 5, 5),
    }


def test_group_sum_rejects_non_int(doc_chunks):
    with pytest.raises(TypeError):
        group_sum_encoded(doc_chunks, "lang", "text")


def test_value_counts_works_on_every_codec(spark):
    """Force each applicable codec and check the counts are codec-blind."""
    rows = [(i % 7,) for i in range(1000)]
    df = spark.createDataFrame(rows, "v bigint")
    want = {i: len([r for r in rows if r[0] == i]) for i in range(7)}
    for codec in ("dict", "rle", "for", "delta", "raw"):
        chunks = pes.encode(df, chunk_rows=128, n_buckets=1, n_salts=1, codec=codec)
        got = _as_map(value_counts_encoded(chunks, "v").collect())
        assert got == want, codec


def test_group_sum_float_lane(spark):
    """SUM over a float/double value column: float64 accumulation, output
    double (SQL promotion), NaN propagates into its group's sum."""
    import math

    rows = [("a", 1.5), ("a", 2.25), ("b", float("nan")), ("b", 1.0),
            ("c", None), ("a", None)]
    df = spark.createDataFrame(rows, "k string, v double")
    chunks = pes.encode(df, chunk_rows=2, n_buckets=1, n_salts=1)
    got = _as_map(group_sum_encoded(chunks, "k", "v").collect(), "key")
    assert got["a"] == 3.75 and math.isnan(got["b"]) and got["c"] is None
    # float32 column -> double sum
    df32 = df.withColumn("v", F.col("v").cast("float"))
    got32 = _as_map(
        group_sum_encoded(
            pes.encode(df32, chunk_rows=2, n_buckets=1, n_salts=1), "k", "v"
        ).collect(),
        "key",
    )
    assert got32["a"] == 3.75


def test_group_stats_float_nan_ordering(spark):
    """Min/max over floats follow Spark's NaN-is-largest ordering: MAX is
    NaN when the group contains one; MIN is NaN only when all non-null
    values are NaN."""
    import math

    rows = [("a", 2.0), ("a", float("nan")), ("a", 1.0),
            ("b", float("nan")), ("c", 4.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    chunks = pes.encode(df, chunk_rows=2, n_buckets=1, n_salts=1)
    got = {
        r["key"]: (r["n_vals"], r["mn"], r["mx"])
        for r in group_stats_encoded(chunks, "k", "v").collect()
    }
    want = {
        r["key"]: (r["n_vals"], r["mn"], r["mx"])
        for r in df.groupBy(F.col("k").alias("key"))
        .agg(F.count("v").alias("n_vals"), F.min("v").alias("mn"),
             F.max("v").alias("mx"))
        .collect()
    }
    assert got["a"][0] == want["a"][0] and got["a"][1] == want["a"][1]
    assert math.isnan(got["a"][2]) and math.isnan(want["a"][2])
    assert math.isnan(got["b"][1]) and math.isnan(got["b"][2])
    assert got["c"] == want["c"]


def test_group_sum_and_stats_decimal_lane(spark):
    """Decimal values accumulate exactly (beyond-int64 unscaled sums) and
    SUM comes back as decimal(38,s); min/max keep the source type."""
    from decimal import Decimal

    # values near the decimal(18,2) ceiling: any int64 unscaled ACCUMULATION
    # would overflow after ~10 adds
    big = Decimal("9000000000000000.25")
    rows = [("a", big)] * 20 + [("b", Decimal("1.50")), ("b", None)]
    df = spark.createDataFrame(rows, "k string, v decimal(18,2)")
    chunks = pes.encode(df, chunk_rows=64, n_buckets=1, n_salts=1)
    got = _as_map(group_sum_encoded(chunks, "k", "v").collect(), "key")
    assert got["a"] == big * 20 and got["b"] == Decimal("1.50")
    st = {
        r["key"]: (r["s"], r["mn"], r["mx"])
        for r in group_stats_encoded(chunks, "k", "v").collect()
    }
    assert st["a"] == (big * 20, big, big)
    assert st["b"] == (Decimal("1.50"), Decimal("1.50"), Decimal("1.50"))


def test_group_sum_rejects_timestamp_and_boolean(spark):
    """SQL SUM rejects timestamps/dates/booleans — so do the encoded
    aggregates (summing raw epoch-micro lanes would be silently wrong)."""
    df = spark.createDataFrame(
        [("a", True)], "k string, v boolean"
    ).withColumn("t", F.current_timestamp())
    chunks = pes.encode(df, chunk_rows=2, n_buckets=1, n_salts=1)
    with pytest.raises(TypeError):
        group_sum_encoded(chunks, "k", "v")
    with pytest.raises(TypeError):
        group_sum_encoded(chunks, "k", "t")
    with pytest.raises(TypeError):
        group_stats_encoded(chunks, "k", "t")


def test_colocated_matches_and_skips_exchange(docs, doc_chunks):
    """colocated=True returns identical results on encode-output chunk
    tables AND plans no Exchange below the encoded-side kernel — the only
    shuffle carries (value, partial) rows."""
    for fn in (group_sum_encoded, group_stats_encoded, group_minmax_encoded):
        a = sorted(map(tuple, fn(doc_chunks, "lang", "n_chars").collect()))
        b = sorted(
            map(tuple, fn(doc_chunks, "lang", "n_chars", colocated=True).collect())
        )
        assert a == b
    plan = group_sum_encoded(
        doc_chunks, "lang", "n_chars", colocated=True
    )._jdf.queryExecution().executedPlan().toString()
    # plan prints root-first: anything after "MapInArrow" is BELOW the
    # encoded-side kernel — no Exchange may move payload bytes there (the
    # Exchange above it carries (key, partial) rows and is expected)
    # (the InMemoryRelation subtree re-prints the cached ENCODE pipeline,
    # whose own clustering Exchange is not part of this query — stop there)
    def _below_map(df):
        s = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in s, s
        return s.split("MapInArrow", 1)[1].split("InMemoryTableScan", 1)[0]

    assert "Exchange" not in _below_map(
        group_sum_encoded(doc_chunks, "lang", "n_chars", colocated=True)
    )
    assert "Exchange" not in _below_map(
        group_stats_encoded(doc_chunks, "lang", "n_chars", colocated=True)
    )
    # the default path DOES repartition payload rows (safety for unknown
    # layouts) — pins that colocated=True is what removes it
    assert "Exchange" in _below_map(group_sum_encoded(doc_chunks, "lang", "n_chars"))


def test_group_stats_float_infinity_group(spark):
    """A group whose only value is +inf must report min = max = Infinity,
    not NaN (the all-NaN test must not key off the +inf sentinel)."""
    import math

    rows = [("a", float("inf")), ("b", 1.0), ("c", float("nan"))]
    df = spark.createDataFrame(rows, "k string, v double")
    chunks = pes.encode(df, chunk_rows=8, n_buckets=1, n_salts=1)
    got = {
        r["key"]: (r["mn"], r["mx"])
        for r in group_stats_encoded(chunks, "k", "v").collect()
    }
    assert got["a"] == (float("inf"), float("inf"))
    assert got["b"] == (1.0, 1.0)
    assert math.isnan(got["c"][0]) and math.isnan(got["c"][1])


def test_group_sum_multikey_matches_groupby(docs, doc_chunks):
    got = {
        (r["lang"], r["source"]): r["s"]
        for r in group_sum_encoded(
            doc_chunks, ["lang", "source"], "n_chars", colocated=True
        ).collect()
    }
    want = {
        (r["lang"], r["source"]): r["s"]
        for r in docs.groupBy("lang", "source")
        .agg(F.sum("n_chars").alias("s"))
        .collect()
    }
    assert got == want


def test_group_stats_multikey_with_null_keys(spark):
    df = spark.createDataFrame(
        [
            ("a", "x", 1), ("a", "x", 2), ("a", None, 3),
            (None, "x", 4), (None, None, 5), ("b", "y", None),
        ],
        "g1 string, g2 string, v bigint",
    )
    chunks = pes.encode(df, chunk_rows=3, n_buckets=2, n_salts=1).cache()
    got = {
        (r["g1"], r["g2"]): (r["n_rows"], r["n_vals"], r["s"], r["mn"], r["mx"])
        for r in group_stats_encoded(chunks, ["g1", "g2"], "v").collect()
    }
    want = {
        (r["g1"], r["g2"]): (r["n_rows"], r["n_vals"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy("g1", "g2")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("v").alias("n_vals"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_group_multikey_validation(doc_chunks):
    with pytest.raises(ValueError, match="at least one key"):
        group_sum_encoded(doc_chunks, [], "n_chars")
    with pytest.raises(ValueError, match="duplicate"):
        group_sum_encoded(doc_chunks, ["lang", "lang"], "n_chars")
    with pytest.raises(ValueError, match="cannot also be a key"):
        group_sum_encoded(doc_chunks, ["lang", "n_chars"], "n_chars")


# ------------------------------------------------------- grouped min/max


def test_group_minmax_orderable_dtypes(spark):
    """min/max for the dtypes SUM rejects (string/timestamp/boolean) —
    the value column reduces over dictionary RANKS, never rows — and for
    numeric columns (int, decimal, float with NaN ordering), which reduce
    in their decoded lane; golden equality against Spark's own groupBy."""
    import math

    from parquet_extra_spark.engine.encoded_agg import group_minmax_encoded

    df = spark.range(2000).select(
        (F.col("id") % 5).alias("g"),
        F.when(
            F.col("id") % 11 != 0,
            F.concat(F.lit("w"), (F.col("id") * 37 % 301).cast("string")),
        ).alias("s"),
        F.when(F.col("id") % 13 != 0, F.timestamp_seconds(F.col("id") * 3600)).alias("ts"),
        F.when(F.col("id") % 7 != 0, (F.col("id") % 2 == 0)).alias("b"),
        F.when(
            F.col("id") % 9 != 0,
            F.when(F.col("id") % 17 == 0, F.lit(float("nan"))).otherwise(
                F.col("id").cast("double") / 7.0
            ),
        ).alias("f"),
        F.when(
            F.col("id") % 6 != 0, (F.col("id") * 31 % 1000 - 500).cast("int")
        ).alias("i"),
        F.when(
            F.col("id") % 8 != 0,
            ((F.col("id") * 13 % 10000) / 100 - 40).cast("decimal(12,2)"),
        ).alias("d"),
    ).cache()
    chunks = pes.encode(df, sort_cols=["g"], chunk_rows=256, n_buckets=2, n_salts=1).cache()

    def key(r):
        return tuple(str(v) for v in r)

    for col in ["s", "ts", "b", "f", "i", "d"]:
        got = sorted(
            key(r) for r in group_minmax_encoded(chunks, "g", col).collect()
        )
        want = sorted(
            key(r)
            for r in df.groupBy(F.col("g").alias("key"))
            .agg(
                F.count("*").alias("n_rows"),
                F.count(col).alias("n_vals"),
                F.min(col).alias("mn"),
                F.max(col).alias("mx"),
            )
            .collect()
        )
        assert got == want, col
    df.unpersist()
    chunks.unpersist()

    # a float group holding both -0.0 and 0.0: either sign is a correct
    # MIN/MAX (plain Spark's own result depends on input order), so the
    # extremes compare by value, NaN by isnan
    zf = spark.createDataFrame(
        [
            (0, -0.0), (0, 0.0), (0, 1.5),
            (1, 0.0), (1, -0.0),
            (2, float("nan")), (2, -0.0), (2, None),
            (3, None), (4, -2.5), (4, 0.0), (4, -0.0),
        ],
        "g int, f double",
    )
    zchunks = pes.encode(zf, chunk_rows=4, n_buckets=1, n_salts=1)
    got = {
        r["key"]: tuple(r[1:])
        for r in group_minmax_encoded(zchunks, "g", "f").collect()
    }
    want = {
        r["g"]: tuple(r[1:])
        for r in zf.groupBy("g")
        .agg(F.count("*"), F.count("f"), F.min("f"), F.max("f"))
        .collect()
    }
    assert got.keys() == want.keys()

    def same(a, b):
        if a is None or b is None:
            return a is None and b is None
        return (math.isnan(a) and math.isnan(b)) or a == b

    for g, w in want.items():
        assert all(same(a, b) for a, b in zip(got[g], w)), (g, got[g], w)


def test_group_minmax_where_and_multikey(docs, doc_chunks):
    from parquet_extra_spark.engine.encoded_agg import group_minmax_encoded

    got = sorted(
        map(
            tuple,
            group_minmax_encoded(
                doc_chunks, ["lang", "source"], "doc_id",
                where=pes.P.ge("n_chars", 200), colocated=True,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            docs.filter(F.col("n_chars") >= 200)
            .groupBy("lang", "source")
            .agg(
                F.count("*").alias("n_rows"),
                F.count("doc_id").alias("n_vals"),
                F.min("doc_id").alias("mn"),
                F.max("doc_id").alias("mx"),
            )
            .collect(),
        )
    )
    assert got == want


# ------------------------------------------------------- grouped top-k


def test_group_topk_matches_window(spark):
    """Per-group ORDER BY LIMIT k from codec structures: chunk-local
    candidates via dictionary ranks, global window over candidates only.
    Golden equality against Spark's own row_number window (the result
    multiset is deterministic even under value ties)."""
    from pyspark.sql import Window

    from parquet_extra_spark.engine.encoded_agg import group_topk_encoded

    df = spark.range(3000).select(
        (F.col("id") % 6).alias("g"),
        F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("t"),
        F.when(F.col("id") % 11 != 0, (F.col("id") * 37 % 149)).alias("v"),
        F.when(
            F.col("id") % 9 != 0,
            F.concat(F.lit("w"), (F.col("id") * 13 % 83).cast("string")),
        ).alias("s"),
    ).cache()
    chunks = pes.encode(df, sort_cols=["g"], chunk_rows=256, n_buckets=2, n_salts=1).cache()

    def golden(keys, val, k, desc, flt=None):
        d = df if flt is None else df.filter(flt)
        w = Window.partitionBy(*keys).orderBy(
            F.col(val).desc() if desc else F.col(val).asc()
        )
        return (
            d.filter(F.col(val).isNotNull())
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select(*keys, F.col(val).alias("value"))
        )

    got = sorted(map(tuple, group_topk_encoded(chunks, "g", "v", 5).collect()))
    want = sorted(
        map(tuple, golden(["g"], "v", 5, True).withColumnRenamed("g", "key").collect())
    )
    assert got == want

    got = sorted(
        map(
            tuple,
            group_topk_encoded(
                chunks, ["g", "t"], "s", 4, desc=False,
                where=pes.P.ge("v", 50), colocated=True,
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, golden(["g", "t"], "s", 4, False, F.col("v") >= 50).collect())
    )
    assert got == want

    with pytest.raises(ValueError, match="k must be"):
        group_topk_encoded(chunks, "g", "v", 0)
    df.unpersist()
    chunks.unpersist()


def test_distinct_multi_matches_spark(docs, doc_chunks):
    """SELECT DISTINCT a, b from stacked dictionary codes — combinations
    materialize at per-chunk-distinct scale only."""
    from parquet_extra_spark.engine.encoded_agg import distinct_encoded

    got = sorted(map(tuple, distinct_encoded(doc_chunks, ["lang", "source"]).collect()))
    want = sorted(map(tuple, docs.select("lang", "source").distinct().collect()))
    assert got == want

    got = sorted(
        map(
            tuple,
            distinct_encoded(
                doc_chunks, ["lang", "source"],
                where=pes.P.ge("n_chars", 200), colocated=True,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            docs.filter(F.col("n_chars") >= 200)
            .select("lang", "source")
            .distinct()
            .collect(),
        )
    )
    assert got == want

    with pytest.raises(ValueError, match="duplicate"):
        distinct_encoded(doc_chunks, ["lang", "lang"])
    with pytest.raises(ValueError, match="at least one"):
        distinct_encoded(doc_chunks, [])

def _disc_quantile(vals, q):
    """DuckDB quantile_disc: value at rank max(1, ceil(q*n)) among the
    sorted non-null values (the rule quantiles_encoded implements)."""
    import math

    vals = sorted(v for v in vals if v is not None)
    if not vals:
        return None
    return vals[max(1, math.ceil(q * len(vals))) - 1]


def test_group_quantiles_matches_golden(docs, doc_chunks):
    from parquet_extra_spark.engine.encoded_agg import group_quantiles_encoded

    qs = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {
        (r["key"], r["q"]): r["value"]
        for r in group_quantiles_encoded(
            doc_chunks, "lang", "n_chars", qs, colocated=True
        ).collect()
    }
    by_key = {}
    for r in docs.select("lang", "n_chars").collect():
        by_key.setdefault(r["lang"], []).append(r["n_chars"])
    want = {
        (k, q): _disc_quantile(vs, q) for k, vs in by_key.items() for q in qs
    }
    assert got == want


def test_group_quantiles_null_semantics(spark):
    """All-NULL-value groups report NULL at every q; NULL keys are a
    real group; NULL values never count toward n."""
    from parquet_extra_spark.engine.encoded_agg import group_quantiles_encoded

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", None), ("b", None), (None, 5), (None, 7)],
        "k string, v int",
    )
    chunks = pes.encode(df, chunk_rows=2, n_buckets=1, n_salts=1)
    got = {
        (r["key"], r["q"]): r["value"]
        for r in group_quantiles_encoded(chunks, "k", "v", [0.5, 1.0]).collect()
    }
    assert got == {
        ("a", 0.5): 1, ("a", 1.0): 2,
        ("b", 0.5): None, ("b", 1.0): None,
        (None, 0.5): 5, (None, 1.0): 7,
    }


def test_group_quantiles_where_and_multikey(docs, doc_chunks):
    from parquet_extra_spark.engine.encoded_agg import group_quantiles_encoded

    qs = [0.5]
    w = pes.P.gt("n_chars", 100)
    got = {
        (r["lang"], r["source"], r["q"]): r["value"]
        for r in group_quantiles_encoded(
            doc_chunks, ["lang", "source"], "n_chars", qs, where=w,
            colocated=True,
        ).collect()
    }
    by_key = {}
    for r in (
        docs.filter(F.col("n_chars") > 100)
        .select("lang", "source", "n_chars")
        .collect()
    ):
        by_key.setdefault((r["lang"], r["source"]), []).append(r["n_chars"])
    want = {
        (k[0], k[1], q): _disc_quantile(vs, q)
        for k, vs in by_key.items()
        for q in qs
    }
    assert got == want


def test_group_quantiles_validation(doc_chunks):
    from parquet_extra_spark.engine.encoded_agg import group_quantiles_encoded

    with pytest.raises(ValueError, match="at least one"):
        group_quantiles_encoded(doc_chunks, "lang", "n_chars", [])
    with pytest.raises(ValueError, match="out of"):
        group_quantiles_encoded(doc_chunks, "lang", "n_chars", [1.5])
    with pytest.raises(ValueError):
        group_quantiles_encoded(doc_chunks, "lang", "nope", [0.5])


# ------------------------------------------------- group_agg_encoded


def test_group_agg_matches_spark(docs, doc_chunks):
    from parquet_extra_spark.engine.encoded_agg import group_agg_encoded

    got = {
        r["key"]: r
        for r in group_agg_encoded(
            doc_chunks,
            "lang",
            [
                ("count", "*", "n"),
                ("count", "source", "ns"),
                ("sum", "n_chars", "sc"),
                ("avg", "n_chars", "ac"),
                ("min", "n_chars", "mnc"),
                ("max", "n_chars", "mxc"),
                ("min", "source", "mns"),
                ("max", "source", "mxs"),
            ],
            colocated=True,
        ).collect()
    }
    want = {
        r["key"]: r
        for r in docs.groupBy(F.col("lang").alias("key"))
        .agg(
            F.count("*").alias("n"),
            F.count("source").alias("ns"),
            F.sum("n_chars").alias("sc"),
            F.avg("n_chars").alias("ac"),
            F.min("n_chars").alias("mnc"),
            F.max("n_chars").alias("mxc"),
            F.min("source").alias("mns"),
            F.max("source").alias("mxs"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        for f in ("n", "ns", "sc", "mnc", "mxc", "mns", "mxs"):
            assert got[k][f] == want[k][f], (k, f)
        assert got[k]["ac"] == pytest.approx(want[k]["ac"], rel=1e-12)


def test_group_agg_null_semantics(spark):
    """count(*) counts rows, count(col) non-nulls; sum/avg/min/max of an
    all-null group are NULL; both value lanes (decoded numeric,
    dictionary-ranked string) honor the same contract."""
    from parquet_extra_spark.engine.encoded_agg import group_agg_encoded

    df = spark.createDataFrame(
        [
            ("a", 1, "x"),
            ("a", 3, None),
            ("a", None, "y"),
            ("b", None, None),
            (None, 5, "z"),
        ],
        "k string, v int, s string",
    )
    chunks = pes.encode(df, chunk_rows=2, n_buckets=1, n_salts=1)
    got = {
        r["key"]: r
        for r in group_agg_encoded(
            chunks,
            "k",
            [
                ("count", "*", "n"),
                ("count", "v", "nv"),
                ("sum", "v", "sv"),
                ("avg", "v", "av"),
                ("min", "v", "mnv"),
                ("max", "s", "mxs"),
            ],
        ).collect()
    }
    a, b, none = got["a"], got["b"], got[None]
    assert (a["n"], a["nv"], a["sv"], a["av"], a["mnv"], a["mxs"]) == (
        3, 2, 4, 2.0, 1, "y",
    )
    assert (b["n"], b["nv"], b["sv"], b["av"], b["mnv"], b["mxs"]) == (
        1, 0, None, None, None, None,
    )
    assert (none["n"], none["nv"], none["sv"], none["mnv"], none["mxs"]) == (
        1, 1, 5, 5, "z",
    )


def test_group_agg_decimal_lane(spark):
    from decimal import Decimal
    from parquet_extra_spark.engine.encoded_agg import group_agg_encoded

    df = spark.createDataFrame(
        [("a", Decimal("1.25")), ("a", Decimal("2.50")), ("b", Decimal("-0.75"))],
        "k string, d decimal(10,2)",
    )
    chunks = pes.encode(df, chunk_rows=2, n_buckets=1, n_salts=1)
    got = {
        r["key"]: r
        for r in group_agg_encoded(
            chunks, "k", [("sum", "d", "sd"), ("avg", "d", "ad")]
        ).collect()
    }
    assert got["a"]["sd"] == Decimal("3.75")
    assert got["a"]["ad"] == pytest.approx(1.875)
    assert got["b"]["sd"] == Decimal("-0.75")


def test_group_agg_where_and_derive(docs, doc_chunks):
    from parquet_extra_spark.engine.encoded_agg import group_agg_encoded

    w = pes.P.gt("n_chars", 100)
    got = {
        r["lu"]: (r["n"], r["sc"])
        for r in group_agg_encoded(
            doc_chunks,
            ["lang", "source"],
            [("count", "*", "n"), ("sum", "n_chars", "sc")],
            where=w,
            colocated=True,
            derive={"lu": "upper(lang)"},
        ).collect()
    }
    want = {
        r["lu"]: (r["n"], r["sc"])
        for r in docs.filter(F.col("n_chars") > 100)
        .groupBy(F.upper("lang").alias("lu"))
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("sc"))
        .collect()
    }
    assert got == want


def test_group_agg_validation(doc_chunks):
    from parquet_extra_spark.engine.encoded_agg import group_agg_encoded

    with pytest.raises(ValueError, match="at least one aggregate"):
        group_agg_encoded(doc_chunks, "lang", [])
    with pytest.raises(ValueError, match="unknown aggregate"):
        group_agg_encoded(doc_chunks, "lang", [("median", "n_chars", "m")])
    with pytest.raises(ValueError, match="only valid with count"):
        group_agg_encoded(doc_chunks, "lang", [("sum", "*", "s")])
    with pytest.raises(ValueError, match="duplicate output column"):
        group_agg_encoded(
            doc_chunks, "lang",
            [("count", "*", "n"), ("sum", "n_chars", "n")],
        )
    with pytest.raises(ValueError, match="unknown columns"):
        group_agg_encoded(doc_chunks, "lang", [("sum", "nope", "s")])
    with pytest.raises(TypeError, match="int, float, or decimal"):
        group_agg_encoded(doc_chunks, "lang", [("sum", "source", "s")])
    with pytest.raises(ValueError, match="collide"):
        group_agg_encoded(
            doc_chunks, "lang", [("count", "*", "n")], derive={"n": "lang"}
        )


# ------------------------------------------------ time_rollup_encoded


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).cache()


@pytest.fixture(scope="module")
def event_chunks(events):
    return pes.encode(
        events, sort_cols=["ts"], chunk_rows=512, n_buckets=2, n_salts=1
    ).cache()


def test_time_rollup_matches_spark(events, event_chunks):
    from parquet_extra_spark.engine.encoded_agg import time_rollup_encoded

    got = {
        r["bucket"]: r
        for r in time_rollup_encoded(
            event_chunks,
            "ts",
            "day",
            [("count", "*", "n"), ("sum", "value", "sv"),
             ("min", "ts", "first_ts")],
            colocated=True,
        ).collect()
    }
    want = {
        r["bucket"]: r
        for r in events.groupBy(
            F.date_trunc("day", F.col("ts")).alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sv"),
            F.min("ts").alias("first_ts"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n"] == want[k]["n"]
        assert got[k]["first_ts"] == want[k]["first_ts"]
        assert got[k]["sv"] == pytest.approx(want[k]["sv"], rel=1e-9)


def test_time_rollup_bad_unit(event_chunks):
    from parquet_extra_spark.engine.encoded_agg import time_rollup_encoded

    with pytest.raises(ValueError, match="unit"):
        time_rollup_encoded(event_chunks, "ts", "fortnight", [("count", "*", "n")])


# --------------------------------------------- group_agg_sets_encoded


def test_group_agg_sets_rollup_matches_spark(docs, doc_chunks):
    from parquet_extra_spark.engine.encoded_agg import group_agg_sets_encoded

    got = {
        (r["lang"], r["source"], r["gid"]): (r["n"], r["sc"])
        for r in group_agg_sets_encoded(
            doc_chunks,
            ["lang", "source"],
            [("count", "*", "n"), ("sum", "n_chars", "sc")],
            sets="rollup",
            colocated=True,
        ).collect()
    }
    want = {
        (r["lang"], r["source"], r["gid"]): (r["n"], r["sc"])
        for r in docs.rollup("lang", "source")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("sc"),
            F.grouping_id().alias("gid"),
        )
        .collect()
    }
    assert got == want


def test_group_agg_sets_explicit_and_cube(docs, doc_chunks):
    from parquet_extra_spark.engine.encoded_agg import group_agg_sets_encoded

    got = {
        (r["lang"], r["source"], r["gid"]): r["n"]
        for r in group_agg_sets_encoded(
            doc_chunks,
            ["lang", "source"],
            [("count", "*", "n")],
            sets=[["lang"], ["source"], []],
        ).collect()
    }
    want = {}
    for r in docs.groupBy("lang").count().collect():
        want[(r["lang"], None, 1)] = r["count"]
    for r in docs.groupBy("source").count().collect():
        want[(None, r["source"], 2)] = r["count"]
    want[(None, None, 3)] = docs.count()
    assert got == want

    cube = group_agg_sets_encoded(
        doc_chunks, ["lang", "source"], [("count", "*", "n")], sets="cube",
        colocated=True,
    )
    want_cube = {
        (r["lang"], r["source"], r["gid"]): r["n"]
        for r in docs.cube("lang", "source")
        .agg(F.count("*").alias("n"), F.grouping_id().alias("gid"))
        .collect()
    }
    got_cube = {
        (r["lang"], r["source"], r["gid"]): r["n"] for r in cube.collect()
    }
    assert got_cube == want_cube


def test_group_agg_sets_validation(doc_chunks):
    from parquet_extra_spark.engine.encoded_agg import group_agg_sets_encoded

    aggs = [("count", "*", "n")]
    with pytest.raises(ValueError, match="rollup.*cube|'rollup' or 'cube'"):
        group_agg_sets_encoded(doc_chunks, ["lang"], aggs, sets="pivot")
    with pytest.raises(ValueError, match="at least one grouping set"):
        group_agg_sets_encoded(doc_chunks, ["lang"], aggs, sets=[])
    with pytest.raises(ValueError, match="non-key"):
        group_agg_sets_encoded(doc_chunks, ["lang"], aggs, sets=[["source"]])
    with pytest.raises(ValueError, match="duplicate grouping set"):
        group_agg_sets_encoded(
            doc_chunks, ["lang"], aggs, sets=[["lang"], ["lang"]]
        )
    with pytest.raises(ValueError, match="duplicate output column"):
        group_agg_sets_encoded(
            doc_chunks, ["lang"], [("count", "*", "gid")], sets="rollup"
        )


def test_group_agg_colocated_no_exchange_below_kernel(doc_chunks):
    """The single-pass multi-aggregate (and its grouping-sets form) keep
    the colocated contract: no Exchange below MapInArrow — the only
    shuffle carries combined (key, partials) rows, once, for ALL the
    aggregates together."""
    from parquet_extra_spark.engine.encoded_agg import (
        group_agg_encoded,
        group_agg_sets_encoded,
    )

    aggs = [("count", "*", "n"), ("sum", "n_chars", "sc"),
            ("min", "source", "mns")]

    def below_map(df):
        s = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in s, s
        return s.split("MapInArrow", 1)[1].split("InMemoryTableScan", 1)[0]

    assert "Exchange" not in below_map(
        group_agg_encoded(doc_chunks, "lang", aggs, colocated=True)
    )
    assert "Exchange" not in below_map(
        group_agg_sets_encoded(
            doc_chunks, ["lang", "source"], aggs[:2], sets="rollup",
            colocated=True,
        )
    )
    # one kernel pass, not one per aggregate (count only above the cache
    # scan — the InMemoryRelation subtree re-prints the encode pipeline's
    # own MapInArrow, which is not part of this query)
    plan = (
        group_agg_encoded(doc_chunks, "lang", aggs, colocated=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.split("InMemoryTableScan", 1)[0].count("MapInArrow") == 1


def test_schema_cols_skips_discovery(docs, doc_chunks, monkeypatch):
    """A caller-supplied schema_cols (decode's contract, now on the whole
    encoded family) must skip the discover_schema ACTION — one extra
    Spark job per query otherwise — and still validate unknown columns."""
    import parquet_extra_spark.engine.encoded_agg as ea
    from parquet_extra_spark.engine.encoded_agg import (
        group_agg_encoded,
        group_sum_encoded,
        value_counts_encoded,
    )

    sc = pes.schema_from_struct(docs.schema)

    def boom(_):
        raise AssertionError("discover_schema ran despite schema_cols")

    monkeypatch.setattr(ea, "discover_schema", boom)
    got = {
        r["key"]: r["s"]
        for r in group_sum_encoded(
            doc_chunks, "lang", "n_chars", colocated=True, schema_cols=sc
        ).collect()
    }
    want = {
        r["lang"]: r["s"]
        for r in docs.groupBy("lang").agg(F.sum("n_chars").alias("s")).collect()
    }
    assert got == want
    assert value_counts_encoded(
        doc_chunks, "lang", schema_cols=sc
    ).count() == docs.select("lang").distinct().count()
    n = group_agg_encoded(
        doc_chunks, "lang", [("count", "*", "n")], colocated=True,
        schema_cols=sc,
    ).count()
    assert n == docs.select("lang").distinct().count()
    with pytest.raises(ValueError, match="unknown columns"):
        group_sum_encoded(doc_chunks, "lang", "nope", schema_cols=sc)


class TestPivotEncoded:
    def test_count_pivot_matches_spark(self, docs, doc_chunks):
        langs = sorted(r["lang"] for r in docs.select("lang").distinct().collect())
        got = pes.pivot_encoded(
            doc_chunks, "source", "lang", ("count", "*"), values=langs,
            colocated=True,
        )
        want = (
            docs.groupBy("source").pivot("lang", langs).count().na.fill(0)
        )
        gm = {r["source"]: tuple(r[c] for c in langs) for r in got.collect()}
        wm = {r["source"]: tuple(r[c] for c in langs) for r in want.collect()}
        assert gm == wm
        # count cells fill 0, never null
        assert all(all(v is not None for v in t) for t in gm.values())

    def test_sum_pivot_keeps_null_for_absent_cells(self, docs, doc_chunks):
        langs = sorted(r["lang"] for r in docs.select("lang").distinct().collect())
        got = pes.pivot_encoded(
            doc_chunks, "source", "lang", ("sum", "n_chars"), values=langs,
            colocated=True,
        )
        want = docs.groupBy("source").pivot("lang", langs).sum("n_chars")
        gm = {r["source"]: tuple(r[c] for c in langs) for r in got.collect()}
        wm = {r["source"]: tuple(r[c] for c in langs) for r in want.collect()}
        assert gm == wm

    def test_values_pin_schema(self, doc_chunks):
        out = pes.pivot_encoded(
            doc_chunks, "source", "lang", ("count", "*"),
            values=["en", "xx"], colocated=True,
        )
        assert out.columns == ["source", "en", "xx"]
        assert out.where(F.col("xx") != 0).count() == 0
