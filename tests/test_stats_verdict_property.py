"""Differential test: the pure-Python stats evaluator
(engine/predicate.stats_verdict, used inside the decode kernel and by
the chunktable data source) must return the same (possible, certain)
pair as the Catalyst compiler (chunk_verdicts' __p, __c) on every chunk.

Random predicate trees (And/Or/Not, IN lists holding NULL or more than
64 values, prefix, contains/endswith over trigram digests, IS [NOT]
NULL) run over stats computed by the encoder's own ``compute_stats``
from random chunks: all-NULL chunks, doubles holding NaN (stored max
NULL), bigints past 2**53, decimals, dates, timestamp_ntz, strings long
enough to truncate the stored min, exact member digests and blooms.
Literals cross types the way Spark coerces them (an int column against
a float literal, NaN literals, a float against a decimal column), and
date/timestamp literals go through ``lower_literals`` on the Python side
and ``F.lit`` on the Catalyst side. Mirrors
tests/test_encoded_filter_property.py one layer up.
"""

from __future__ import annotations

import datetime as dt
import random
from decimal import Decimal
from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from parquet_extra_spark.codecs import typemap
from parquet_extra_spark.engine import stats as stats_lib
from parquet_extra_spark.engine.predicate import (
    STAT_KEYS,
    And,
    Cmp,
    IsIn,
    IsNull,
    Not,
    NotNull,
    Or,
    Prefix,
    Rlike,
    Substr,
    chunk_verdicts,
    lower_literals,
    stats_verdict,
)

BIG = 2**53
SCHEMA = [
    ("i", 0, "bigint"),
    ("d", 1, "double"),
    ("m", 2, "decimal(10,2)"),
    ("dt", 3, "date"),
    ("ts", 4, "timestamp_ntz"),
    ("s", 5, "string"),
]
DTYPES = {c: d for c, _, d in SCHEMA}
LONG = "q" * 70  # past the 64-char stats truncation
T0 = dt.datetime(2020, 3, 1)


def _values(rng: random.Random, col: str, n: int) -> list:
    """One chunk's values of one column: a narrow random window, so
    chunks have overlapping but distinct [min, max] ranges."""
    if rng.random() < 0.12:
        return [None] * n  # all-NULL chunk
    base = rng.randint(0, 40)
    wide = rng.random() < 0.15  # > 64 distinct: blooms instead of members
    span = 90 if wide else rng.randint(0, 6)

    def one():
        if rng.random() < 0.1:
            return None
        k = base + rng.randint(0, span)
        if col == "i":
            return BIG + k - 20 if rng.random() < 0.5 else k
        if col == "d":
            return float("nan") if rng.random() < 0.05 else k / 4 - 3.0
        if col == "m":
            return Decimal(k * 25) / 100
        if col == "dt":
            return dt.date(2020, 1, 1) + dt.timedelta(days=k)
        if col == "ts":
            return T0 + dt.timedelta(hours=k, microseconds=rng.choice([0, 7]))
        word = "abcdefgh"[k % 8] + "abcdefgh"[(k // 8) % 8] + str(k)
        return LONG + word if rng.random() < 0.1 else word

    return [one() for _ in range(n)]


def _chunk_rows(rng: random.Random, n_chunks: int) -> list[dict]:
    rows = []
    for cid in range(n_chunks):
        n = rng.choice([1, 5, 40, 120])
        for col, idx, dtype in SCHEMA:
            arr = pa.array(_values(rng, col, n), type=typemap.spark_to_arrow(dtype))
            st = stats_lib.compute_stats(arr, dtype, bloom=True, trigram=col == "s")
            rows.append(dict(
                chunk_id=cid, column=col, col_idx=idx, dtype=dtype,
                n_values=st.n, null_count=st.null_count,
                min_val=st.min_val, max_val=st.max_val,
                member_hashes=st.members, member_bloom=st.bloom,
                trigram_bloom=st.trigrams,
            ))
    return rows


def _literal(rng: random.Random, col: str):
    k = rng.randint(-2, 48)
    if col == "i":
        return rng.choice([k, BIG + k - 20, float(BIG), k + 0.5, float("nan"), Decimal(k) / 2])
    if col == "d":
        return rng.choice([k / 4 - 3.0, k, -0.0, float("nan"), BIG + 1])
    if col == "m":
        return rng.choice([Decimal(k * 25) / 100, Decimal(k) / 1000, k, k / 3])
    if col == "dt":
        return dt.date(2020, 1, 1) + dt.timedelta(days=k)
    if col == "ts":
        return T0 + dt.timedelta(hours=k, microseconds=rng.choice([0, 7]))
    return rng.choice(["abcdefgh"[k % 8] + "abcdefgh"[(k // 8) % 8] + str(k), LONG, "", "b"])


def _large_isin(rng: random.Random, col: str) -> IsIn:
    """More than 64 values: the data-shaped IN path on both sides."""
    if col == "i":
        vals = [rng.randint(-5, 80) for _ in range(70)]
    else:
        vals = [_literal(rng, col) for _ in range(70)]
    return IsIn(col, tuple(vals + [None] * (rng.random() < 0.3)))


def _leaf(rng: random.Random):
    col = rng.choice(list(DTYPES))
    kind = rng.random()
    if kind < 0.5:
        return Cmp(rng.choice(["gt", "ge", "lt", "le", "eq", "ne"]), col, _literal(rng, col))
    if kind < 0.7:
        vals = [_literal(rng, col) for _ in range(rng.randint(1, 4))]
        return IsIn(col, tuple(vals + [None] * (rng.random() < 0.3)))
    if kind < 0.8:
        return rng.choice([IsNull(col), NotNull(col)])
    s_or_col = "s" if rng.random() < 0.8 else col
    needle = rng.choice(["a", "ab", "bc", "cde", "abc1", "q" * 5, "zz9", LONG[:30]])
    return rng.choice([
        Prefix(s_or_col, needle),
        Substr("contains", s_or_col, needle),
        Substr("endswith", s_or_col, needle),
        Rlike(s_or_col, rng.choice(["^ab.*", "^q+", "cde.*1", "^b[0-9]"])),
    ])


def _tree(rng: random.Random, depth: int = 0):
    r = rng.random()
    if depth >= 2 or r < 0.3:
        return _leaf(rng)
    if r < 0.6:
        return And(_tree(rng, depth + 1), _tree(rng, depth + 1))
    if r < 0.85:
        return Or(_tree(rng, depth + 1), _tree(rng, depth + 1))
    return Not(_tree(rng, depth + 1))


def test_python_verdicts_equal_catalyst_verdicts(spark, monkeypatch):
    from parquet_extra_spark.engine import predicate

    rng = random.Random(20261019)
    rows = _chunk_rows(rng, 48)
    schema = (
        "chunk_id bigint, column string, col_idx int, dtype string,"
        " n_values bigint, null_count bigint, min_val string, max_val string,"
        " member_hashes array<bigint>, member_bloom array<bigint>,"
        " trigram_bloom array<bigint>"
    )
    chunks = spark.createDataFrame(rows, schema).coalesce(1)
    # pivot the stats once and share the frame (a superset of every
    # tree's referenced columns) instead of one pivot job per tree
    wide = predicate.chunk_stats_frame(chunks, sorted(DTYPES)).coalesce(1).cache()
    monkeypatch.setattr(predicate, "chunk_stats_frame", lambda _c, _cols: wide)
    # trees without a >64-value IN: chunk_verdicts is exactly this
    # projection, so all of them go in one select
    trees = [_tree(rng) for _ in range(40)]
    cols = []
    for k, p in enumerate(trees):
        possible, certain = predicate._eval_stats(p, DTYPES, {})
        cols.append(F.struct(
            F.coalesce(possible, F.lit(True)), F.coalesce(certain, F.lit(False))
        ).alias(f"v{k}"))
    spark_side = {
        (k, r["chunk_id"]): tuple(r[f"v{k}"])
        for r in wide.select("chunk_id", *cols).collect()
        for k in range(len(trees))
    }
    # trees holding one: through chunk_verdicts itself (its joins)
    large = [
        rng.choice([And, Or])(_large_isin(rng, c), _tree(rng, 1))
        for c in ("i", "s", "m", "dt")
    ] + [Not(_large_isin(rng, "i"))]
    union = reduce(DataFrame.union, [
        chunk_verdicts(chunks, p, SCHEMA).withColumn("k", F.lit(k))
        for k, p in enumerate(large, start=len(trees))
    ])
    for r in union.collect():
        spark_side[(r["k"], r["chunk_id"])] = (r["__p"], r["__c"])
    trees += large
    wide.unpersist()

    tz = spark.conf.get("spark.sql.session.timeZone")
    stats: dict[int, dict] = {}
    for r in rows:
        stats.setdefault(r["chunk_id"], {})[r["column"]] = {k: r[k] for k in STAT_KEYS}
    kinds = {"pruned": 0, "certain": 0}
    for k, pred in enumerate(trees):
        lowered = lower_literals(pred)
        for cid, st in stats.items():
            got = stats_verdict(lowered, st, DTYPES, tz)
            assert got == spark_side[(k, cid)], (pred, cid, st)
            kinds["pruned"] += not got[0]
            kinds["certain"] += got[1]
    # the trees exercise both verdicts, not only the always-keep answer
    assert kinds["pruned"] > 100 and kinds["certain"] > 100, kinds
