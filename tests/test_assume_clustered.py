"""Exchange-free encode lane (``assume_clustered=True``).

When the source layout already groups the clustering key (an Iceberg
table partitioned by (repo, lang), a bucketed write, a re-encode of
engine-clustered data), encode can skip its single shuffle and read
source splits straight into the encode UDF. These tests pin the three
contract points: the plan really has zero Exchange, correctness never
depends on the layout assumption (chunk ids stay globally unique even
when a unit's rows span tasks), and unit-granular resume composes.
"""

import pytest
from pyspark.sql import functions as F

import parquet_extra_spark as pes
from parquet_extra_spark.sources import code_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    df = code_corpus(spark, n_rows=4000).cache()
    df.count()
    yield df
    df.unpersist()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_has_zero_exchange(spark, tmp_path):
    """The whole point of the lane: source scan -> encode UDF, no shuffle."""
    src = str(tmp_path / "clustered_src")
    code_corpus(spark, n_rows=2000).repartition("repo", "lang").write.parquet(src)
    df = spark.read.parquet(src)
    chunks = pes.encode(
        df, partition_cols=["repo", "lang"], chunk_rows=1024, assume_clustered=True
    )
    plan = plan_of(chunks)
    assert plan.count("Exchange") == 0
    # the default lane on the same source keeps its one clustering exchange
    default_plan = plan_of(
        pes.encode(df, partition_cols=["repo", "lang"], chunk_rows=1024)
    )
    assert default_plan.count("Exchange") == 1


def test_roundtrip_preclustered(spark, tmp_path, corpus):
    src = str(tmp_path / "by_repo_lang")
    corpus.repartition(8, "repo", "lang").write.parquet(src)
    df = spark.read.parquet(src)
    chunks = pes.encode(
        df,
        partition_cols=["repo", "lang"],
        sort_cols=["commit", "path"],
        chunk_rows=1024,
        assume_clustered=True,
    ).cache()
    try:
        assert pes.roundtrip_ok(corpus, pes.decode(chunks))
        # every decoded content byte-identical (north_rule invariant)
        dec = pes.decode(chunks)
        j = corpus.select(
            "repo", "path", "commit", F.sha2("content", 256).alias("h_src")
        ).join(
            dec.select(
                "repo", "path", "commit", F.sha2("content", 256).alias("h_dec")
            ),
            ["repo", "path", "commit"],
        )
        assert j.filter(F.col("h_src") != F.col("h_dec")).count() == 0
    finally:
        chunks.unpersist()


def test_unclustered_input_still_exact(spark, corpus):
    """Correctness is layout-free: interleaved keys across many tasks mean
    one (bucket, salt) unit spans tasks — per-task uid namespacing keeps
    every chunk id unique and decode exact (just more, smaller chunks)."""
    scattered = corpus.repartition(16)  # round-robin: keys interleaved
    chunks = pes.encode(
        scattered,
        partition_cols=["repo", "lang"],
        chunk_rows=512,
        assume_clustered=True,
    ).cache()
    try:
        # chunk ids globally unique: one id per (chunk x column-set) group,
        # and each id group carries exactly len(columns) rows
        ncols = len(corpus.columns)
        bad = (
            chunks.groupBy("chunk_id")
            .agg(F.count("*").alias("n"), F.countDistinct("column").alias("nc"))
            .filter((F.col("n") != ncols) | (F.col("nc") != ncols))
            .count()
        )
        assert bad == 0
        assert pes.roundtrip_ok(corpus, pes.decode(chunks))
        # duplicate (part_key, salt, seq) triplets across tasks are expected
        # here and harmless — the ids above prove they never collide
    finally:
        chunks.unpersist()


def test_num_partitions_rejected(corpus):
    with pytest.raises(ValueError, match="assume_clustered"):
        pes.encode(
            corpus,
            partition_cols=["repo", "lang"],
            num_partitions=8,
            assume_clustered=True,
        )


def test_encode_to_resume_composes(spark, tmp_path, corpus):
    """Run commits are atomic and unit identity is layout-independent, so
    checkpointed encode_to + resume works unchanged on this lane."""
    src = str(tmp_path / "resume_src")
    corpus.repartition(4, "repo", "lang").write.parquet(src)
    df = spark.read.parquet(src)
    out = str(tmp_path / "enc")
    s1 = pes.encode_to(
        df, out, partition_cols=["repo", "lang"], chunk_rows=1024,
        assume_clustered=True,
    )
    assert s1["rows_skipped_resume"] == 0
    # replay: every unit already committed -> nothing re-encoded
    s2 = pes.encode_to(
        df, out, partition_cols=["repo", "lang"], chunk_rows=1024,
        assume_clustered=True,
    )
    assert s2["rows_skipped_resume"] == corpus.count()
    dec = pes.decode(pes.read_chunks(spark, out))
    assert pes.roundtrip_ok(corpus, dec)



def test_resume_refuses_changed_encode_identity(spark, tmp_path, corpus):
    """A resume of the same dataset with different unit settings would
    encode committed rows a second time (here: the salt-1 rows of units
    committed as salt 0). It raises, naming the keys, and writes nothing;
    a new dataset_id is an append, not a resume, and is not checked."""
    import os

    out = str(tmp_path / "enc")
    kw = dict(partition_cols=["repo", "lang"], chunk_rows=1024)
    pes.encode_to(corpus, out, assume_clustered=True, **kw)
    runs = sorted(os.listdir(f"{out}/chunks"))
    with pytest.raises(ValueError, match="assume_clustered.*n_salts"):
        pes.encode_to(corpus, out, n_salts=2, **kw)
    assert sorted(os.listdir(f"{out}/chunks")) == runs
    assert pes.decode(pes.read_chunks(spark, out)).count() == corpus.count()
    pes.encode_to(corpus, out, n_salts=2, dataset_id="b2", **kw)
    assert pes.decode(pes.read_chunks(spark, out)).count() == 2 * corpus.count()


def test_hive_partitioned_source(spark, tmp_path, corpus):
    """The motivating layout: a hive/Iceberg-style table partitioned by
    the clustering key (lang=.../ dirs). Each file split holds exactly
    one partition value, so assume_clustered gets maximal chunk density
    with a zero-Exchange plan — and partition-column values recovered
    from directory names round-trip like any other column."""
    src = str(tmp_path / "hive")
    corpus.write.partitionBy("lang").parquet(src)
    df = spark.read.parquet(src).select(*corpus.columns)  # restore order
    chunks = pes.encode(
        df, partition_cols=["lang"], chunk_rows=1024, assume_clustered=True
    )
    assert plan_of(chunks).count("Exchange") == 0
    assert pes.roundtrip_ok(corpus, pes.decode(chunks))
