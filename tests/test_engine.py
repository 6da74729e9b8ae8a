"""Engine integration tests: encode/decode/verify over Spark, projection,
pushdown, inference, checkpoint/resume. The round-trip property is the
core oracle (ParquetExampleTest.scala:51-55)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import parquet_extra_spark as pes
from parquet_extra_spark.sources import code_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    df = code_corpus(spark, n_rows=5000).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def corpus_chunks(spark, corpus):
    c = pes.encode(
        corpus,
        partition_cols=["repo", "lang"],
        sort_cols=["commit", "path"],
        chunk_rows=2048,
        n_buckets=8,
        n_salts=2,
    ).cache()
    c.count()
    yield c
    c.unpersist()


def test_corpus_roundtrip(corpus, corpus_chunks):
    assert pes.roundtrip_ok(corpus, pes.decode(corpus_chunks))


def test_roundtrip_oracle_is_injective(spark):
    """Distinct rows never share a fingerprint: a separator byte inside a
    value, a string spelling a NULL sentinel, and array values whose
    string casts coincide must all register as mismatches."""
    schema = "a string, b string"
    src = spark.createDataFrame([("a\x1fb", "c"), (None, "x")], schema)
    bad = spark.createDataFrame([("a", "b\x1fc"), ("\x00<null>", "x")], schema)
    assert pes.roundtrip_ok(src, src)
    assert not pes.roundtrip_ok(src, bad)
    arr = "a array<string>"
    assert not pes.roundtrip_ok(
        spark.createDataFrame([(["x, y"],)], arr),
        spark.createDataFrame([(["x", "y"],)], arr),
    )


def test_sha256_roundtrip_per_row(spark, corpus, corpus_chunks):
    """north_rule invariant: every decoded content sha256-identical,
    verified per row via join on (repo, path, commit)."""
    dec = pes.decode(corpus_chunks)
    s = corpus.select("repo", "path", "commit", F.sha2("content", 256).alias("h_src"))
    d = dec.select("repo", "path", "commit", F.sha2("content", 256).alias("h_dec"))
    j = s.join(d, ["repo", "path", "commit"])
    n_bad = j.filter(F.col("h_src") != F.col("h_dec")).count()
    assert n_bad == 0
    assert j.count() >= corpus.count()  # dup keys may fan out, never drop


def test_projection_decode(corpus, corpus_chunks):
    dec = pes.decode(corpus_chunks, columns=["repo", "lang"])
    assert dec.columns == ["repo", "lang"]
    assert dec.count() == corpus.count()


def test_projection_unknown_column_fails(corpus_chunks):
    with pytest.raises(ValueError, match="unknown columns"):
        pes.decode(corpus_chunks, columns=["no_such_col"])
    with pytest.raises(ValueError, match="unknown columns"):
        pes.project_chunks(corpus_chunks, ["content", "missing"])


def test_chunks_never_span_buckets(corpus_chunks):
    bad = (
        corpus_chunks.groupBy("chunk_id")
        .agg(F.countDistinct("part_key").alias("pks"), F.countDistinct("salt").alias("salts"))
        .filter((F.col("pks") > 1) | (F.col("salts") > 1))
        .count()
    )
    assert bad == 0


def test_compression_beats_parquet_zstd(spark, corpus, tmp_path):
    """north_rule size bound: encoded bytes <= same data as parquet+zstd.

    Chunk granularity must be realistic relative to data volume — tiny
    chunks fragment zstd windows and pay per-chunk metadata, which is a
    test-scale artifact, not an engine property (at the production 64Ki
    chunk_rows the ratio improves further; see BENCH)."""
    out = str(tmp_path / "ref_parquet")
    corpus.write.mode("overwrite").option("compression", "zstd").parquet(out)
    import os

    parquet_bytes = sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.endswith(".parquet")
    )
    chunks = pes.encode(
        corpus,
        partition_cols=["repo", "lang"],
        sort_cols=["commit", "path"],
        chunk_rows=8192,
        n_buckets=2,
        n_salts=1,
    )
    encoded_bytes = chunks.agg(F.sum("encoded_bytes")).collect()[0][0]
    assert encoded_bytes <= parquet_bytes, (encoded_bytes, parquet_bytes)


def test_pushdown_prunes_and_matches(spark, corpus, corpus_chunks):
    lo, hi = "a", "b"  # content starting with comment '#' sorts below 'a'
    # use a selective numeric-ish predicate on path instead
    res = pes.filter_decode(corpus_chunks, "lang", lower="py", upper="py")
    expected = corpus.filter((F.col("lang") >= "py") & (F.col("lang") <= "py"))
    assert pes.roundtrip_ok(expected, res)
    st = pes.pushdown_stats(corpus_chunks, "lang", "zz", None)
    assert st["chunks_kept"] == 0  # nothing sorts >= 'zz'
    assert st["chunks_skipped"] == st["chunks_total"]
    assert pes.pushdown_stats(corpus_chunks, "lang", "go", "py") == (
        pes.pushdown_stats_pred(corpus_chunks, pes.P.ge("lang", "go") & pes.P.le("lang", "py"))
    )


def test_null_pushdown_skips_and_matches(spark):
    # mixed chunks: one fully non-null lang region, one with nulls
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.concat(F.lit("v"), F.col("id"))).alias("val"),
        (F.col("id") < 2000).cast("string").alias("grp"),
    )
    chunks = pes.encode(df, partition_cols=["grp"], chunk_rows=512, n_buckets=2, n_salts=1).cache()
    res_null = pes.filter_decode_null(chunks, "val", want_null=True)
    assert pes.roundtrip_ok(df.filter(F.col("val").isNull()), res_null)
    res_notnull = pes.filter_decode_null(chunks, "val", want_null=False)
    assert pes.roundtrip_ok(df.filter(F.col("val").isNotNull()), res_notnull)
    # a column with no nulls anywhere: is-null must prune every chunk
    pruned = pes.chunk_null_filter(chunks, "grp", want_null=True)
    assert pruned.count() == 0
    # no bound at all: no pruning and no filter, NULL rows included
    assert pes.roundtrip_ok(df, pes.filter_decode(chunks, "val"))
    chunks.unpersist()


def test_pushdown_exactness_vs_plain_filter(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    chunks = pes.encode(li, sort_cols=["l_quantity"], chunk_rows=1024, n_buckets=4, n_salts=2)
    res = pes.filter_decode(chunks, "l_quantity", lower=10.0, upper=20.0)
    expected = li.filter((F.col("l_quantity") >= 10.0) & (F.col("l_quantity") <= 20.0))
    assert pes.roundtrip_ok(expected, res)


def test_column_profile_matches_sql(spark, corpus):
    prof = {r["column"]: r for r in pes.column_profile(corpus, ["lang", "repo"]).collect()}
    n = corpus.count()
    assert prof["lang"]["n_rows"] == n
    assert prof["lang"]["n_distinct"] == corpus.select("lang").distinct().count()
    assert prof["repo"]["n_nulls"] == 0
    assert prof["lang"]["min_val"] == "go"


def test_infer_repetition(spark):
    df = spark.createDataFrame(
        [(1, "a", [1]), (2, None, [])], "r bigint, o string, l array<bigint>"
    )
    rep = {r["column"]: r["repetition"] for r in pes.infer_repetition(df).collect()}
    assert rep == {"r": "required", "o": "optional", "l": "repeated"}


def test_checkpoint_resume_exactly_once(spark, corpus, tmp_path):
    out = str(tmp_path / "ckpt")
    kw = dict(partition_cols=["repo", "lang"], chunk_rows=2048, n_buckets=4, n_salts=2)
    r1 = pes.encode_to(corpus, out_dir=out, **kw)
    assert r1["units_total"] > 0
    # resume over the same input: no new units, chunks unchanged
    before = pes.read_chunks(spark, out).count()
    r2 = pes.encode_to(corpus, out_dir=out, **kw)
    after = pes.read_chunks(spark, out).count()
    assert r2["units_total"] == r1["units_total"]
    assert before == after
    # decoded output still exact
    assert pes.roundtrip_ok(corpus, pes.decode(pes.read_chunks(spark, out)))
    # metrics table present and consistent
    m = pes.metrics(spark, out)
    assert m.agg(F.sum("n_chunks")).collect()[0][0] >= r1["units_total"]


def test_isin_pushdown_prunes_and_matches(spark, corpus, corpus_chunks):
    res = pes.filter_decode_isin(corpus_chunks, "lang", ["py", "go"])
    expected = corpus.filter(F.col("lang").isin(["py", "go"]))
    assert pes.roundtrip_ok(expected, res)
    # empty value list -> empty result, no decode
    assert pes.chunk_isin_filter(corpus_chunks, "lang", []).count() == 0
    # a NULL among the values never matches, in the small (per-value) and
    # large (> 64 values, digest-joined) forms alike
    for values in (["py", None], [f"x{i}" for i in range(70)] + ["go", None]):
        expected = corpus.filter(F.col("lang").isin(values))
        res = pes.filter_decode_isin(corpus_chunks, "lang", values)
        assert pes.roundtrip_ok(expected, res)
        kept = pes.chunk_isin_filter(corpus_chunks, "lang", values)
        assert pes.roundtrip_ok(expected, pes.decode(kept).filter(F.col("lang").isin(values)))


def test_chunk_table_projection_pushes_to_parquet_scan(spark, corpus, tmp_path):
    """Persisted chunk table: decoding a projection must push the
    column-membership filter into the parquet scan of the chunk table
    (the columnar trick — unrequested columns' payloads never leave disk)."""
    path = str(tmp_path / "chunks.parquet")
    pes.encode(corpus, partition_cols=["repo", "lang"], chunk_rows=2048,
               n_buckets=4, n_salts=2).write.parquet(path)
    stored = spark.read.parquet(path)
    projected = stored.filter(F.col("column").isin(["repo", "lang"]))
    pushed = pes.pushed_filters(projected)
    assert any("column" in p and ("In" in p or "EqualTo" in p) for p in pushed), pushed


def test_recommend_salts_scales_with_skew(spark, corpus, sf_dir):
    # the synthetic corpus has a ~30%-of-rows mega-repo: one salt cannot
    # bound any unit to 1% of the table, so salting must kick in hard
    s = pes.recommend_salts(corpus, ["repo", "lang"], target_unit_share=0.01)
    assert s >= 4
    # the bound is per (bucket, salt) WORK UNIT: with enough buckets a
    # balanced key space needs only enough salts to split bucket totals
    # (~1/n_buckets of the table each) under the target share
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = pes.encode_plan(docs, ["doc_id"], n_buckets=64, target_unit_share=0.1)
    assert plan["n_salts"] == 1  # heaviest bucket well under 10%
    assert plan["max_bucket_share"] / plan["n_salts"] <= 0.1
    plan2 = pes.encode_plan(docs, ["doc_id"], n_buckets=64, target_unit_share=0.01)
    assert plan2["max_bucket_share"] / plan2["n_salts"] <= 0.01 or plan2["n_salts"] == 64
    # recommendation feeds encode and the round trip stays exact
    chunks = pes.encode(corpus, partition_cols=["repo", "lang"],
                        chunk_rows=2048, n_buckets=4, n_salts=s)
    assert pes.roundtrip_ok(corpus, pes.decode(chunks))


def test_iceberg_adapter_parquet_fallback(spark, sf_dir):
    from parquet_extra_spark.sources import iceberg_available, read_corpus

    df = read_corpus(spark, f"{sf_dir}/documents.parquet", columns=["doc_id", "lang"])
    assert df.columns == ["doc_id", "lang"]
    assert df.count() > 0
    if not iceberg_available(spark):
        import pytest

        with pytest.raises(ValueError, match="snapshot pinning"):
            read_corpus(spark, f"{sf_dir}/documents.parquet", snapshot_id=1)


def test_checkpoint_orphans_invisible_after_crash(spark, corpus, tmp_path):
    """Crash between chunk write and manifest commit: orphan chunk files
    must be invisible to read_chunks, and resume must re-encode those
    units (exactly-once via the manifest commit point)."""
    out = str(tmp_path / "crash")
    kw = dict(partition_cols=["repo", "lang"], chunk_rows=2048, n_buckets=4, n_salts=2)
    # simulate the crash: write chunk data under a run_id, no manifest row
    orphan = pes.encode(corpus, **kw).withColumn("run_id", F.lit("deadrun"))
    orphan.write.mode("append").partitionBy("run_id").parquet(f"{out}/chunks")
    assert pes.read_chunks(spark, out).count() == 0  # orphans hidden
    # resume: a fresh run encodes every unit (none were committed)
    r = pes.encode_to(corpus, out_dir=out, **kw)
    assert r["units_total"] > 0
    committed = pes.read_chunks(spark, out)
    assert pes.roundtrip_ok(corpus, pes.decode(committed))


def test_vacuum_deletes_orphans_only(spark, corpus, tmp_path):
    """vacuum_checkpoint: orphan run partitions (crashed before the
    manifest commit) are deleted, committed runs and fresh in-flight
    runs are untouched (retention guard), dry_run only reports."""
    import os

    out = str(tmp_path / "vac")
    kw = dict(partition_cols=["repo", "lang"], chunk_rows=2048, n_buckets=4, n_salts=2)
    pes.encode_to(corpus, out_dir=out, run_id="goodrun", **kw)
    orphan = pes.encode(corpus.limit(100), **kw).withColumn("run_id", F.lit("deadrun"))
    orphan.write.mode("append").partitionBy("run_id").parquet(f"{out}/chunks")
    assert os.path.isdir(f"{out}/chunks/run_id=deadrun")
    # retention guard: a fresh uncommitted run looks in-flight — kept
    rep = pes.vacuum_checkpoint(spark, out, retain_seconds=3600)
    assert rep["deleted_runs"] == 0
    assert os.path.isdir(f"{out}/chunks/run_id=deadrun")
    # dry_run: reports the orphan, deletes nothing
    rep = pes.vacuum_checkpoint(spark, out, retain_seconds=0, dry_run=True)
    assert rep["orphan_runs"] == ["deadrun"]
    assert rep["bytes_reclaimed"] > 0
    assert os.path.isdir(f"{out}/chunks/run_id=deadrun")
    # a manifest temp file left by a crash mid-commit: kept while young,
    # counted in bytes_reclaimed once stale, reported only on dry_run
    tmp = f"{out}/manifest/_tmp-deadrun.parquet"
    with open(tmp, "wb") as fh:
        fh.write(b"x" * 100)
    assert pes.vacuum_checkpoint(spark, out, retain_seconds=3600)["bytes_reclaimed"] == 0
    assert os.path.exists(tmp)
    rep2 = pes.vacuum_checkpoint(spark, out, retain_seconds=0, dry_run=True)
    assert rep2["bytes_reclaimed"] == rep["bytes_reclaimed"] + 100
    assert os.path.exists(tmp)
    # vacuum: the orphan goes, committed data and its readability stay
    rep = pes.vacuum_checkpoint(spark, out, retain_seconds=0)
    assert rep["deleted_runs"] == 1 and rep["orphan_runs"] == ["deadrun"]
    assert rep["bytes_reclaimed"] == rep2["bytes_reclaimed"]
    assert not os.path.exists(f"{out}/chunks/run_id=deadrun")
    assert not os.path.exists(tmp)
    assert os.path.isdir(f"{out}/chunks/run_id=goodrun")
    assert pes.roundtrip_ok(corpus, pes.decode(pes.read_chunks(spark, out)))
    # idempotent
    assert pes.vacuum_checkpoint(spark, out, retain_seconds=0)["deleted_runs"] == 0



_CKPT_KW = dict(partition_cols=["repo", "lang"], chunk_rows=1024, n_buckets=4)


def _jobs_of(spark, fn) -> int:
    """Spark jobs started by fn(), counted through a private job group."""
    import uuid

    sc, tag = spark.sparkContext, f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_encode_to_fresh_commit_job_budget(spark, corpus, tmp_path):
    """A fresh encode_to runs the chunk write plus at most two jobs (the
    narrow aggregate over the run's files): no resume pass, no manifest
    read, no Spark write of the manifest."""
    for lane in ({"n_salts": 2}, {"assume_clustered": True}):
        kw = dict(_CKPT_KW, **lane)
        base = tmp_path / ("c" if lane.get("assume_clustered") else "d")
        write = _jobs_of(spark, lambda: (
            pes.encode(corpus, **kw).withColumn("run_id", F.lit("x"))
            .write.partitionBy("run_id").parquet(str(base / "plain"))
        ))
        total = _jobs_of(spark, lambda: pes.encode_to(corpus, str(base / "ckpt"), **kw))
        assert total <= write + 2, (lane, write, total)


def test_encode_to_resume_job_budget(spark, corpus, tmp_path):
    """A full resume builds the done-unit side from the units it already
    collected: the manifest is read once (one job), then the rows-skipped
    count and the (empty) chunk write; the summary is unchanged."""
    for lane in ({"n_salts": 2}, {"assume_clustered": True}):
        kw = dict(_CKPT_KW, **lane)
        out = str(tmp_path / ("c" if lane.get("assume_clustered") else "d"))
        fresh = pes.encode_to(corpus, out, **kw)
        got = []
        total = _jobs_of(spark, lambda: got.append(pes.encode_to(corpus, out, **kw)))
        assert total <= 8, (lane, total)
        (resumed,) = got
        assert resumed["rows_skipped_resume"] == corpus.count()
        assert {k: resumed[k] for k in ("units_total", "raw_bytes", "encoded_bytes")} == {
            k: fresh[k] for k in ("units_total", "raw_bytes", "encoded_bytes")
        }


def test_checkpoint_query_job_budget(spark, tmp_path):
    """A checkpoint query is one scan plus one Python stage. read_chunks
    plans on the driver from the manifest: no job, with or without
    as_of/after, and an orphan run stays invisible. filter_decode_pred
    prunes inside the decode kernel, so a count+sum over it runs at most
    2 jobs, with the answers of a plain Spark filter. decode_checkpoint
    takes its schema from the sidecars: no job before the action."""
    import datetime as dt

    df = spark.range(0, 6000, 1, 4).select(
        (F.col("id") % 211).alias("k"),
        (F.col("id") % 5).cast("string").alias("s"),
        F.timestamp_seconds(F.col("id") * 3600).cast("timestamp_ntz").alias("ts"),
    ).cache()
    out = str(tmp_path / "q")
    kw = dict(partition_cols=["s"], sort_cols=["ts"], chunk_rows=256, n_buckets=2,
              n_salts=1, unit_sort=True)
    first = pes.encode_to(df.filter("k < 100"), out, dataset_id="a", **kw)
    pes.encode_to(df.filter("k >= 100"), out, dataset_id="b", **kw)
    cut = (
        pes.load_manifest(spark, out).filter(F.col("run_id") == first["run_id"])
        .agg(F.max("committed_at")).collect()[0][0]
    )
    (
        pes.encode(df, **kw).withColumn("run_id", F.lit("deadrun"))
        .write.mode("append").partitionBy("run_id").parquet(f"{out}/chunks")
    )
    schema_cols = pes.schema_from_struct(df.schema)

    def count_k(frame):
        return tuple(frame.agg(F.count("*"), F.sum("k")).collect()[0])

    for snap, cond in (({}, F.lit(True)), ({"as_of": cut}, F.col("k") < 100),
                       ({"after": cut}, F.col("k") >= 100)):
        got = []
        assert _jobs_of(spark, lambda: got.append(pes.read_chunks(spark, out, **snap))) == 0
        dec = pes.decode(got[0], schema_cols=schema_cols, colocated=True)
        assert count_k(dec) == count_k(df.filter(cond)), snap

    lo, hi = dt.datetime(1970, 3, 1), dt.datetime(1970, 4, 1, 12)
    for pred, cond in (
        (pes.P.eq("k", 17), F.col("k") == 17),
        (pes.P.ge("ts", lo) & pes.P.le("ts", hi), F.col("ts").between(lo, hi)),
        (pes.P.isin("k", [3, 150, 7]), F.col("k").isin([3, 150, 7])),
    ):
        got = []
        jobs = _jobs_of(spark, lambda: got.append(count_k(pes.filter_decode_pred(
            pes.read_chunks(spark, out), pred, schema_cols=schema_cols, colocated=True,
        ))))
        assert jobs <= 2, (pred, jobs)
        assert got[0] == count_k(df.filter(cond)), pred

    got = []
    assert _jobs_of(spark, lambda: got.append(
        pes.decode_checkpoint(spark, out, colocated=True))) == 0
    assert count_k(got[0]) == count_k(df)
    jobs = _jobs_of(spark, lambda: got.append(count_k(pes.decode_checkpoint(spark, out))))
    assert jobs <= 6 and got[-1] == count_k(df), jobs
    df.unpersist()


def _manifest_totals(spark, out):
    m = pes.load_manifest(spark, out)
    return tuple(m.agg(F.count("*"), F.sum("raw_bytes"), F.sum("encoded_bytes")).collect()[0])


@pytest.mark.parametrize("lane", [{"n_salts": 2}, {"assume_clustered": True}])
def test_encode_to_summary_and_rows_match_manifest(spark, corpus, tmp_path, lane):
    """The summary (start-time totals + this run) equals an aggregate over
    the manifest after the call — fresh, full resume, and an append under
    a new dataset_id — and every unit's n_chunks equals its distinct
    committed chunks."""
    out = str(tmp_path / "ckpt")
    kw = dict(_CKPT_KW, **lane)
    for dataset_id in ("", "", "batch2"):
        s = pes.encode_to(corpus, out, dataset_id=dataset_id, **kw)
        assert (s["units_total"], s["raw_bytes"], s["encoded_bytes"]) == _manifest_totals(spark, out)
    assert s["rows_skipped_resume"] == 0
    m = pes.load_manifest(spark, out)
    assert m.select("run_id").distinct().count() == 2  # the resume committed no units
    per_unit = {
        (r["part_key"], r["salt"]): r["n"]
        for r in m.groupBy("part_key", "salt").agg(F.sum("n_chunks").alias("n")).collect()
    }
    committed = {
        (r["part_key"], r["salt"]): r["n"]
        for r in pes.read_chunks(spark, out).groupBy("part_key", "salt")
        .agg(F.countDistinct("chunk_id").alias("n")).collect()
    }
    assert per_unit == committed
    assert pes.decode(pes.read_chunks(spark, out)).count() == 2 * corpus.count()


def test_manifest_temp_file_is_invisible(spark, corpus, tmp_path):
    """A stray manifest/_tmp-* file (a commit that crashed mid-write)
    holding garbage is ignored by every manifest reader."""
    from parquet_extra_spark.sources import ChunkTableDataSource

    out = str(tmp_path / "ckpt")
    kw = dict(_CKPT_KW, n_salts=2)
    s = pes.encode_to(corpus, out, **kw)
    with open(f"{out}/manifest/_tmp-x.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    assert pes.load_manifest(spark, out).count() == s["units_total"]
    n_rows = corpus.count()
    assert pes.decode(pes.read_chunks(spark, out)).count() == n_rows
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ChunkTableDataSource)
    assert spark.read.format("chunktable").load(out).count() == n_rows
    # and a resume reads past it too
    assert pes.encode_to(corpus, out, **kw)["rows_skipped_resume"] == n_rows
    # a first commit that crashed mid-write: no committed run at all
    from parquet_extra_spark.sources.chunk_datasource import _committed_runs

    crashed = tmp_path / "crashed"
    (crashed / "manifest").mkdir(parents=True)
    (crashed / "manifest" / "_tmp-x.parquet").write_bytes(b"junk")
    assert _committed_runs(str(crashed / "manifest")) == []
    assert pes.load_manifest(spark, str(crashed)).count() == 0


def test_decode_error_context(spark, corpus_chunks):
    bad = corpus_chunks.withColumn(
        "payload",
        F.when(F.col("column") == "content", F.lit(b"\x01junk")).otherwise(F.col("payload")),
    )
    with pytest.raises(Exception, match="chunk_id"):
        pes.decode(bad).count()


def test_empty_input_encode_decode(spark):
    """Empty source: encode yields an empty chunk table; decode with
    caller-supplied schema_cols returns an empty, correctly-typed frame;
    decode without schema fails fast with a clear error."""
    import pytest as _pytest

    empty = spark.createDataFrame([], "k long, v string")
    chunks = pes.encode(empty, chunk_rows=8, n_buckets=2, n_salts=1,
                        num_partitions=2)
    assert chunks.count() == 0
    sc = pes.schema_from_struct(empty.schema)
    out = pes.decode(chunks, schema_cols=sc, colocated=True)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v"]
    with _pytest.raises(pes.ChunkDecodeError, match="empty chunk table"):
        pes.decode(chunks)
