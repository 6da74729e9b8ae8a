"""Checkpointed encode with per-partition lineage and exact resume.

north_rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". Layout under ``out_dir``:

    chunks/run_id=<id>/...   encoded chunk-table parquet, written per run
    manifest/                one row per completed (bucket, salt) work unit:
                             (part_key, salt, run_id, n_chunks, n_values,
                              raw_bytes, encoded_bytes, committed_at,
                              dataset_id), one parquet file per run
    manifest/_schema-<id>.json   the run's schema and encode identity

Protocol (write chunks first, then the manifest file — the manifest is
the commit point):

1. A work unit = one (part_key, salt) group. If a manifest exists,
   ``encode_to`` reads it once: the all-dataset totals for the summary
   and the units (with their run ids) this dataset already committed.
   A fresh dataset skips every resume step. For a dataset with committed
   units, the run's encode identity must match the committed runs'
   sidecars, and the source's rows of those units are dropped by a
   broadcast left_anti join.
2. Chunks for pending units are written under a fresh run_id — the only
   full pass over the data.
3. The manifest rows are derived from the written files with one narrow
   aggregate over ``chunks/run_id=<id>``, never from task counters.
4. The schema sidecar is written, then the manifest rows go from the
   driver to ``manifest/_tmp-<id>.parquet`` and are renamed to
   ``part-<id>.parquet``: a rename is atomic on every Hadoop filesystem,
   and ``_``-prefixed files are invisible to Spark and pyarrow readers,
   so a crash leaves either no commit or a whole one. A crash before the
   rename leaves orphan chunk files under a run_id that never reaches
   the manifest; ``read_chunks`` joins chunks against the manifest on
   (part_key, salt, run_id), so orphans are invisible and the unit is
   re-encoded on resume — exactly-once output. ``vacuum_checkpoint``
   reclaims the orphans and stale temp files.

The analogue in the reference is the Hadoop OutputFormat commit protocol
it delegates to (ExampleParquetOutputFormat.java:7-14); here lineage is
explicit because the north_rule demands resumability at 10^12-file scale.
Like Delta Lake's log, the commit record is one small object written by
the driver.
"""

from __future__ import annotations

import inspect
import json
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .chunk import CHUNK_SPARK_SCHEMA
from .encoder import encode, unit_exprs

MANIFEST_ARROW_SCHEMA = pa.schema(
    [
        ("part_key", pa.string()),
        ("salt", pa.int32()),
        ("run_id", pa.string()),
        ("n_chunks", pa.int64()),
        ("n_values", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("committed_at", pa.float64()),
        ("dataset_id", pa.string()),
    ]
)
_MANIFEST_SCHEMA = from_arrow_schema(MANIFEST_ARROW_SCHEMA)

# manifest files in flight: hidden from readers until renamed into place
MANIFEST_TMP_PREFIX = "_tmp-"

_ENCODE_DEFAULTS = {
    k: p.default for k, p in inspect.signature(encode).parameters.items()
}


def manifest_table(
    units: list[tuple], run_id: str, dataset_id: str, committed_at: float
) -> pa.Table:
    """One run's manifest rows. ``units`` holds (part_key, salt, n_chunks,
    n_values, raw_bytes, encoded_bytes) per committed work unit. Both
    writers (``encode_to`` and the chunktable SQL writer) build their
    manifest file here, so their column types cannot drift."""
    cols = [list(c) for c in zip(*units)] or [[] for _ in range(6)]
    n = len(cols[0])
    part_key, salt, n_chunks, n_values, raw, enc = cols
    return pa.Table.from_arrays(
        [
            pa.array(part_key, pa.string()),
            pa.array(salt, pa.int32()),
            pa.array([run_id] * n, pa.string()),
            pa.array(n_chunks, pa.int64()),
            pa.array(n_values, pa.int64()),
            pa.array(raw, pa.int64()),
            pa.array(enc, pa.int64()),
            pa.array([committed_at] * n, pa.float64()),
            pa.array([dataset_id] * n, pa.string()),
        ],
        schema=MANIFEST_ARROW_SCHEMA,
    )


def _manifest_path(out_dir: str) -> str:
    return f"{out_dir}/manifest"


def _chunks_path(out_dir: str) -> str:
    return f"{out_dir}/chunks"


def _hadoop_path(spark, path: str):
    """-> (Hadoop FileSystem, Path): any Spark-writable path works
    (HDFS/S3A/local), and no call through it starts a Spark job."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _exists(spark, path: str) -> bool:
    fs, p = _hadoop_path(spark, path)
    return fs.exists(p)


def _hadoop_write(spark, path: str, data: bytes) -> None:
    fs, p = _hadoop_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(data)
    finally:
        out.close()


def _hadoop_read_text(spark, path: str) -> str | None:
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _sidecar_path(out_dir: str, run_id: str) -> str:
    from ..sources.chunk_datasource import SCHEMA_SIDECAR_PREFIX

    return f"{_manifest_path(out_dir)}/{SCHEMA_SIDECAR_PREFIX}{run_id}.json"


def _write_schema_sidecar(spark, out_dir: str, run_id: str, dataset_id: str,
                          cols, required: set[str], identity: dict) -> None:
    """Persist this run's schema as ``manifest/_schema-<run_id>.json`` —
    the commit-time footer. The chunktable data source plans its schema
    from these sidecars alone (one tiny JSON per run, merged at read),
    matching the reference's single-footer schema read
    (ExampleParquetReader.java:65-71) instead of sweeping every data
    file. Underscore prefix keeps parquet readers of the manifest
    directory away from it. ``identity`` (the encode settings that fix
    unit identity and chunk shape) lets a later resume refuse mismatched
    settings."""
    from ..sources.chunk_datasource import schema_sidecar_json

    _hadoop_write(
        spark,
        _sidecar_path(out_dir, run_id),
        schema_sidecar_json(
            cols, run_id, dataset_id, required, identity=identity
        ).encode("utf-8"),
    )


def _append_manifest(spark, out_dir: str, run_id: str, table: pa.Table) -> None:
    """The commit point: write the run's manifest file under a hidden
    temp name, then rename it into place (atomic on any Hadoop path)."""
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    tmp = f"{_manifest_path(out_dir)}/{MANIFEST_TMP_PREFIX}{run_id}.parquet"
    _hadoop_write(spark, tmp, buf.getvalue().to_pybytes())
    fs, src = _hadoop_path(spark, tmp)
    _, dst = _hadoop_path(spark, f"{_manifest_path(out_dir)}/part-{run_id}.parquet")
    if not fs.rename(src, dst):
        fs.delete(src, False)
        raise OSError(
            f"manifest commit of run {run_id!r} failed: could not rename"
            f" {src.toString()} to {dst.toString()} (run_id reused?)"
        )


def load_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    if not _exists(spark, _manifest_path(out_dir)):
        return spark.createDataFrame([], _MANIFEST_SCHEMA)
    # explicit schema: no footer-inference job, and a directory that
    # holds only hidden files (sidecars, temp files) reads as empty
    m = spark.read.schema(_MANIFEST_SCHEMA).parquet(_manifest_path(out_dir))
    # manifests written before append-batch support: one dataset ""
    return m.withColumn("dataset_id", F.coalesce(F.col("dataset_id"), F.lit("")))


def _encode_identity(encode_kwargs: dict) -> dict:
    """The encode settings a resume must repeat: they fix unit identity
    (part_key, salt) and chunk shape. Defaults come from ``encode``'s own
    signature; the exchange-free lane always uses one salt."""

    def get(k):
        return encode_kwargs.get(k, _ENCODE_DEFAULTS[k])

    clustered = bool(get("assume_clustered"))
    return {
        "n_buckets": int(get("n_buckets")),
        "n_salts": 1 if clustered else int(get("n_salts")),
        "assume_clustered": clustered,
        "partition_cols": list(get("partition_cols") or []),
        "salt_col": get("salt_col"),
        "chunk_rows": int(get("chunk_rows")),
    }


def _manifest_state(spark, out_dir: str, dataset_id: str):
    """One pass over the manifest -> (units, raw_bytes, encoded_bytes) over
    every dataset, plus this dataset's committed (part_key, salt, run_id)
    units. No Spark job when no manifest exists yet."""
    if not _exists(spark, _manifest_path(out_dir)):
        return (0, 0, 0), []
    mine = F.col("dataset_id") == dataset_id
    groups = (
        load_manifest(spark, out_dir)
        # other datasets' rows collapse into one all-NULL group
        .groupBy(*[F.when(mine, F.col(c)).alias(c) for c in ("part_key", "salt", "run_id")])
        .agg(
            F.count("*").alias("units"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
        )
        .collect()
    )
    totals = tuple(
        sum(g[k] or 0 for g in groups) for k in ("units", "raw_bytes", "encoded_bytes")
    )
    units = [(g["part_key"], g["salt"], g["run_id"]) for g in groups if g["part_key"] is not None]
    return totals, units


def _check_identity(spark, out_dir: str, dataset_id: str, run_ids, identity: dict) -> None:
    """Refuse a resume whose encode identity differs from the committed
    runs': changed buckets/salts would re-encode rows of committed units
    under new unit ids. Sidecars without an ``encode`` field (written
    before it existed, or by the SQL writer) are not checked."""
    diffs: dict[str, tuple] = {}
    for rid in sorted(run_ids):
        text = _hadoop_read_text(spark, _sidecar_path(out_dir, rid))
        prior = json.loads(text).get("encode") if text else None
        for k, v in (prior or {}).items():
            if k in identity and v != identity[k]:
                diffs.setdefault(k, (v, identity[k]))
    if diffs:
        named = ", ".join(f"{k}: {a!r} -> {b!r}" for k, (a, b) in sorted(diffs.items()))
        raise ValueError(
            f"encode_to: dataset {dataset_id!r} in {out_dir!r} was committed"
            f" with different encode settings ({named}); a resume must repeat"
            " them — append new data under a new dataset_id instead"
        )


def _unit_rows(spark, out_dir: str, run_id: str) -> list[tuple]:
    """This run's manifest rows, derived from the files it wrote: one
    narrow aggregate over ``chunks/run_id=<id>`` alone, with the chunk
    schema given (no listing of other runs, no footer inference). Each
    chunk has exactly one ``col_idx`` 0 row, so counting those counts
    the distinct chunks."""
    path = f"{_chunks_path(out_dir)}/run_id={run_id}"
    if not _exists(spark, path):
        return []  # nothing was pending, so the write made no run directory
    first = F.col("col_idx") == 0
    return [
        tuple(r)
        for r in spark.read.schema(CHUNK_SPARK_SCHEMA)
        .parquet(path)
        .groupBy("part_key", "salt")
        .agg(
            F.sum(first.cast("long")).alias("n_chunks"),
            F.sum(F.when(first, F.col("n_values")).otherwise(0)).alias("n_values"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
        )
        .collect()
    ]


def encode_to(
    df: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    dataset_id: str = "",
    **encode_kwargs,
) -> dict:
    """Encode ``df`` into ``out_dir``, skipping work units this DATASET
    already committed to the manifest. Returns a summary dict. Call again
    with the same ``dataset_id`` after a crash to resume: completed units
    of that dataset are never re-encoded. A resume must use the same
    encode settings as the committed runs (buckets, salts, lane,
    partition/salt columns, chunk_rows); a mismatch raises ValueError
    before anything is written.

    ``dataset_id`` scopes the resume contract. The default "" treats the
    whole out_dir as one logical dataset (one big encode, restartable).
    APPENDING new data must use a fresh dataset_id per batch (streaming
    micro-batches pass their batch id): unit identity is (dataset_id,
    part_key, salt), so a new batch whose rows hash into units an earlier
    batch committed is encoded normally instead of being skipped as
    "already done" — while a REPLAY of the same batch (same dataset_id)
    still resumes exactly. The dataset_id also namespaces chunk ids
    (uid_namespace) so chunks of different batches can never collide in
    the decoder's structural identity check.

    The summary's ``units_total`` / ``raw_bytes`` / ``encoded_bytes`` are
    the manifest totals read when the call started plus this run's rows:
    exact for a single sequential writer per out_dir (the same assumption
    ``read_chunks`` snapshots make); a concurrent writer's commits landing
    meanwhile are not counted.
    """
    spark = df.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    encode_kwargs.setdefault("uid_namespace", dataset_id)
    identity = _encode_identity(encode_kwargs)
    (units0, raw0, enc0), done = _manifest_state(spark, out_dir, dataset_id)

    rows_skipped = 0
    pending_src = df
    if done:
        _check_identity(spark, out_dir, dataset_id, {u[2] for u in done}, identity)
        # resume: drop source rows of units already committed BY THIS
        # DATASET before encoding — completed work is never recomputed
        bucket_expr, salt_expr = unit_exprs(
            df.columns,
            identity["partition_cols"],
            identity["n_buckets"],
            identity["n_salts"],
            identity["salt_col"],
        )
        src = df.withColumn(
            "__pe_unit_pk", F.concat(F.lit("b"), bucket_expr.cast("string"))
        ).withColumn("__pe_unit_salt", salt_expr)
        done_units = F.broadcast(
            load_manifest(spark, out_dir)
            .filter(F.col("dataset_id") == dataset_id)
            .select(
                F.col("part_key").alias("__pe_unit_pk"),
                F.col("salt").alias("__pe_unit_salt"),
            )
            .distinct()
        )
        keys = ["__pe_unit_pk", "__pe_unit_salt"]
        pending_src = src.join(done_units, keys, "left_anti").drop(*keys)
        # make resume-skipped work OBSERVABLE: an accidental
        # append-as-resume (same dataset_id, different data) silently
        # drops rows hashing into committed units — count them so the
        # caller can detect it (one extra source pass, resumes only)
        rows_skipped = src.join(done_units, keys, "left_semi").count()

    # 1) write chunk data for pending units under this run_id
    (
        encode(pending_src, **encode_kwargs)
        .withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .partitionBy("run_id")
        .parquet(_chunks_path(out_dir))
    )

    # 2) manifest rows derived from what was actually written
    units = _unit_rows(spark, out_dir, run_id)

    # 3) commit-time footer FIRST: the manifest append below is the commit
    # point, so a crash between the two leaves an invisible orphan sidecar
    # — never a committed run whose schema contribution is missing
    from .schema import from_struct

    expected = encode_kwargs.get("expected_schema")
    required = (
        {f.name for f in expected.fields if not f.nullable} if expected is not None
        else set()
    )
    _write_schema_sidecar(
        spark, out_dir, run_id, dataset_id, from_struct(df.schema), required,
        identity,
    )
    # 4) commit point
    _append_manifest(
        spark, out_dir, run_id, manifest_table(units, run_id, dataset_id, time.time())
    )

    n_units = units0 + len(units)
    return {
        "run_id": run_id,
        "units_total": n_units,
        # None on an empty manifest, as a SUM over no rows reads
        "raw_bytes": raw0 + sum(u[4] for u in units) if n_units else None,
        "encoded_bytes": enc0 + sum(u[5] for u in units) if n_units else None,
        # >0 on a resume (the replayed rows of completed units) — but also
        # >0 on an accidental append-as-resume (same dataset_id, NEW data
        # hashing into committed units): callers appending new batches
        # must use a fresh dataset_id and treat a nonzero here as a bug
        "rows_skipped_resume": rows_skipped,
    }


def read_chunks(
    spark: SparkSession,
    out_dir: str,
    as_of: float | None = None,
    after: float | None = None,
) -> DataFrame:
    """Committed chunks only: join against the manifest on
    (part_key, salt, run_id) so orphans from crashed runs are invisible.

    The manifest is append-only (exactly one row per committed work
    unit), so its ``committed_at`` column is a consistent ingest
    frontier — two snapshot forms come for free, the Iceberg
    snapshot-read / incremental-scan analogue at unit granularity:

    * ``as_of=T`` — time travel: only units committed at or before T
      (the table exactly as a reader at time T saw it; an interrupted
      ingest's later resume never bleeds in).
    * ``after=T`` — incremental consumption: only units committed
      strictly after T (a downstream job processes each unit exactly
      once by remembering the max ``committed_at`` it has consumed —
      CDC-style, no full rescan).

    Both filters are metadata-only: they cut the manifest before the
    semi-join, so unread units' chunk files are never opened.

    ``committed_at`` is the writer's wall clock stamped between the chunk
    write and the manifest append, so as_of/after snapshots are exact for
    a SINGLE sequential writer per checkpoint dir. With concurrent
    writers or cross-driver clock skew, a run can become visible carrying
    a timestamp at-or-below an already-consumed frontier and an
    ``after=`` poller would skip it — poll with the chunktable STREAM
    source instead (its offsets are the order-independent set of
    committed run_ids, immune to this).
    """
    chunks = spark.read.parquet(_chunks_path(out_dir))
    manifest = load_manifest(spark, out_dir)
    if as_of is not None:
        manifest = manifest.filter(F.col("committed_at") <= as_of)
    if after is not None:
        manifest = manifest.filter(F.col("committed_at") > after)
    manifest = manifest.select("part_key", "salt", "run_id")
    return chunks.join(
        F.broadcast(manifest), ["part_key", "salt", "run_id"], "left_semi"
    ).drop("run_id")


def decode_checkpoint(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    as_of: float | None = None,
    after: float | None = None,
    **decode_kwargs,
) -> DataFrame:
    """Decode a checkpointed chunk table, using the no-shuffle co-located
    path when the file layout allows it.

    The encode tasks write whole chunks contiguously, so a checkpoint
    read is usually co-located — but Spark may split large files at
    row-group boundaries (spark.sql.files.maxPartitionBytes), breaking a
    chunk across input partitions. ``check_colocated`` verifies with a
    metadata-only aggregation (payload column pruned from that scan); on
    failure this falls back to the shuffling decode. At 100 TB the check
    costs a scan of one id column; the win is not shuffling 100 TB."""
    from .decoder import check_colocated, decode

    chunks = read_chunks(spark, out_dir, as_of=as_of, after=after)
    colocated = decode_kwargs.pop("colocated", None)
    if colocated is None:
        colocated = check_colocated(chunks)
    return decode(chunks, columns=columns, colocated=colocated, **decode_kwargs)


def vacuum_checkpoint(
    spark: SparkSession,
    out_dir: str,
    retain_seconds: float = 86400.0,
    dry_run: bool = False,
) -> dict:
    """Delete orphan chunk data and stale manifest temp files left by
    crashed runs.

    A crash before the manifest rename (step 4 of the commit protocol
    above) leaves a ``chunks/run_id=<id>`` partition with no manifest row,
    and possibly a ``manifest/_tmp-*`` file. ``read_chunks`` already makes
    both invisible, so correctness never needs this — but at 10^12-file
    scale the dead bytes are real money, and re-encoded units
    double-store until cleaned. Orphan detection is run-level because
    commit is run-level: a run_id either reached the manifest (all its
    unit rows land in one renamed file) or it did not. Temp files count
    in ``bytes_reclaimed``, not in the run lists.

    Runs and temp files younger than ``retain_seconds`` are kept even
    when absent from the manifest: an in-flight ``encode_to`` has written
    its chunks but not yet its manifest rows and would otherwise be
    vacuumed mid-commit — the same retention guard as Delta VACUUM /
    Iceberg remove_orphan_files. Uses the Hadoop FileSystem API via the
    JVM gateway, so it works on HDFS / S3A / anything Spark can read, not
    just local paths; the listing is one directory status call per
    directory (one entry per encode_to invocation, not per file).
    """
    now_ms = time.time() * 1000.0

    def stale(status) -> bool:
        return now_ms - status.getModificationTime() >= retain_seconds * 1000.0

    reclaimed = 0
    fs, man = _hadoop_path(spark, _manifest_path(out_dir))
    if fs.exists(man):
        for status in fs.listStatus(man):
            if status.getPath().getName().startswith(MANIFEST_TMP_PREFIX) and stale(status):
                reclaimed += status.getLen()
                if not dry_run:
                    fs.delete(status.getPath(), False)

    fs, root = _hadoop_path(spark, _chunks_path(out_dir))
    if not fs.exists(root):
        return {"orphan_runs": [], "deleted_runs": 0, "bytes_reclaimed": reclaimed}
    committed = {
        r["run_id"]
        for r in load_manifest(spark, out_dir).select("run_id").distinct().collect()
    }
    orphans: list[str] = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not name.startswith("run_id="):
            continue
        rid = name.split("=", 1)[1]
        if rid in committed or not stale(status):
            continue
        orphans.append(rid)
        reclaimed += fs.getContentSummary(status.getPath()).getLength()
        if not dry_run:
            fs.delete(status.getPath(), True)
    return {
        "orphan_runs": sorted(orphans),
        "deleted_runs": 0 if dry_run else len(orphans),
        "bytes_reclaimed": reclaimed,
    }


def metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-partition codec/size metrics table (north_rule lineage+metrics)."""
    return (
        read_chunks(spark, out_dir)
        .groupBy("part_key", "salt", "column", "codec")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_values").alias("n_values"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
        )
    )
