"""One benchmark run: set up a fresh local[N] session, run one workload's
closed loop (one client, one operation at a time; a fixed op sequence whose
length follows the given seconds), check every answer, and write the result
JSON that perfbench/run.py prints.

Started by run.py, which owns the process tree and the scratch root; run
this file directly only through run.py.

Each operation calls the package's public functions and forces them with
an action, since Spark is lazy:

* ``encode``          ``pes.encode(...).count()``; the chunk count is checked.
* ``decode_verify``   ``pes.decode`` of the set-up checkpoint (co-located
                      when ``pes.check_colocated`` says so, as
                      ``pes.decode_checkpoint`` does), then
                      ``pes.roundtrip_ok`` against the source.
* ``checkpoint_write`` ``pes.encode_to`` into a fresh directory; the raw
                      bytes it commits are checked.
* ``query``           ``pes.read_chunks`` of the set-up checkpoint, then a
                      point ``eq``, a projected range or an ``isin`` through
                      ``pes.filter_decode_pred``, or ``pes.group_agg_encoded``;
                      each answer is checked against plain Spark.

With ``--trace 1`` the loop runs twice on the same seed, untraced and then
traced; the traced pass records a span around every layer call (each with
its own Spark job group, so stage counters come from Spark's status store)
and splits each operation into its layers, forcing each with an action.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

N_CORES = min(4, len(os.sched_getaffinity(0)))
HASH_MOD = 2**31 - 1      # answer digests sum xxhash64 mod this (no overflow)

# Inputs and op cycle per workload. The loop runs the cycle whole, the same
# number of times in every run (round(seconds / CYCLE_S), at least once), so
# every run times the same ops in the same order and its medians and
# quantiles rest on the same mix. Sizes keep one op near a second or two on
# a 4-core host, and one cycle near CYCLE_S, so that a run, set-up
# included, stays near a minute: 48 runs must fit in 57 min.
CYCLE_S = 15.0
WORKLOADS = {
    # north-rule input: wide text, time in the exchange, the Arrow pipe,
    # zstd framing and sha256; codec trials are cheap (content goes raw)
    "corpus_roundtrip": dict(
        dataset="corpus", rows=12_000, smoke_rows=2_000,
        cycle=("encode", "decode_verify", "query", "query", "checkpoint_write",
               "decode_verify", "query", "encode", "decode_verify", "query"),
    ),
    # narrow columns: per-chunk stats, codec trials and decode kernels;
    # most ops are checkpoint reads (manifest semi-join, pruning,
    # projected decode) so a looser chunk layout shows as slower queries
    "lineitem_checkpoint_query": dict(
        dataset="lineitem", rows=30_000, smoke_rows=6_000,
        cycle=("query", "encode", "decode_verify", "query", "checkpoint_write",
               "decode_verify", "query", "encode", "decode_verify", "query"),
    ),
}
OP_KINDS = ("encode", "decode_verify", "checkpoint_write", "query")
SETUP_REPEATS = 3
# untimed ops at the end of set-up: the first encode and the first
# decode+verify after set-up run 20-35% slower than the rest. The second
# decode+verify is still ~15% slower, so a cycle holds three: the median
# leaves it out.
WARMUP_OPS = ("encode", "decode_verify")
N_QUERIES_EACH = 4  # distinct literals per query kind


def load_membw_probe():
    """bench/membw_probe.py by file location (``bench`` is also a module
    name at the repository root)."""
    spec = importlib.util.spec_from_file_location(
        "membw_probe", os.path.join(REPO, "bench", "membw_probe.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules["membw_probe"] = mod  # its pool pickles workers by module name
    spec.loader.exec_module(mod)
    return mod


def source_digest() -> str:
    """sha256 over the package sources: identifies the code measured even
    where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(REPO, "parquet_extra_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, REPO).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_rev() -> str:
    try:
        # the ceiling keeps git from searching above the checkout
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                             text=True, timeout=10,
                             env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(REPO)})
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def log(msg: str) -> None:
    print(f"perfbench [{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(d, name))
    return files, size


def tree_peak_rss() -> dict[str, int]:
    """Peak resident set size (VmHWM) of this process, the JVM, each
    pyspark.daemon and the largest of the daemons' forked workers, read
    once from /proc before the session stops. Workers share their daemon's
    pages copy-on-write, so summing them would count those pages once per
    worker, and how many are alive varies. -> {"<pid> <command>": bytes}."""
    from run import describe, descendants

    peak, parent = {}, {}
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            peak[pid] = int(fields["VmHWM"].split()[0]) * 1024
            parent[pid] = int(fields["PPid"])
        except (OSError, KeyError, ValueError):
            continue
    cmd = {pid: describe(pid) for pid in peak}
    # the daemon is the JVM's child; its forked workers carry its command line
    daemons = {p for p in peak if "pyspark.daemon" in cmd[p]
               and "pyspark.daemon" not in cmd.get(parent[p], "")}
    workers = [p for p in peak if parent[p] in daemons]
    out = {f"{p} {cmd[p][:60]}": peak[p] for p in peak if p not in workers}
    if workers:
        out[f"largest of {len(workers)} pyspark.daemon workers"] = max(peak[p] for p in workers)
    return out


def p75(values: list[float]) -> float:
    """Third quartile, inclusive method."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=4, method="inclusive")[2]


# ------------------------------------------------------------------ tracing


class Tracer:
    """Spans in memory: name, start, end, parent, op id, Spark job group.
    Disabled, ``span`` only yields; enabled, every span sets its own job
    group so the status store can attribute stages to it afterwards."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-span-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else "perfbench"
            self.sc.setJobGroup(parent, parent)

    def collect_stage_metrics(self) -> None:
        """Attach Spark's own per-stage counters to every span (after the
        run, so the timed path pays nothing for them)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        for rec in self.spans:
            m = dict(jobs=0, run_s=0.0, cpu_s=0.0, gc_s=0.0, shuffle_read=0,
                     shuffle_write=0, task_max_over_median=None)
            slowest = None
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                m["jobs"] += 1
                for sid in tracker.getJobInfo(jid).stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # stage skipped (shuffle reused): no attempt
                        continue
                    m["run_s"] += sd.executorRunTime() / 1e3
                    m["cpu_s"] += sd.executorCpuTime() / 1e9
                    m["gc_s"] += sd.jvmGcTime() / 1e3
                    m["shuffle_read"] += sd.shuffleReadBytes()
                    m["shuffle_write"] += sd.shuffleWriteBytes()
                    if slowest is None or sd.executorRunTime() > slowest[0]:
                        slowest = (sd.executorRunTime(), sid, sd.attemptId())
            if slowest is not None:
                tasks = store.taskList(slowest[1], slowest[2], 100_000)
                durs = [tasks.apply(i).duration().get() for i in range(tasks.size())
                        if tasks.apply(i).duration().isDefined()]
                if durs and statistics.median(durs) > 0:
                    m["task_max_over_median"] = max(durs) / statistics.median(durs)
            rec["stages"] = m

    def self_times(self) -> dict[str, float]:
        """Per layer (span-name prefix): span duration minus the part of
        its interval that child spans cover, summed."""
        child_cover = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_cover[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = {}
        for rec in self.spans:
            layer = rec["name"].split(".")[0]
            own = rec["end"] - rec["start"] - child_cover[rec["id"]]
            out[layer] = out.get(layer, 0.0) + own
        return out


# ------------------------------------------------------------------ workload


class Run:
    """One workload in one session: set-up, the op loop, metrics."""

    def __init__(self, spark, args, wl: dict):
        import parquet_extra_spark as pes
        import data

        self.spark, self.sc, self.args, self.wl = spark, spark.sparkContext, args, wl
        self.pes, self.data = pes, data
        self.ds = {"corpus": data.CORPUS, "lineitem": data.LINEITEM}[wl["dataset"]]
        self.rows = wl["smoke_rows"] if args.size == "smoke" else wl["rows"]
        self.kw = dict(self.ds.encode_kwargs, n_buckets=N_CORES, num_partitions=2 * N_CORES)
        self.scratch = args.scratch
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.times: dict[str, list[float]] = {k: [] for k in OP_KINDS}
        self.n_writes = self.n_query = 0
        self.tracer = Tracer(self.sc, False)

    # -- set-up ------------------------------------------------------------

    def make_input(self):
        gen = {"corpus": self.data.corpus_input, "lineitem": self.data.lineitem_input}
        return gen[self.ds.name](self.spark, self.args.seed, self.rows, N_CORES)

    def materialize(self) -> float:
        """(Re)build the cached input. -> seconds."""
        t0 = time.perf_counter()
        if getattr(self, "df", None) is not None:
            self.df.unpersist(blocking=True)
        self.df = self.make_input().cache()
        self.n_src = self.df.count()
        return time.perf_counter() - t0

    def comparator(self) -> None:
        """The same rows as zstd-Parquet: the size to beat."""
        pq_dir = os.path.join(self.scratch, "comparator")
        self.df.write.option("compression", "zstd").parquet(pq_dir)
        self.parquet_bytes = sum(
            os.path.getsize(os.path.join(pq_dir, f))
            for f in os.listdir(pq_dir) if f.endswith(".parquet"))

    def expected_answers(self) -> None:
        """Raw input bytes and every filter query's answer from plain Spark
        over the source in one pass, plus one GROUP BY."""
        from pyspark.sql import functions as F

        ds, df = self.ds, self.df
        self.queries = self.data.make_queries(df, ds, self.args.seed, N_QUERIES_EACH)
        aggs = []
        for name, dtype in df.dtypes:
            if dtype in ("string", "binary"):
                aggs.append(F.coalesce(F.sum(F.octet_length(name)), F.lit(0)))
            else:
                aggs.append(F.count(name) * (4 if dtype in ("int", "float", "date") else 8))
        n_sizes, filter_idx = len(aggs), {}
        for q in dict.fromkeys(self.queries):
            if q.kind == "group":
                continue
            cond = self.spark_pred(q)
            cols = list(q.columns) or df.columns
            filter_idx[q] = len(aggs)
            aggs += [F.count_if(cond),
                     F.sum(F.when(cond, F.pmod(F.xxhash64(*cols), F.lit(HASH_MOD))))]
        row = df.agg(*aggs).collect()[0]
        self.raw_bytes = sum(row[:n_sizes])
        self.expected = {q: (row[i], row[i + 1]) for q, i in filter_idx.items()}
        fns = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max}
        grouped = df.groupBy(ds.group_col).agg(*[
            (F.count("*") if c == "*" else fns[fn](c)).alias(alias)
            for fn, c, alias in ds.group_aggs])
        self.expected_group = sorted(tuple(r) for r in grouped.collect())

    def spark_pred(self, q):
        from pyspark.sql import functions as F

        ds = self.ds
        if q.kind == "eq":
            return F.col(ds.eq_col) == F.lit(q.values[0])
        if q.kind == "range":
            return F.col(ds.range_col).between(F.lit(q.values[0]), F.lit(q.values[1]))
        return F.col(ds.isin_col).isin(list(q.values))

    def engine_pred(self, q):
        P, ds = self.pes.P, self.ds
        if q.kind == "eq":
            return P.eq(ds.eq_col, q.values[0])
        if q.kind == "range":
            return P.ge(ds.range_col, q.values[0]) & P.le(ds.range_col, q.values[1])
        return P.isin(ds.isin_col, list(q.values))

    def setup(self) -> dict:
        """The input SETUP_REPEATS times (median reported); then the
        comparator, the expected answers, the checkpoint that the decode
        ops and queries read, the exact check, and WARMUP_OPS."""
        from pyspark.sql import functions as F

        pes = self.pes
        mat = [self.materialize() for _ in range(SETUP_REPEATS)]
        log("input materialised in " + ", ".join(f"{m:.2f}s" for m in mat))
        t0 = time.perf_counter()
        self.comparator()
        self.expected_answers()
        log(f"comparator and expected answers in {time.perf_counter() - t0:.2f}s")
        self.ckpt = os.path.join(self.scratch, "checkpoint")
        pes.encode_to(self.df, self.ckpt, **self.kw)
        self.ckpt_usage = dir_usage(self.ckpt)
        self.schema_cols = pes.schema_from_struct(self.df.schema)
        self.chunks = pes.read_chunks(self.spark, self.ckpt)
        agg = self.chunks.agg(F.count("*"), F.sum("encoded_bytes"), F.sum("raw_bytes"),
                              F.countDistinct("chunk_id")).collect()[0]
        self.n_chunk_rows, self.encoded_bytes, self.engine_raw_bytes, self.n_chunks = agg
        self.colocated = pes.check_colocated(self.chunks)
        log(f"... and checkpoint in {time.perf_counter() - t0:.2f}s")
        self.exact = self.exact_check()
        for kind in WARMUP_OPS:
            if not getattr(self, f"op_{kind}")():
                raise RuntimeError(f"warm-up {kind} gave a wrong answer")
        rest = time.perf_counter() - t0
        log(f"exact check {self.exact}; set-up after the input in {rest:.2f}s")
        return {"materialize_s": mat, "rest_s": rest,
                "setup_s": statistics.median(mat) + rest}

    # -- ops ---------------------------------------------------------------

    def run_op(self, kind: str) -> None:
        self.tracer.op_id += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"client.{kind}"):
                ok = getattr(self, f"op_{kind}")()
            error = None if ok else "wrong answer"
        except Exception as e:  # a failed op is counted, not fatal
            error = f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        self.attempted += 1
        if error:
            self.failed += 1
            self.errors.append(f"{kind}: {error}")
        else:
            self.times[kind].append(dt)

    def op_encode(self) -> bool:
        with self.tracer.span("encoder.encode"):
            n = self.pes.encode(self.df, **self.kw).count()
        return n == self.n_chunk_rows

    def op_decode_verify(self) -> bool:
        pes, span = self.pes, self.tracer.span
        dec = pes.decode(self.chunks, schema_cols=self.schema_cols, colocated=self.colocated)
        if not self.tracer.enabled:
            return pes.roundtrip_ok(self.df, dec)
        # traced: materialise the decoded frame so verify is timed on its own
        with span("decoder.decode"):
            dec = dec.cache()
            dec.count()
        try:
            with span("verify.roundtrip"):
                return pes.roundtrip_ok(self.df, dec)
        finally:
            dec.unpersist()

    def op_checkpoint_write(self) -> bool:
        self.n_writes += 1
        out = os.path.join(self.scratch, f"write-{self.n_writes}")
        try:
            with self.tracer.span("checkpoint.encode_to"):
                summary = self.pes.encode_to(self.df, out, **self.kw)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return summary["raw_bytes"] == self.engine_raw_bytes

    def op_query(self) -> bool:
        from pyspark.sql import functions as F

        pes, span, ds = self.pes, self.tracer.span, self.ds
        q = self.queries[self.n_query % len(self.queries)]
        self.n_query += 1
        with span("checkpoint.read_chunks"):
            chunks = pes.read_chunks(self.spark, self.ckpt)
            if self.tracer.enabled:
                chunks.select("chunk_id").distinct().count()
        if q.kind == "group":
            with span("encoded_agg.group_agg"):
                rows = pes.group_agg_encoded(
                    chunks, ds.group_col, list(ds.group_aggs), colocated=self.colocated,
                    schema_cols=self.schema_cols).collect()
            return sorted(tuple(r) for r in rows) == self.expected_group
        pred = self.engine_pred(q)
        if self.tracer.enabled:
            with span("predicate.prune") as rec:
                kept = (pes.prune_chunks(chunks, pred, self.schema_cols)
                        .filter(F.col("col_idx") == 0)
                        .agg(F.count("*"), F.sum("n_values")).collect()[0])
                rec.update(chunks_kept=kept[0], rows_decoded=kept[1] or 0)
        with span("predicate.filter_decode") as rec:
            cols = list(q.columns) or self.df.columns
            out = pes.filter_decode_pred(chunks, pred, columns=list(q.columns) or None,
                                         schema_cols=self.schema_cols,
                                         colocated=self.colocated)
            got = out.agg(F.count("*"),
                          F.sum(F.pmod(F.xxhash64(*cols), F.lit(HASH_MOD)))).collect()[0]
            if rec is not None:
                rec["rows_returned"] = got[0]
        return tuple(got) == self.expected[q]

    def loop(self, cycles: int) -> float:
        """The workload's cycle, ``cycles`` times whole, one op at a time.
        -> wall seconds."""
        self.n_query = 0
        t0 = time.perf_counter()
        for _ in range(cycles):
            for kind in self.wl["cycle"]:
                self.run_op(kind)
        return time.perf_counter() - t0

    def exact_check(self) -> bool:
        """Exact multiset check of the decoded checkpoint against the
        source (roundtrip_ok alone is not injective)."""
        dec = self.pes.decode(self.chunks, schema_cols=self.schema_cols,
                              colocated=self.colocated).select(*self.df.columns)
        return self.df.exceptAll(dec).union(dec.exceptAll(self.df)).isEmpty()

    # -- metrics -----------------------------------------------------------

    def end_to_end(self, setup: dict) -> dict:
        mb = self.raw_bytes / 1e6
        t = {k: statistics.median(v) for k, v in self.times.items()}
        q = [x * 1e3 for x in self.times["query"]]
        return {
            "encode_MBps": (mb / t["encode"], "MB/s"),
            "decode_verify_MBps": (mb / t["decode_verify"], "MB/s"),
            "checkpoint_write_MBps": (mb / t["checkpoint_write"], "MB/s"),
            "query_p50_ms": (statistics.median(q), "ms"),
            "query_p75_ms": (p75(q), "ms"),
            "bytes_ratio": (self.encoded_bytes / self.raw_bytes, "ratio"),
            "vs_parquet_zstd": (self.encoded_bytes / self.parquet_bytes, "ratio"),
            "setup_s": (setup["setup_s"], "s"),
            "peak_rss_MB": (self.peak_rss / 1e6, "MB"),
        }

    def in_process_layers(self) -> dict:
        """stats/codecs kernels timed in this process on one chunk's arrays
        of the workload's own input: chunk_rows rows in clustering order."""
        from parquet_extra_spark.codecs import decode_array, encode_array
        from parquet_extra_spark.engine import stats

        order = self.kw["partition_cols"] + self.kw["sort_cols"]
        table = self.df.orderBy(*order).limit(self.kw["chunk_rows"]).toArrow()
        arrays = [(table.column(c).combine_chunks(), dt) for c, dt in self.df.dtypes]
        raw = sum(stats.raw_size(a, dt) for a, dt in arrays) / 1e6

        def rate(fn, *, min_s=0.2):
            reps, t0 = 0, time.perf_counter()
            while True:
                fn()
                reps += 1
                el = time.perf_counter() - t0
                if el >= min_s:
                    return el / reps

        st = [stats.compute_stats(a, dt) for a, dt in arrays]
        chosen = [stats.choose_and_encode(a, dt, s) for (a, dt), s in zip(arrays, st)]
        t_stats = rate(lambda: [stats.compute_stats(a, dt) for a, dt in arrays])
        t_choose = rate(lambda: [stats.choose_and_encode(a, dt, s)
                                 for (a, dt), s in zip(arrays, st)])
        t_winner = rate(lambda: [encode_array(a, dt, c)
                                 for (a, dt), (c, _) in zip(arrays, chosen)])
        t_sha = rate(lambda: [stats.canonical_sha256(a, dt) for a, dt in arrays])
        t_dec = rate(lambda: [decode_array(p, dt, c)
                              for (_, dt), (c, p) in zip(arrays, chosen)])
        return {
            "stats.compute_stats_MBps": (raw / t_stats, "MB/s"),
            "stats.choose_and_encode_MBps": (raw / t_choose, "MB/s"),
            "stats.sha256_MBps": (raw / t_sha, "MB/s"),
            "codecs.decode_MBps": (raw / t_dec, "MB/s"),
            "stats.trial_overhead": (t_choose / t_winner, "ratio"),
        }

    def per_layer(self, setup: dict, untraced: dict, traced: dict, wall: float,
                  layer_names: list[str]) -> dict:
        from pyspark.sql import functions as F

        spans = self.tracer.spans

        def med(name, key=None):
            vals = [(s["stages"][key] if key else s["end"] - s["start"])
                    for s in spans if s["name"] == name]
            vals = [v for v in vals if v is not None]
            return statistics.median(vals) if vals else 0.0

        prune = [s for s in spans if s["name"] == "predicate.prune"]
        fdec = [s for s in spans if s["name"] == "predicate.filter_decode"]
        m = {
            "encoder.encode_s": (med("encoder.encode"), "s"),
            "encoder.arrow_passthrough_s": (med("encoder.arrow_passthrough"), "s"),
            "encoder.shuffle_write_bytes": (med("encoder.encode", "shuffle_write"), "bytes"),
            "encoder.shuffle_read_bytes": (med("encoder.encode", "shuffle_read"), "bytes"),
            "encoder.executor_run_s": (med("encoder.encode", "run_s"), "s"),
            "encoder.executor_cpu_s": (med("encoder.encode", "cpu_s"), "s"),
            "encoder.gc_s": (med("encoder.encode", "gc_s"), "s"),
            "encoder.task_max_over_median": (
                med("encoder.encode", "task_max_over_median"), "ratio"),
            "encoder.chunks": (self.n_chunks, "count"),
            "decoder.decode_s": (med("decoder.decode"), "s"),
            "decoder.executor_cpu_s": (med("decoder.decode", "cpu_s"), "s"),
            "decoder.shuffle_bytes": (
                med("decoder.decode", "shuffle_read") + med("decoder.decode", "shuffle_write"),
                "bytes"),
            "verify.roundtrip_s": (med("verify.roundtrip"), "s"),
            "verify.shuffle_bytes": (
                med("verify.roundtrip", "shuffle_read")
                + med("verify.roundtrip", "shuffle_write"), "bytes"),
            "checkpoint.encode_to_s": (med("checkpoint.encode_to"), "s"),
            "checkpoint.files_written": (self.ckpt_usage[0], "count"),
            "checkpoint.bytes_written": (self.ckpt_usage[1], "bytes"),
            "checkpoint.read_chunks_s": (med("checkpoint.read_chunks"), "s"),
            "predicate.prune_s": (med("predicate.prune"), "s"),
            "predicate.jobs_per_query": (med("predicate.filter_decode", "jobs"), "count"),
            "predicate.chunks_kept_ratio": (
                sum(s["chunks_kept"] for s in prune) / max(1, len(prune) * self.n_chunks),
                "ratio"),
            "predicate.rows_returned_per_row_decoded": (
                sum(s.get("rows_returned", 0) for s in fdec)
                / max(1, sum(s["rows_decoded"] for s in prune)), "ratio"),
            "encoded_agg.group_agg_s": (med("encoded_agg.group_agg"), "s"),
            "sources.materialize_s": (statistics.median(setup["materialize_s"]), "s"),
        }
        m.update(self.in_process_layers())
        chosen = dict(self.chunks.groupBy("codec").count().collect())
        for name in layer_names:
            if name.startswith("codecs.chosen."):
                m[name] = (chosen.get(name.rsplit(".", 1)[1], 0), "count")
        per_col = dict(self.chunks.groupBy("column").agg(F.sum("encoded_bytes")).collect())
        for name in layer_names:
            if name.startswith("codecs.encoded_bytes."):
                m[name] = (per_col.get(name[len("codecs.encoded_bytes."):], 0), "bytes")
        selfs = self.tracer.self_times()
        for name in layer_names:
            if name.startswith("self_s."):
                m[name] = (selfs.get(name[len("self_s."):], 0.0), "s")
        m["trace.wall_s"] = (wall, "s")
        kinds = [k for k in OP_KINDS if k in untraced and k in traced]
        m["trace.overhead_ratio"] = (
            sum(traced[k] for k in kinds) / sum(untraced[k] for k in kinds), "ratio")
        return m


# ------------------------------------------------------------------ session


def start_session(scratch: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{N_CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(N_CORES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", os.path.join(scratch, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """spark.stop(), then shut the py4j gateway and wait (bounded) for the
    JVM to exit; kill it if it does not."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)


def env_stamp(spark, membw_start: float) -> dict:
    import pyarrow
    import pyspark

    conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
            if not k.endswith((".id", ".port", "Time", ".host"))
            and "JavaOptions" not in k}
    return {
        "git_rev": git_rev(),
        "source_sha256": source_digest(),
        "nproc": len(os.sched_getaffinity(0)),
        "local_cores": N_CORES,
        "spark_conf": dict(sorted(conf.items())),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "membw_GBps_start": membw_start,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--size", default="full")
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = WORKLOADS[args.workload]
    inject = os.environ.get("PERFBENCH_INJECT", "")

    membw = load_membw_probe()
    membw_start = membw.aggregate_membw_gbps(n_proc=N_CORES, reps=2)
    t0 = time.perf_counter()
    spark = start_session(args.scratch)
    session_s = time.perf_counter() - t0
    log(f"membw {membw_start} GB/s; session started in {session_s:.2f}s")
    try:
        stamp = env_stamp(spark, membw_start)
        run = Run(spark, args, wl)
        setup = run.setup()
        setup["session_s"] = session_s
        setup["setup_s"] += session_s
        if inject == "raise":
            raise RuntimeError("injected failure after set-up")
        if inject == "hang":
            time.sleep(3600)
        # a traced run loops twice on the same seed: untraced, then traced
        cycles = max(1, round(args.seconds / (2 if args.trace else 1) / CYCLE_S))
        loop_wall = run.loop(cycles)
        missing = [k for k, v in run.times.items() if not v]
        if missing:
            raise RuntimeError(f"no successful {missing} op in the run: {run.errors[:5]}")
        untraced_times = run.times
        untraced = {k: statistics.median(v) for k, v in run.times.items()}
        counts = {k: len(v) for k, v in run.times.items()}
        peak_rss = tree_peak_rss()
        run.peak_rss = sum(peak_rss.values())
        log(f"loop: {counts} ops in {loop_wall:.2f}s, {run.failed} failed")
        exact = run.exact
        if args.trace:
            run.times = {k: [] for k in OP_KINDS}
            run.tracer = Tracer(run.sc, True)
            t_tr = time.perf_counter()
            run.loop(cycles)
            with run.tracer.span("encoder.arrow_passthrough"):
                run.df.mapInArrow(_count_batches, "n bigint").agg({"n": "sum"}).collect()
            traced_wall = time.perf_counter() - t_tr
            traced = {k: statistics.median(v) for k, v in run.times.items() if v}
            run.tracer.collect_stage_metrics()
            names = [m["name"] for m in spec["per_layer"]]
            metrics = run.per_layer(setup, untraced, traced, traced_wall, names)
        else:
            metrics = run.end_to_end(setup)
            names = [m["name"] for m in spec["end_to_end"]]
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "rows": run.n_src,
            "raw_bytes": run.raw_bytes, "op_counts": counts, "loop_wall_s": loop_wall,
            "op_median_s": untraced, "op_s": untraced_times, "peak_rss": peak_rss,
            "setup": setup, "exact_check": exact,
            "error_rate": run.failed / max(1, run.attempted), "errors": run.errors[:20],
            "stamp": stamp,
        }
    finally:
        stop_session(spark)
    detail["stamp"]["membw_GBps_end"] = membw.aggregate_membw_gbps(n_proc=N_CORES, reps=2)
    print("perfbench detail: " + json.dumps(detail, default=str), flush=True)
    write_artifacts(args, detail, run.tracer)

    result = {
        "correct": bool(exact) and run.failed == 0,
        # the exact check counts as one more attempted op
        "attempted": run.attempted + 1,
        "failed": run.failed + (0 if exact else 1),
        "metrics": {n: {"value": float(metrics[n][0]), "unit": metrics[n][1]} for n in names},
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def _count_batches(batches):
    import pyarrow as pa

    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})


def write_artifacts(args, detail: dict, tracer: Tracer) -> None:
    """Run detail (with its environment stamp) and, when traced, the spans,
    under .perfbench_out/ in the checkout."""
    out = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out, stem + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if tracer.enabled:
        with open(os.path.join(out, stem + "-spans.json"), "w") as f:
            json.dump({"stamp": detail["stamp"], "spans": tracer.spans,
                       "self_s": tracer.self_times()}, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
