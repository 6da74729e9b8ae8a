"""Benchmark harness (driver contract): runs the headline engine queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Extra fields (informational, beyond the contract): encode GB/s over raw
content bytes, encoded-vs-parquet-zstd byte ratio — the north_rule's two
headline numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F


# The DRAM probe (worker, aggregate-bandwidth measurement, and health
# gate) lives in bench/membw_probe.py — ONE definition, shared with
# bench/scaling.py, so the 8.0 GB/s healthy threshold means the same
# thing in every committed artifact.  Imported by file location because
# this module itself shadows the name `bench` for package imports.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench"))
from membw_probe import aggregate_membw_gbps, membw_gate  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from parquet_extra_spark.session import build_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = build_spark("parquet_extra_spark_bench", cpus)

    import parquet_extra_spark as pes
    from parquet_extra_spark.sources import code_corpus
    import __spark_entry__ as entry_mod

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    # --- corpus encode/decode (the engine's heart, at ~content-heavy scale)
    # 1M rows (~1.8 GB raw): small enough to keep the whole bench under a
    # few minutes, big enough that chunk sizes (and hence the compression
    # ratio vs the parquet-zstd reference) and fixed per-job costs are
    # representative rather than artifacts of a toy input
    n_corpus = int(os.environ.get("SPARK_GRAFT_CORPUS_ROWS", "1000000"))
    # 4 tasks per core: (bucket,salt) units are one task each and hash
    # unevenly, so 2 units/core leaves a straggler tail
    # (`git show 4d080a7:bench/unit_probe.py`: 64 units 6.2-13.1s vs 128
    # units 2.9s on the same corpus); finer units let the scheduler
    # rebalance.
    # Chunks stay big enough for zstd windows at 1M rows (7812 rows ~
    # 13 MB content).
    n_units = cpus * 4
    chunk_rows = max(4096, min(65536, n_corpus // n_units))
    corpus = code_corpus(spark, n_rows=n_corpus).cache()
    content_bytes = corpus.agg(
        F.sum(F.octet_length("content"))
        + F.sum(F.octet_length("repo"))
        + F.sum(F.octet_length("path"))
        + F.sum(F.octet_length("commit"))
        + F.sum(F.octet_length("lang"))
    ).collect()[0][0]

    _ENC = dict(
        partition_cols=["repo", "lang"],
        sort_cols=["commit", "path"],
        chunk_rows=chunk_rows,
        n_buckets=cpus,
        n_salts=4,
        # one partition per (bucket, salt) unit: units cannot split
        # across tasks, so extra partitions would sit empty
        num_partitions=cpus * 4,
    )

    # warm-up at FULL size: the first full-size run of each job pays JVM
    # JIT (C2 compilation of the codegen'd exchange/scan stages), Python
    # worker spawn + numpy/pyarrow imports, and page-cache faults — on
    # this host that's a measured 31.5s first encode vs 2.5-3.0s steady
    # state (`git show 4d080a7:bench/cache_cost.py` run table,
    # 2026-08-17). A 10k-row warmup does NOT warm the full path
    # (different batch shapes compile different code). Warm-up is
    # ADAPTIVE because convergence takes SEVERAL full runs, not one
    # (measured decay on this host: 29.7 -> 12.4 -> 5.7 -> 4.4 -> 2.7s,
    # then flat): a single warm-up leaves the first timed
    # attempts mid-decay, and the "jointly fast" early stop can then lock
    # a still-warming 12s sample in as the committed artifact. Keep
    # warming until the improvement over the previous run falls under
    # 20% (max 5 runs).
    prev = None
    for _ in range(5):
        t0 = time.time()
        pes.encode(corpus, **_ENC).count()
        dt = time.time() - t0
        if prev is not None and dt > prev * 0.8:
            break
        prev = dt

    # PAIRED interleaved repeats against the parquet-zstd comparator.
    #
    # The sandbox host has multi-minute throttling windows: identical
    # jobs vary 3-10x wall-clock (`git show 4d080a7:bench/bisect_bench.py`
    # run tables: the same no-cache encode measured 2.5s and 17.8s
    # within 30 min; a clustered parquet write measured 1.85s and 38.1s
    # in ONE loop).
    # min(engine) vs min(parquet) across attempts is therefore BIASED:
    # the short parquet job (~2s) fits inside fast micro-bursts that the
    # longer encode job (~3s, 10-30s when throttled) straddles, so the
    # two minima come from different window classes — round 2's artifact
    # recorded a 14x "gap" this way while the same session's engine
    # steady state was 2.5-3.4s (~1.5x of parquet).
    #
    # Protocol: each attempt runs engine encode AND the reference write
    # back-to-back (one window), cleaning the reference output before
    # the next attempt (overlay-disk writeback from kept outputs poisons
    # later samples). The REPORTED pair is the single attempt with the
    # best combined time — both headline numbers come from the same host
    # window by construction. All attempts are recorded in the artifact.
    #
    # Comparator (throughput): parquet_zstd_write — the SAME JOB via
    # parquet-mr: clustering repartition on the (repo,lang) hash bucket +
    # salt, sort within partitions, zstd write. What the reference stack
    # does to produce the clustered layout the north_rule mandates.
    # Size baseline: parquet_zstd_plain_write (no clustering shuffle) —
    # the conservative floor for encoded_vs_parquet_zstd (clustered
    # parquet compresses better, so clustered-ours vs plain-parquet makes
    # the <=1.0 bound harder, not easier).
    import shutil
    import tempfile

    bucket = F.pmod(F.xxhash64("repo", "lang"), F.lit(cpus))
    salt = F.pmod(F.xxhash64(F.col("path")), F.lit(4))

    def ref_write(where):
        (
            corpus.repartition(cpus * 4, bucket, salt)
            .sortWithinPartitions("repo", "lang", "commit", "path")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(where)
        )

    # window probe: a small mapInArrow pass-through. The host's throttle
    # windows hit the JVM<->Python Arrow pipe far harder than JVM-only
    # work (`git show 4d080a7:bench/phase_probe.py`: encode 41s vs
    # parquet 4.5s in the same throttled round, 4.9s vs 2.9s
    # un-throttled) — so the probe must exercise the pipe itself; a JVM
    # agg reads "fast" mid-throttle.
    import pyarrow as _pa

    def _probe_fn(batches):
        n = 0
        for batch in batches:
            n += batch.num_rows
        yield _pa.RecordBatch.from_pydict({"n": _pa.array([n], _pa.int64())})

    probe_df = corpus.limit(60000).repartition(cpus).cache()
    probe_df.count()

    def window_probe() -> float:
        t0 = time.time()
        probe_df.mapInArrow(_probe_fn, "n bigint").count()
        return time.time() - t0

    # Aggregate DRAM-bandwidth probe: the mapInArrow probe's 60k rows are
    # cache-resident and a SINGLE-stream numpy pass also reads healthy in
    # throttled windows — the 2026-08-18 trap was MULTI-PROCESS aggregate
    # bandwidth collapsing (membw mem-class 0.096 efficiency; identical-
    # code encode_job 0.33 GB/s vs the 0.62-0.66 steady state) while
    # every CPU-flavored probe stayed clean. Encode is DRAM-bound past
    # ~8 cores, so record the aggregate number at run start and end —
    # a low value marks the whole artifact environment-dominated.
    # MEMBW GATE (round-4 verdict item): the encode pipeline is DRAM-bound
    # past ~8 cores, and the host has multi-minute windows where aggregate
    # DRAM bandwidth collapses (measured 3.4-4.3 GB/s vs 11.6-12.3 GB/s
    # healthy) while every CPU probe reads clean — a ratio committed from
    # such a window measures the host, not the engine (BENCH_r04: 4.31x at
    # membw 4.3). Protocol: (a) wait at run start until the shared gate
    # (bench/membw_probe.membw_gate) reads TWO consecutive healthy probes
    # (bounded — a single blip mid-throttle must not launch the run),
    # (b) stamp every timed pair with its own membw reading, (c) commit
    # the best pair among HEALTHY-stamped pairs, falling back to the
    # global best only when no healthy pair exists (the artifact then
    # says so via membw_agg_GBps_best_pair).
    membw_healthy = float(os.environ.get("SPARK_GRAFT_MEMBW_HEALTHY", "8.0"))

    with tempfile.TemporaryDirectory() as d:
        ref_write(f"{d}/warm")  # comparator warm-up (same JIT argument)
        shutil.rmtree(f"{d}/warm", ignore_errors=True)
        probe_best = min(window_probe() for _ in range(3))
        gate = membw_gate(membw_healthy, max_wait=180.0)
        extra["membw_gate_readings"] = gate
        extra["membw_agg_GBps_start"] = gate[-1]
        # the sampling budget starts AFTER the gate: waiting for a healthy
        # window must not eat the window it waited for
        t_start = time.time()
        t_enc, t_ref, probes, pair_membw = [], [], [], []
        # flanking stamp: a pair's membw is min(before, after) — a probe
        # taken only AFTER the pair would classify a window that
        # throttled during the timed jobs but recovered just before the
        # probe as healthy (the exact failure the gate exists to stop);
        # probing DURING the pair would contend with the measured jobs.
        # Each pair's "before" reading is the previous pair's "after",
        # so the tightening costs one extra probe per run.
        prev_probe = aggregate_membw_gbps(reps=2)
        for attempt in range(20):
            elapsed = time.time() - t_start
            # soft budget needs >=2 pairs: a single pair can be a throttled
            # window and would become the committed artifact (the round-2
            # failure mode); only the hard cap may stop a 1-pair run
            if (elapsed > 420 and len(t_enc) >= 2) or (elapsed > 560 and t_enc):
                break
            p = window_probe()
            probe_best = min(probe_best, p)
            if p > probe_best * 1.3 and len(t_enc) >= 1 and elapsed < 360:
                # throttled window: don't waste a timed pair on it
                time.sleep(3)
                # keep the next pair's "before" stamp fresh across the skip
                prev_probe = aggregate_membw_gbps(reps=2)
                continue
            probes.append(round(p, 3))
            t0 = time.time()
            pes.encode(corpus, **_ENC).count()
            t_enc.append(round(time.time() - t0, 3))
            t0 = time.time()
            ref_write(f"{d}/ref")
            t_ref.append(round(time.time() - t0, 3))
            shutil.rmtree(f"{d}/ref", ignore_errors=True)
            # stamp the pair with the window's OWN membw (cheap variant,
            # flanking min — see prev_probe above)
            post_probe = aggregate_membw_gbps(reps=2)
            pair_membw.append(min(prev_probe, post_probe))
            prev_probe = post_probe
            if len(t_enc) >= 5:
                # stop once some attempt was jointly fast IN A HEALTHY
                # WINDOW: both sides within 25% of their global minima AND
                # the pair's membw stamp >= threshold. Otherwise keep
                # sampling up to the time budget and take the best pair.
                sums = [e + r for e, r in zip(t_enc, t_ref)]
                i = sums.index(min(sums))
                if (
                    t_enc[i] <= min(t_enc) * 1.25
                    and t_ref[i] <= min(t_ref) * 1.25
                    and pair_membw[i] >= membw_healthy
                ):
                    break
        sums = [e + r for e, r in zip(t_enc, t_ref)]
        healthy_idx = [
            i for i in range(len(sums)) if pair_membw[i] >= membw_healthy
        ]
        pool = healthy_idx or list(range(len(sums)))
        best = min(pool, key=lambda i: sums[i])
        extra["pair_membw_GBps"] = pair_membw
        extra["membw_agg_GBps_best_pair"] = pair_membw[best]
        extra["membw_healthy_threshold"] = membw_healthy
        timings["encode_corpus"] = t_enc[best]
        extra["parquet_zstd_write_sec"] = t_ref[best]
        extra["parquet_zstd_write_GBps"] = round(
            content_bytes / 1e9 / t_ref[best], 4
        )
        extra["encode_vs_ref_same_window"] = round(t_enc[best] / t_ref[best], 4)
        extra["encode_attempts"] = t_enc
        extra["parquet_zstd_attempts"] = t_ref
        extra["window_probes"] = probes
        extra["membw_agg_GBps_encode_end"] = aggregate_membw_gbps()
        extra["encode_best_unpaired_sec"] = min(t_enc)
        extra["parquet_zstd_best_unpaired_sec"] = min(t_ref)
        # size baseline + its timing (best-of-2, informational)
        t_plain = []
        for i in range(2):
            out = f"{d}/plain"
            t0 = time.time()
            corpus.write.mode("overwrite").option("compression", "zstd").parquet(out)
            t_plain.append(round(time.time() - t0, 3))
        extra["parquet_zstd_plain_write_sec"] = min(t_plain)
        extra["parquet_zstd_plain_write_GBps"] = round(
            content_bytes / 1e9 / min(t_plain), 4
        )
        pq_bytes = sum(
            os.path.getsize(os.path.join(out, f))
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )
    extra["encode_GBps"] = round(content_bytes / 1e9 / timings["encode_corpus"], 4)
    extra["raw_gb"] = round(content_bytes / 1e9, 3)
    # cache materialization is deliberately OUTSIDE the timed loop: the
    # timed job is encode+count (what a pipeline pays); the cache build
    # below only feeds the decode/size phases and runs once
    chunks = pes.encode(corpus, **_ENC).cache()
    chunks.count()
    enc_bytes = chunks.agg(F.sum("encoded_bytes")).collect()[0][0]
    extra["encoded_vs_parquet_zstd"] = round(enc_bytes / pq_bytes, 4)

    # Exchange share, measured directly: the exchange-free lane
    # (assume_clustered=True — input already laid out by the clustering
    # key, e.g. an Iceberg table partitioned by (repo, lang)) vs the
    # default lane on the SAME pre-clustered parquet source, interleaved
    # pairs in the same window. The delta is the cost of the one
    # clustering shuffle the default plan pays — at 100 TB, the choice
    # between re-shuffling the corpus and not touching the network.
    with tempfile.TemporaryDirectory() as d2:
        src = f"{d2}/clustered"
        # range distribution = the Iceberg write-distribution-mode=range
        # layout for a table sorted/partitioned on (repo, lang): each
        # file holds a contiguous slice of the key space (few groups per
        # file), so the lane's per-task unit buffers stay dense. A HASH
        # repartition here (the first version of this probe) scatters
        # ~30 key groups into every file and fragments chunks ~90x.
        (
            corpus.repartitionByRange(cpus * 4, "repo", "lang")
            .write.option("compression", "zstd")
            .parquet(src)
        )
        # The lane's parallelism = source SPLIT count. A 100-TB corpus
        # has thousands of splits; this 1M-row stand-in compresses to
        # ~270 MB, which the default 128 MB maxPartitionBytes packs into
        # 2-3 splits — the lane would run on 3 cores while the default
        # lane's exchange re-spreads to 128 tasks (a first run of this
        # probe recorded exactly that: 26.4 s vs 3.5 s). Size splits to
        # the corpus so the probe measures the exchange, not an
        # unrepresentative split-packing artifact.
        src_bytes = sum(
            os.path.getsize(os.path.join(src, f))
            for f in os.listdir(src)
            if f.endswith(".parquet")
        )
        old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        old_open = spark.conf.get("spark.sql.files.openCostInBytes")
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes",
            str(max(1_048_576, src_bytes // (cpus * 4))),
        )
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        try:
            pre = spark.read.parquet(src)
            pre_kwargs = {k: v for k, v in _ENC.items() if k != "num_partitions"}
            pes.encode(pre, assume_clustered=True, **pre_kwargs).count()  # warm
            _pc_pairs = []
            for _ in range(2):
                t0 = time.time()
                pes.encode(pre, assume_clustered=True, **pre_kwargs).count()
                nx = round(time.time() - t0, 3)
                t0 = time.time()
                pes.encode(pre, **_ENC).count()
                dx = round(time.time() - t0, 3)
                _pc_pairs.append((nx, dx))
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
            spark.conf.set("spark.sql.files.openCostInBytes", old_open)
        nx, dx = min(_pc_pairs, key=lambda p: p[0] + p[1])
        extra["encode_preclustered_sec"] = nx
        extra["encode_clustered_default_sec"] = dx
        extra["encode_preclustered_vs_default"] = round(nx / dx, 4)
        extra["encode_preclustered_pairs"] = _pc_pairs

    # Every remaining query is PAIRED with a window probe (round-3 gap:
    # only encode/parquet were paired, so a throttled window read as a
    # per-query regression — r3's committed artifact ran at probes
    # 0.51-0.52 vs the same code at 0.35-0.44). Protocol: probe, run,
    # record (time, probe); afterwards rerun any query whose probe was
    # >1.4x the session's best probe and keep its faster sample. Probes
    # ship in the artifact (extra.query_probes) so a regression can be
    # attributed to the host window instead of the code.
    query_probes: dict[str, float] = {}
    probe_state = {"best": None}

    def run_probed(name, fn):
        p = window_probe()
        if probe_state["best"] is None or p < probe_state["best"]:
            probe_state["best"] = p
        t0 = time.time()
        fn()
        dt = round(time.time() - t0, 3)
        if name not in timings or dt < timings[name]:
            timings[name] = dt
            query_probes[name] = round(p, 3)
        return p

    def decode_verify():
        # co-located no-shuffle decode: the chunk table is cached straight
        # from encode, so every chunk's rows share a partition by
        # construction — zero payload bytes cross the network
        dec = pes.decode(
            chunks, schema_cols=pes.schema_from_struct(corpus.schema),
            colocated=True,
        )
        assert pes.roundtrip_ok(corpus, dec), "round trip failed at bench scale"

    probe_state["best"] = probe_best
    run_probed("decode_verify_corpus", decode_verify)

    # compute-over-compressed evidence (informational — NOT in the
    # headline total, which stays the fixed 8-query set for cross-round
    # comparability): the SAME report (count/min/max per lang) answered
    # from codec structures vs by the decode path's best effort (decode
    # ONLY the two referenced columns, then Spark groupBy). Sides run
    # back-to-back so both share a host window; best-of-2 pairs.
    _gb_aggs = [("count", "*", "n"), ("min", "commit", "mn"),
                ("max", "commit", "mx")]
    _corpus_schema = pes.schema_from_struct(corpus.schema)

    def _gb_encoded():
        pes.group_agg_encoded(
            chunks, "lang", _gb_aggs, colocated=True,
            schema_cols=_corpus_schema,
        ).count()

    def _gb_decode():
        dec = pes.decode(chunks, schema_cols=_corpus_schema,
                         columns=["lang", "commit"], colocated=True)
        dec.groupBy("lang").agg(
            F.count("*").alias("n"), F.min("commit").alias("mn"),
            F.max("commit").alias("mx"),
        ).count()

    # one untimed warm run per side (the encoded kernel pays worker-side
    # import/pickle on first use), then alternate order across attempts
    # so neither side always runs colder
    _gb_encoded()
    _gb_decode()
    _gb_pairs = []
    for i in range(2):
        order = (_gb_encoded, _gb_decode) if i % 2 == 0 else (_gb_decode, _gb_encoded)
        ts = []
        for fn in order:
            t0 = time.time()
            fn()
            ts.append(round(time.time() - t0, 3))
        e_s, d_s = (ts[0], ts[1]) if i % 2 == 0 else (ts[1], ts[0])
        _gb_pairs.append((e_s, d_s))
    e_best, d_best = min(_gb_pairs, key=lambda p: p[0] + p[1])
    extra["groupby_encoded_sec"] = e_best
    extra["groupby_decode_sec"] = d_best
    extra["groupby_encoded_vs_decode"] = round(e_best / d_best, 4)
    extra["groupby_pairs"] = _gb_pairs

    # paired NON-headline probe: the same as-of attribution query through
    # the union+window plan (one shuffle of both sides) vs the broadcast
    # plan (zero shuffle of the left side) — same-window pairs, same
    # protocol as the groupby probe above
    from parquet_extra_spark.operators.temporal import (
        asof_join, asof_join_broadcast,
    )

    _ev = spark.read.parquet(f"{sf_dir}/events.parquet").cache()
    _ev.count()
    _purch = _ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("p_ts"))
    _clicks = _ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), "value")

    def _asof_union():
        asof_join(_purch, _clicks, on="user_id",
                  left_time="p_ts", right_time="c_ts").count()

    def _asof_bcast():
        asof_join_broadcast(_purch, _clicks, on="user_id",
                            left_time="p_ts", right_time="c_ts").count()

    _asof_union()
    _asof_bcast()
    _asof_pairs = []
    for i in range(2):
        order = (_asof_union, _asof_bcast) if i % 2 == 0 else (_asof_bcast, _asof_union)
        ts = []
        for fn in order:
            t0 = time.time()
            fn()
            ts.append(round(time.time() - t0, 3))
        u_s, b_s = (ts[0], ts[1]) if i % 2 == 0 else (ts[1], ts[0])
        _asof_pairs.append((u_s, b_s))
    u_best, b_best = min(_asof_pairs, key=lambda p: p[0] + p[1])
    extra["asof_union_sec"] = u_best
    extra["asof_broadcast_sec"] = b_best
    extra["asof_broadcast_vs_union"] = round(b_best / u_best, 4)
    extra["asof_pairs"] = _asof_pairs
    _ev.unpersist()

    # --- driver-table queries (same set the correctness gate runs)
    qs = entry_mod.queries()
    names = [
        "projection",
        "roundtrip_sha",
        "filter_pushdown",
        "column_profile",
        "pricing_summary",
        "order_segments",
    ]
    fns = {"decode_verify_corpus": decode_verify}
    for name in names:
        fns[name] = lambda n=name: qs[n](spark, sf_dir).count()
        run_probed(name, fns[name])
    # rerun pass: any query measured in a throttled window gets one more
    # shot in (hopefully) a cleaner one; best sample wins
    for name in ["decode_verify_corpus"] + names:
        if query_probes[name] > probe_state["best"] * 1.4:
            time.sleep(2)
            run_probed(name, fns[name])
    extra["query_probes"] = query_probes
    extra["query_probe_best"] = round(probe_state["best"], 3)
    # only now: a decode_verify rerun above still needs the cached corpus
    corpus.unpersist()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "engine_headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extra": extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
