"""Single-process encode job for the scaling benchmark.

Run via spark-submit or plain python at one parallelism level:
    python bench/encode_job.py --cpus 8 --input /tmp/corpus.parquet
Reads the same parquet input regardless of level (identical work), does a
warm-up pass, then measures the full encode pipeline (shuffle + sort +
codec selection + encode + chunk-table materialization). Prints one JSON
line {cpus, seconds, raw_bytes, gbps, encoded_bytes, n_rows, master}.
Under spark-submit the launcher's --master wins; ``--cpus`` then only
sizes the work (partitions), not the master.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from parquet_extra_spark.session import build_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()

    spark = build_spark(f"encode_scaling_{args.cpus}", args.cpus)
    import parquet_extra_spark as pes

    # The small bench parquet collapses to a handful of input splits, which
    # would serialize the shuffle map side — an artifact of file size, not
    # the engine (real corpora have thousands of splits). Spread the cached
    # input across the level's cores; this happens outside the timed region.
    df = spark.read.parquet(args.input).repartition(args.cpus * 2).cache()
    n_rows = df.count()
    raw_bytes = df.agg(
        sum((F.sum(F.octet_length(c)) for c in df.columns), F.lit(0))
    ).collect()[0][0]

    # fixed work definition independent of the parallelism level: the unit
    # count and chunk size describe the *data*, not the machine — exactly as
    # on a real cluster where the layout is fixed and executors scale.
    # 256 work units keeps units-per-core >= 8 at the highest level, which
    # smooths hash-collision skew across reducers (same rule of thumb as
    # sizing spark.sql.shuffle.partitions on a real cluster).
    chunk_rows = max(4096, n_rows // 256)
    kw = dict(
        partition_cols=["repo", "lang"],
        sort_cols=["commit", "path"],
        chunk_rows=chunk_rows,
        n_buckets=128,
        n_salts=2,
        # 8 tasks per slot: the 256 (bucket,salt) units hash unevenly into
        # partitions (Poisson), so a finer task grain lets the scheduler
        # absorb the tail — worth it here where units are plentiful
        num_partitions=args.cpus * 8,
    )

    # warm-up (python workers, JIT, page cache). ADAPTIVE and FULL-SIZE:
    # a small warm-up does not compile the full path (different batch
    # shapes), and convergence takes several full runs (measured decay
    # 29.7 -> 12.4 -> 5.7 -> 4.4 -> 2.7s on the 1M corpus at local[32]).
    # The bias is not level-neutral: a long local[2] round finishes JIT
    # inside its first timed round while a short local[8] round is still
    # decaying in round 3 — understating exactly the high-parallelism
    # side the efficiency ratio divides by. Warm until the improvement
    # over the previous full run falls under 20% (max 5 runs).
    prev = None
    for _ in range(5):
        t0 = time.time()
        pes.encode(df, **kw).count()
        dt = time.time() - t0
        if prev is not None and dt > prev * 0.8:
            break
        prev = dt

    best = None
    encoded = None
    for _ in range(args.rounds):
        t0 = time.time()
        chunks = pes.encode(df, **kw)
        encoded = chunks.agg(F.sum("encoded_bytes")).collect()[0][0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)

    print(
        json.dumps(
            {
                "cpus": args.cpus,
                "seconds": round(best, 3),
                "raw_bytes": int(raw_bytes),
                "gbps": round(raw_bytes / 1e9 / best, 4),
                "encoded_bytes": int(encoded),
                "n_rows": n_rows,
                "master": spark.sparkContext.master,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
