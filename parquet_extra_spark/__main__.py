"""Command-line entry point: drive the engine without writing code.

    python -m parquet_extra_spark encode  --input DIR --out DIR \
        [--partition-cols a,b] [--sort-cols c,d] [--dataset-id ID] ...
    python -m parquet_extra_spark decode  --enc DIR --out DIR \
        [--columns a,b] [--as-of T] [--after T]
    python -m parquet_extra_spark verify  --input DIR --enc DIR
    python -m parquet_extra_spark metrics --enc DIR
    python -m parquet_extra_spark vacuum  --enc DIR [--retain-seconds S] [--dry-run]
    python -m parquet_extra_spark profile --input DIR [--columns a,b]
    python -m parquet_extra_spark agg     --enc DIR --keys a,b \
        --aggs count:*:n,sum:x:total [--as-of T]   # no row decode
    python -m parquet_extra_spark refresh --enc DIR --state DIR \
        --keys a --aggs count:*:n,avg:x:m [--show]  # continuous aggregate

Each command prints ONE JSON line (machine-consumable, same contract as
bench.py). This module is also the natural spark-submit target:
`spark-submit --py-files pkg.zip cli.py ...` with cli.py importing
parquet_extra_spark.__main__:main (see bench/submit.sh). The session
comes from parquet_extra_spark.session: an explicit --master wins, else
spark-submit's --master, else local[*].

Checkpoint-layout directories (encode_to output) are detected by their
manifest; `decode`'s as-of/after expose the snapshot / incremental reads.
"""

from __future__ import annotations

import argparse
import json
import sys


def _cols(s: str | None) -> list[str] | None:
    return [c for c in s.split(",") if c] if s else None


def _agg_specs(s: str) -> list[tuple[str, str, str]]:
    specs = []
    for spec in s.split(","):
        parts = spec.split(":")
        if len(parts) != 3:
            raise SystemExit(f"bad agg spec {spec!r}: want fn:col:alias")
        specs.append((parts[0], parts[1], parts[2]))
    return specs


def _add_common(p: argparse.ArgumentParser) -> None:
    # no default: under spark-submit the launcher's --master applies, and
    # a plain `python -m` run falls back to local[*] (session.build_spark)
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=32)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="parquet_extra_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode", help="encode a parquet dir into a checkpointed chunk table")
    enc.add_argument("--input", required=True)
    enc.add_argument("--out", required=True)
    enc.add_argument("--partition-cols", default=None)
    enc.add_argument("--sort-cols", default=None)
    enc.add_argument("--dataset-id", default="")
    enc.add_argument("--chunk-rows", type=int, default=65536)
    enc.add_argument("--n-buckets", type=int, default=64)
    enc.add_argument("--n-salts", type=int, default=0,
                     help="0 = size from the skew plan (encode_plan)")
    enc.add_argument("--bloom-cols", default=None)
    enc.add_argument("--unit-sort", action="store_true")
    enc.add_argument(
        "--assume-clustered", action="store_true",
        help="zero-shuffle lane: the input layout already groups the"
        " partition cols (e.g. an Iceberg table partitioned by them)",
    )
    _add_common(enc)

    dec = sub.add_parser("decode", help="decode a chunk table back to parquet")
    dec.add_argument("--enc", required=True)
    dec.add_argument("--out", required=True)
    dec.add_argument("--columns", default=None)
    dec.add_argument("--as-of", type=float, default=None)
    dec.add_argument("--after", type=float, default=None)
    _add_common(dec)

    ver = sub.add_parser("verify", help="sha256-multiset round-trip check")
    ver.add_argument("--input", required=True)
    ver.add_argument("--enc", required=True)
    _add_common(ver)

    met = sub.add_parser("metrics", help="per-partition codec/size metrics")
    met.add_argument("--enc", required=True)
    _add_common(met)

    vac = sub.add_parser("vacuum", help="reclaim orphan chunk data from crashed runs")
    vac.add_argument("--enc", required=True)
    vac.add_argument("--retain-seconds", type=float, default=86400.0)
    vac.add_argument("--dry-run", action="store_true")
    _add_common(vac)

    pro = sub.add_parser("profile", help="schema-inference scan (column_profile)")
    pro.add_argument("--input", required=True)
    pro.add_argument("--columns", default=None)
    _add_common(pro)

    agg = sub.add_parser(
        "agg",
        help="multi-aggregate GROUP BY over an encoded checkpoint "
        "WITHOUT decoding rows (compute-over-compressed)",
    )
    agg.add_argument("--enc", required=True)
    agg.add_argument("--keys", required=True, help="comma-separated key columns")
    agg.add_argument(
        "--aggs",
        required=True,
        help="comma-separated fn:col:alias specs, e.g. "
        "'count:*:n,sum:n_chars:total,min:doc_id:lo'",
    )
    agg.add_argument("--as-of", type=float, default=None, dest="as_of")
    _add_common(agg)

    ref = sub.add_parser(
        "refresh",
        help="incrementally refresh a continuous aggregate (materialized "
        "GROUP BY) over a checkpoint — consumes only new manifest runs",
    )
    ref.add_argument("--enc", required=True)
    ref.add_argument("--state", required=True)
    ref.add_argument("--keys", required=True)
    ref.add_argument("--aggs", required=True,
                     help="fn:col:alias list; fn in count/sum/min/max/avg")
    ref.add_argument("--show", action="store_true",
                     help="also print the current aggregate rows")
    _add_common(ref)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    import parquet_extra_spark as pes
    from parquet_extra_spark.session import build_spark

    spark = build_spark(
        "parquet_extra_spark_cli", master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    out: dict

    if args.cmd == "encode":
        df = spark.read.parquet(args.input)
        pcols = _cols(args.partition_cols) or []
        n_salts = args.n_salts
        plan = None
        if n_salts <= 0:
            plan = pes.encode_plan(df, pcols, n_buckets=args.n_buckets) if pcols else {"n_salts": 4}
            n_salts = plan["n_salts"]
        summary = pes.encode_to(
            df,
            args.out,
            dataset_id=args.dataset_id,
            partition_cols=pcols or None,
            sort_cols=_cols(args.sort_cols),
            chunk_rows=args.chunk_rows,
            n_buckets=args.n_buckets,
            n_salts=n_salts,
            bloom_cols=_cols(args.bloom_cols),
            unit_sort=args.unit_sort,
            assume_clustered=args.assume_clustered,
        )
        out = {"cmd": "encode", **summary, "n_salts": n_salts}
        if plan:
            out["plan"] = plan
    elif args.cmd == "decode":
        dec = pes.decode_checkpoint(
            spark, args.enc, columns=_cols(args.columns),
            as_of=args.as_of, after=args.after,
        )
        dec.write.mode("overwrite").parquet(args.out)
        out = {"cmd": "decode", "rows": spark.read.parquet(args.out).count(),
               "out": args.out}
    elif args.cmd == "verify":
        src = spark.read.parquet(args.input)
        dec = pes.decode_checkpoint(spark, args.enc)
        ok = pes.roundtrip_ok(src, dec)
        out = {"cmd": "verify", "roundtrip_ok": bool(ok)}
    elif args.cmd == "metrics":
        rows = pes.metrics(spark, args.enc).collect()
        out = {"cmd": "metrics", "rows": [r.asDict() for r in rows]}
    elif args.cmd == "vacuum":
        out = {
            "cmd": "vacuum",
            **pes.vacuum_checkpoint(
                spark, args.enc, retain_seconds=args.retain_seconds,
                dry_run=args.dry_run,
            ),
        }
    elif args.cmd == "agg":
        chunks = pes.read_chunks(spark, args.enc, as_of=args.as_of)
        specs = _agg_specs(args.aggs)
        rows = pes.group_agg_encoded(
            chunks, _cols(args.keys), specs, colocated=False
        ).collect()
        out = {"cmd": "agg", "rows": [r.asDict() for r in rows]}
    elif args.cmd == "refresh":
        specs = _agg_specs(args.aggs)
        ca = pes.ContinuousAggregate(args.enc, args.state,
                                     _cols(args.keys), specs)
        out = {"cmd": "refresh", **ca.refresh(spark)}
        if args.show:
            out["rows"] = [r.asDict() for r in ca.result(spark).collect()]
    elif args.cmd == "profile":
        df = spark.read.parquet(args.input)
        rows = pes.column_profile(df, _cols(args.columns)).collect()
        out = {"cmd": "profile", "rows": [r.asDict() for r in rows]}
    else:  # pragma: no cover
        raise SystemExit(2)

    print(json.dumps(out, default=str))
    return 0 if out.get("roundtrip_ok", True) else 1


if __name__ == "__main__":
    sys.exit(main())
