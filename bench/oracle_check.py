"""Local replica of the driver's correctness gate: run queries() vs
oracle_sql() side-by-side on DuckDB at a given sf and compare row count,
schema (column names), and an order-insensitive value hash.

Usage: python bench/oracle_check.py [sf_dir] [query ...] [--json PATH]
--json writes a machine-readable artifact (per-query status + the
registry/oracle counts) that README's correctness line quotes verbatim,
so claim and evidence cannot drift.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v) -> str:
    """Exact, type-tagged text of one value, so two values hash alike only
    when they are the same value of the same kind: floats are their
    unrounded ``repr`` (NaN, -0.0 and ±inf stay distinct from each other
    and from 0.0), a Decimal keeps its scale (1.50 != 1.5), bool is not
    int, a date is not a timestamp, and NULL has its own tag. A Spark
    struct (Row) and a DuckDB struct (dict) both read as a name -> value
    map."""
    import datetime
    import decimal

    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"date:{v.isoformat()}"
    if isinstance(v, str):
        return f"s:{v!r}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        items = sorted(f"{_norm(k)}={_norm(x)}" for k, x in v.items())
        return "{" + ",".join(items) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return f"{type(v).__name__}:{v!r}"


def value_hash(rows: list[dict], cols: list[str]) -> str:
    cols = sorted(cols)
    lines = sorted("\x1f".join(_norm(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    import time

    json_path = None
    argv = []
    args = list(sys.argv[1:])
    i = 0
    while i < len(args):
        a = args[i]
        if a.startswith("--json="):
            json_path = a.split("=", 1)[1]
        elif a == "--json":
            if i + 1 >= len(args):
                sys.exit("--json needs a path")
            json_path = args[i + 1]
            i += 1
        elif a.startswith("--"):
            sys.exit(f"unknown option {a!r}")
        else:
            argv.append(a)
        i += 1
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from parquet_extra_spark.session import build_spark

    spark = build_spark("oracle_check", cpus=8)

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failed = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            failed.append(name)
            results[name] = {"status": "spark_error", "err": str(e)[:200]}
            continue
        if name not in oracles:
            print(f"{name}: no_oracle (spark_rows={len(srows)})")
            results[name] = {"status": "no_oracle", "spark_rows": len(srows)}
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = [dict(zip(ocols, row)) for row in cur.fetchall()]
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {e}")
            failed.append(name)
            results[name] = {"status": "oracle_error", "err": str(e)[:200]}
            continue
        rows_match = len(srows) == len(orows)
        schema_match = sorted(scols) == sorted(ocols)
        hash_match = (
            value_hash(srows, scols) == value_hash(orows, ocols)
            if rows_match and schema_match
            else False
        )
        status = "OK" if (rows_match and schema_match and hash_match) else "FAIL"
        if status == "FAIL":
            failed.append(name)
        results[name] = {
            "status": status, "rows": len(srows), "oracle_rows": len(orows),
            "schema_match": schema_match, "hash_match": hash_match,
        }
        print(
            f"{name}: {status} rows={len(srows)}/{len(orows)}"
            f" schema={schema_match} hash={hash_match}"
        )
        if status == "FAIL" and rows_match and schema_match:
            sset = {value_hash([r], scols) for r in srows}
            oset = {value_hash([r], ocols) for r in orows}
            sd = [r for r in srows if value_hash([r], scols) not in oset][:3]
            od = [r for r in orows if value_hash([r], ocols) not in sset][:3]
            print("  spark-only:", sd)
            print("  oracle-only:", od)
    spark.stop()
    if json_path:
        import json as _json

        n_reg = len(qs)
        n_oracled = sum(1 for n in qs if n in oracles)
        artifact = {
            "sf_dir": sf_dir,
            "generated_at": time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime()),
            "queries_registered": n_reg,
            "queries_oracled": n_oracled,
            "queries_no_oracle": sorted(n for n in qs if n not in oracles),
            "checked": len(results),
            "ok": sum(1 for r in results.values() if r["status"] == "OK"),
            "failed": sorted(failed),
            "results": results,
        }
        with open(json_path, "w") as fh:
            _json.dump(artifact, fh, indent=1)
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
