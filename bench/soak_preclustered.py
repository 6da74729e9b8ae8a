"""Exchange-free-lane soak at bench scale (robustness evidence for
``assume_clustered=True``).

Generates a SOAK_ROWS-row corpus (default 8M rows, ~14 GB raw; the
committed BENCH/soak_preclustered_r5.json ran SOAK_ROWS=2000000), writes
it HIVE-PARTITIONED by repo — the Iceberg-table layout the lane exists
for — then runs the durable pipeline through the zero-shuffle lane:
encode_to with assume_clustered -> read_chunks -> decode -> multiset
sha256 verify. Also re-runs encode_to to prove unit-granular resume
composes (every row skipped). Prints one JSON line, cleans up.
"""

import json, os, shutil, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from parquet_extra_spark.session import build_spark
spark = build_spark("soak_preclustered", cpus=32, shuffle_partitions=64)
import parquet_extra_spark as pes
from parquet_extra_spark.sources import code_corpus

N = int(os.environ.get("SOAK_ROWS", "8000000"))
src = "/tmp/soak_ac_src"
t0=time.time()
# hive partitioning by repo alone keeps directory count sane (repo
# implies lang-heavy grouping in the synthetic corpus; what matters is
# that each file split holds few clustering-key groups)
code_corpus(spark, n_rows=N).write.mode("overwrite").partitionBy("repo").parquet(src)
gen_s = time.time()-t0
cols = ["repo","path","commit","lang","content"]
df = spark.read.parquet(src).select(*cols)
raw = df.agg(sum((F.sum(F.octet_length(c)) for c in df.columns), F.lit(0))).collect()[0][0]

out = "/tmp/soak_ac_out"
shutil.rmtree(out, ignore_errors=True)
t0=time.time()
r = pes.encode_to(df, out, partition_cols=["repo","lang"], sort_cols=["commit","path"],
                  chunk_rows=32768, n_buckets=64, n_salts=8, assume_clustered=True)
enc_s = time.time()-t0
# resume replay: every unit committed -> zero re-encode
r2 = pes.encode_to(df, out, partition_cols=["repo","lang"], sort_cols=["commit","path"],
                   chunk_rows=32768, n_buckets=64, n_salts=8, assume_clustered=True)
t0=time.time()
ok = pes.roundtrip_ok(df, pes.decode_checkpoint(spark, out))
ver_s = time.time()-t0
print(json.dumps({"rows": N, "raw_gb": round(raw/1e9,2), "gen_s": round(gen_s,1),
  "units": r["units_total"], "encode_s": round(enc_s,1),
  "encode_gbps": round(raw/1e9/enc_s,3), "encoded_gb": round(r["encoded_bytes"]/1e9,3),
  "ratio": round(r["encoded_bytes"]/raw,4),
  "resume_rows_skipped": r2["rows_skipped_resume"], "resume_exact": r2["rows_skipped_resume"] == N,
  "verify_s": round(ver_s,1), "roundtrip_ok": ok}))
spark.stop()
shutil.rmtree(out, ignore_errors=True)
shutil.rmtree(src, ignore_errors=True)
