"""Checkpointed-pipeline soak at 8x bench scale (robustness evidence).

Generates an 8M-row (~14 GB raw) corpus, runs the FULL durable pipeline
(recommend_salts -> encode_to with manifest commit -> read_chunks ->
decode -> multiset sha256 verify), prints one JSON line, cleans up.

Measured 2026-08-17 round 2 (local[32], includes writing + re-reading
the chunk table on disk; decode via decode_checkpoint with the
metadata-only co-location check): {"rows": 8000000, "raw_gb": 14.24,
"salts": 16, "units": 1024, "encode_s": 70.4, "encode_gbps": 0.202,
"encoded_gb": 1.129, "ratio": 0.0793, "verify_s": 29.1,
"colocated_read": true, "roundtrip_ok": true}  (salts rose 8->16: the
per-(bucket,salt)-unit share bound replaced the per-key bound)
"""

import json, os, shutil, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from parquet_extra_spark.session import build_spark
spark = build_spark("soak", cpus=32, shuffle_partitions=64)
import parquet_extra_spark as pes
from parquet_extra_spark.sources import code_corpus

N = 8_000_000
t0=time.time()
code_corpus(spark, n_rows=N).write.mode("overwrite").parquet("/tmp/soak_corpus.parquet")
gen_s = time.time()-t0
df = spark.read.parquet("/tmp/soak_corpus.parquet")
raw = df.agg(sum((F.sum(F.octet_length(c)) for c in df.columns), F.lit(0))).collect()[0][0]

out = "/tmp/soak_out"
shutil.rmtree(out, ignore_errors=True)
salts = pes.recommend_salts(df, ["repo","lang"], n_buckets=64)
t0=time.time()
r = pes.encode_to(df, out, partition_cols=["repo","lang"], sort_cols=["commit","path"],
                  chunk_rows=32768, n_buckets=64, n_salts=salts)
enc_s = time.time()-t0
# decode_checkpoint: metadata-only co-location check picks the
# no-shuffle decode when the file layout preserved chunk contiguity
t0=time.time()
from parquet_extra_spark.engine.decoder import check_colocated
colo = check_colocated(pes.read_chunks(spark, out))
ok = pes.roundtrip_ok(df, pes.decode_checkpoint(spark, out, colocated=colo))
ver_s = time.time()-t0
print(json.dumps({"rows": N, "raw_gb": round(raw/1e9,2), "gen_s": round(gen_s,1),
  "salts": salts, "units": r["units_total"], "encode_s": round(enc_s,1),
  "encode_gbps": round(raw/1e9/enc_s,3), "encoded_gb": round(r["encoded_bytes"]/1e9,3),
  "ratio": round(r["encoded_bytes"]/raw,4), "verify_s": round(ver_s,1), "colocated_read": colo, "roundtrip_ok": ok}))
spark.stop()
shutil.rmtree(out, ignore_errors=True)
os.system("rm -rf /tmp/soak_corpus.parquet")
