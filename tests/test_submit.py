"""Deployment contract: `spark-submit --py-files <engine.zip>` runs the
encode job end-to-end (north_rule: "run via spark-submit --py-files on
multi-executor clusters").

bench/submit.sh packages parquet_extra_spark into a zip and submits
bench/encode_job.py against the given master. This test drives the real
script (subprocess spark-submit, its own JVM) on a tiny deterministic
corpus at local[2] and checks the job's one-line JSON contract, including
that the job ran on the launcher's master. The zip,
not the repo checkout, must be sufficient for the executors — the engine
is pure Python over numpy/pyarrow, so the zip is the whole artifact.
"""

import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    shutil.which("spark-submit") is None or shutil.which("zip") is None,
    reason="spark-submit/zip not on PATH",
)
def test_spark_submit_py_files_encode_job(spark, tmp_path):
    from parquet_extra_spark.sources.corpus import code_corpus

    inp = str(tmp_path / "corpus.parquet")
    code_corpus(spark, n_rows=5000).write.mode("overwrite").parquet(inp)

    env = dict(os.environ)
    # CPUS differs from the master's core count: the launcher's --master
    # must win over the job's local[cpus] fallback (a master set in code
    # would silently override spark-submit's flag)
    env.update({"MASTER": "local[2]", "CPUS": "3", "SPARK_GRAFT_MEM": "4g"})
    proc = subprocess.run(
        [os.path.join(REPO, "bench", "submit.sh"), "--input", inp, "--rounds", "1"],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # the job prints exactly one JSON summary line on stdout
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert len(lines) == 1, proc.stdout[-2000:]
    out = json.loads(lines[0])
    assert out["cpus"] == 3
    assert out["master"] == "local[2]"
    assert out["n_rows"] == 5000
    assert out["raw_bytes"] > 0
    assert 0 < out["encoded_bytes"] < out["raw_bytes"]
    assert out["seconds"] > 0 and out["gbps"] > 0
