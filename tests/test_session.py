"""One SparkSession factory: every harness outside tests/ and the frozen
perfbench/ builds its session through parquet_extra_spark.session, so
the conf a bench measures under cannot drift between copies."""

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP_DIRS = {".git", "tests", "perfbench"}


def test_one_session_builder_outside_tests():
    hits = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in SKIP_DIRS and not d.startswith(".")]
        for name in files:
            if not name.endswith((".py", ".sh")):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as f:
                if "SparkSession.builder" in f.read():
                    hits.append(os.path.relpath(path, REPO))
    assert hits == [os.path.join("parquet_extra_spark", "session.py")], hits
