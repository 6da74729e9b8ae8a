"""The worker-hygiene wrapper: every Python kernel the package hands to
Spark goes through ``engine.worker``, the wrapped kernel's output and
close semantics are unchanged, only Spark's own archives lose their
cached zipimporters, and a reused worker's next task finds none to
re-read."""

import ast
import importlib
import inspect
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from parquet_extra_spark.engine import worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "parquet_extra_spark")
KERNEL_APIS = {"mapInArrow", "mapInPandas", "applyInPandas", "applyInPandasWithState"}
WRAPPERS = {"kernel", "task"}
SOURCE_BASES = {
    "DataSourceReader", "DataSourceStreamReader",
    "DataSourceArrowWriter", "DataSourceStreamArrowWriter",
}


def _name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _is_wrapped(node) -> bool:
    return isinstance(node, ast.Call) and _name(node.func) in WRAPPERS


def _package_trees():
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, REPO), ast.parse(f.read())


def test_every_kernel_goes_through_the_wrapper():
    calls, unwrapped = [], []
    methods, undecorated = [], []
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _name(node.func) in KERNEL_APIS:
                calls.append(rel)
                fn = node.args[0] if node.args else next(
                    (k.value for k in node.keywords if k.arg == "func"), None
                )
                if not _is_wrapped(fn):
                    unwrapped.append(f"{rel}:{node.lineno}")
            if isinstance(node, ast.ClassDef) and SOURCE_BASES & {
                _name(b) for b in node.bases
            }:
                for item in node.body:
                    if isinstance(item, ast.FunctionDef) and item.name in (
                        "read", "write"
                    ):
                        methods.append(f"{node.name}.{item.name}")
                        if not {_name(d) for d in item.decorator_list} & WRAPPERS:
                            undecorated.append(f"{rel}:{item.lineno}")
    assert unwrapped == [], unwrapped
    assert undecorated == [], undecorated
    # the scan found the sites it pins: encoder, decoder, three
    # encoded_agg, four pandas operators, three streaming states
    assert len(calls) >= 12, calls
    assert sorted(methods) == [
        "ChunkTableArrowWriter.write", "ChunkTableReader.read",
        "ChunkTableStreamArrowWriter.write", "ChunkTableStreamReader.read",
    ]


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, textwrap.dedent(text))


def _zip_importers(archive: str) -> list[str]:
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


@pytest.fixture
def zip_packages(tmp_path, monkeypatch):
    """A 'spark' archive (treated as Spark's own) and a 'user' archive
    (as shipped by addPyFile), both on sys.path."""
    spark_zip = str(tmp_path / "sparkish.zip")
    user_zip = str(tmp_path / "userlib.zip")
    _write_zip(spark_zip, {
        "sparkish/__init__.py": "",
        "sparkish/sub/__init__.py": "",
        "sparkish/sub/a.py": "A = 1\n",
        "sparkish/sub/b.py": "B = 2\n",
    })
    _write_zip(user_zip, {"userlib/__init__.py": "", "userlib/v.py": "V = 1\n"})
    monkeypatch.setattr(sys, "path", [spark_zip, user_zip] + sys.path)
    monkeypatch.setattr(worker, "_SPARK_PACKAGES", ("sparkish",))
    yield spark_zip, user_zip
    for mod in [m for m in sys.modules if m.split(".")[0] in ("sparkish", "userlib")]:
        del sys.modules[mod]
    for p in _zip_importers(spark_zip) + _zip_importers(user_zip):
        del sys.path_importer_cache[p]


def test_kernel_trims_only_spark_archives(zip_packages):
    spark_zip, user_zip = zip_packages
    importlib.import_module("sparkish.sub.a")
    importlib.import_module("userlib.v")
    assert len(_zip_importers(spark_zip)) >= 2  # the root and sparkish/sub
    assert _zip_importers(user_zip)

    def double(batches):
        for b in batches:
            yield b * 2

    assert list(worker.kernel(double)(iter([1, 2, 3]))) == [2, 4, 6]
    assert _zip_importers(spark_zip) == []
    assert _zip_importers(user_zip)  # an addPyFile zip keeps its importer
    # a second module from the trimmed archive still imports
    assert importlib.import_module("sparkish.sub.b").B == 2


def test_replaced_user_archive_imports_its_current_contents(zip_packages):
    _, user_zip = zip_packages
    assert importlib.import_module("userlib.v").V == 1
    worker.trim_importer_cache()
    # addPyFile replaces the archive; the next task's invalidate_caches
    # must re-read it, which needs its importer still in the cache
    _write_zip(user_zip, {
        "userlib/__init__.py": "", "userlib/v.py": "V = 'replaced, longer'\n",
    })
    importlib.invalidate_caches()
    del sys.modules["userlib.v"]
    assert importlib.import_module("userlib.v").V == "replaced, longer"


def test_kernel_close_reaches_inner_generator():
    closed = []

    def inner(batches):
        try:
            for b in batches:
                yield b
        finally:
            closed.append(True)

    gen = worker.kernel(inner)(iter(range(10)))
    assert next(gen) == 0
    gen.close()
    assert closed == [True]


def test_wrappers_keep_the_arity_pyspark_reads():
    def one(pdf):
        return pdf

    def two(key, pdf):
        return pdf

    assert inspect.getfullargspec(worker.task(one)).args == ["pdf"]
    assert inspect.getfullargspec(worker.task(two)).args == ["key", "pdf"]
    assert worker.task(one)(5) == 5


_REUSE_SCRIPT = r"""
import sys
import pyarrow as pa
from pyspark.sql import SparkSession
from parquet_extra_spark.engine.worker import kernel

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.python.worker.reuse", "true")
    .getOrCreate()
)

def probe(batches):
    import os, sys, zipimport
    from parquet_extra_spark.engine.worker import _spark_archives
    archives = _spark_archives()
    n = sum(
        isinstance(f, zipimport.zipimporter) and f.archive in archives
        for f in list(sys.path_importer_cache.values())
    )
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "zips": [n], "archives": [len(archives)]}
    )

df = spark.range(0, 1, 1, 1)
out = []
for fn in (probe, kernel(probe), probe):
    row = df.mapInArrow(fn, "pid long, zips long, archives long").collect()[0]
    out.append((row.pid, row.zips, row.archives))
spark.stop()
print("RESULT", out)
"""


def test_reused_worker_finds_no_spark_zipimporter(tmp_path):
    """On local[1] the three one-task jobs share one Python worker: the
    first (unwrapped) task holds zipimporters over Spark's archives, a
    wrapped task drops them, and the next task starts with none."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    ))
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(
        [sys.executable, "-c", _REUSE_SCRIPT], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT")]
    assert line, proc.stderr[-3000:]
    (pid0, before, archives), (pid1, _, _), (pid2, after, _) = ast.literal_eval(
        line[0][len("RESULT "):]
    )
    if archives == 0:
        pytest.skip("workers import PySpark from a directory, not a zip")
    assert pid0 == pid1 == pid2  # one reused worker
    assert before > 0
    assert after == 0
