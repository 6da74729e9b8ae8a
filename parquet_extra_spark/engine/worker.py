"""Per-task hygiene for every Python kernel the package hands to Spark.

Every Python task starts with PySpark's ``worker_util.setup_spark_files``
calling ``importlib.invalidate_caches()``. That walks
``sys.path_importer_cache`` and invalidates each finder in it. On
CPython 3.11, ``zipimporter.invalidate_caches`` re-reads the whole
directory of its archive from disk. A worker that has imported PySpark
from ``pyspark.zip`` (3.5 MB, 1,328 entries) holds one zipimporter per
imported subpackage, 16 of them after a ``mapInArrow``, so each task
re-parses that directory 16 times before its first batch arrives:
0.16-0.31 s per task on a 4-core host, the whole Python time of a trivial
``mapInArrow`` task.

``kernel``/``task`` drop those zipimporters from the cache before the
wrapped function runs, so the next task on the reused worker has nothing
to re-read. Imports behave the same: the next import from the archive
re-creates its importer from ``zipimport._zip_directory_cache``, not from
the file. The first task of a newly forked worker still pays the re-read
once, for the importers it inherits from the daemon.

Only the archives Spark itself put on the worker path are trimmed: the
ones ``pyspark`` and ``py4j`` were imported from. A zip shipped with
``addPyFile``/``addArtifact`` keeps its importer, so a replaced archive is
still re-read and imports its current contents.
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport

_SPARK_PACKAGES = ("pyspark", "py4j")


def _spark_archives() -> set[str]:
    """The zip archives this process imported PySpark and py4j from
    (empty when they came from plain directories)."""
    out = set()
    for name in _SPARK_PACKAGES:
        spec = getattr(sys.modules.get(name), "__spec__", None)
        loader = getattr(spec, "loader", None)
        if isinstance(loader, zipimport.zipimporter):
            out.add(loader.archive)
    return out


def trim_importer_cache() -> None:
    """Drop the zipimporters over Spark's own archives from
    ``sys.path_importer_cache``."""
    archives = _spark_archives()
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in archives:
            sys.path_importer_cache.pop(path, None)


def _keep_signature(wrapper, fn):
    functools.update_wrapper(wrapper, fn)
    # PySpark reads a grouped-map function's arity with getfullargspec,
    # which honours __signature__ but not __wrapped__
    wrapper.__signature__ = inspect.signature(fn)
    return wrapper


def kernel(fn):
    """Wrap a function that returns an iterator (``mapInArrow``,
    ``mapInPandas``, ``applyInPandasWithState``, a data source ``read``):
    trim, then ``yield from`` it, so ``close()`` and ``GeneratorExit``
    still reach the inner generator."""

    def run(*args, **kwargs):
        trim_importer_cache()
        yield from fn(*args, **kwargs)

    return _keep_signature(run, fn)


def task(fn):
    """Wrap a function that returns a value (``applyInPandas``, a data
    source ``write``): trim, then call it."""

    def run(*args, **kwargs):
        trim_importer_cache()
        return fn(*args, **kwargs)

    return _keep_signature(run, fn)
