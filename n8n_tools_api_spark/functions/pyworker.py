"""The one worker-side wrapper every engine Python UDF body goes through.

PySpark starts every task in a reused Python worker with
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. That walks ``sys.path_importer_cache``
and calls ``invalidate_caches`` on every cached finder. The worker's
``sys.path`` carries ``pyspark.zip``, the py4j zip and the spark-core jar,
so once pyspark is imported from the zip the cache holds one
``zipimport.zipimporter`` per imported package directory inside those
archives (14-16 of them for a pyspark.sql UDF). On CPython 3.11 and
3.12.1 ``zipimporter.invalidate_caches`` re-reads its archive's whole
central directory in pure Python. On a 4-core Xeon VM one
``invalidate_caches()`` call with 14 such finders costs 0.06 cpu-s, and
a 64-task identity ``mapInArrow`` on local[4] spends about 0.21 cpu-s of
worker CPU between tasks against 0.0003 cpu-s in the UDF body. An
extraction pass runs 10-12 Python tasks.

:func:`udf_body` drops every ``zipimporter`` from
``sys.path_importer_cache`` when the body finishes — in a ``finally``,
so an early close and a failed task are covered too. The next task's
``invalidate_caches()`` then finds nothing to re-read. Dropping the
finders is safe: an import miss rebuilds the finder from zipimport's
``_zip_directory_cache`` without reading the archive, a new
``--py-files`` path still gets a fresh finder, and steady-state tasks
hit ``sys.modules`` and never consult a finder at all. Measured on the
same probe: 0.21 -> 0.04 cpu-s of worker CPU between tasks.

CPython 3.13 made ``zipimporter.invalidate_caches`` lazy; this module can
go once the worker runtime is CPython >= 3.13.
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport
from collections.abc import Callable


def _drop_zip_finders() -> None:
    """Remove every ``zipimporter`` from ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def udf_body(body: Callable) -> Callable:
    """Wrap a ``mapInPandas``/``applyInPandas`` body so the worker's zip
    finders are dropped when it finishes (module docstring).

    A generator body (batch iterator) is wrapped as a generator; a
    per-group function as a plain call. The wrapper keeps ``body``'s
    signature: ``applyInPandas`` reads the argument count to decide
    whether the grouping key is passed.
    """
    if inspect.isgeneratorfunction(body):
        @functools.wraps(body)
        def run(*args, **kwargs):
            try:
                yield from body(*args, **kwargs)
            finally:
                _drop_zip_finders()
    else:
        @functools.wraps(body)
        def run(*args, **kwargs):
            try:
                return body(*args, **kwargs)
            finally:
                _drop_zip_finders()
    run.__signature__ = inspect.signature(body)
    return run
