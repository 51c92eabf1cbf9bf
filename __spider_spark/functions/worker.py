"""The package's ``pandas_udf``: each Arrow UDF drops the worker's zip finders.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.py:setup_spark_files``), and
each ``zipimporter`` cached in ``sys.path_importer_cache`` then re-reads
its whole archive directory. On PySpark 4.1.2 a UDF worker holds 16 of
them: one per imported pyspark subpackage inside ``pyspark.zip`` (1,328
entries), two on the spark-core jar Spark puts on every worker's path
(5,359 entries) and two on the py4j zip, 26,672 directory entries in all.
That is about 0.17 s of CPU per task before its first batch, and on a
small stage it is most of the stage: an identity ``pandas_udf`` over
2,500 rows in 4 tasks took 0.33-0.44 s against 0.07 s for a JVM ``upper``
(4 vCPU, ``local[4]``), and fell to 0.14-0.20 s with the finders dropped.

:func:`pandas_udf` here is pyspark's, over a body that calls
:func:`drop_zip_finders` before each batch. A reused worker
(``spark.python.worker.reuse``, Spark's default) keeps the pruned cache,
so the next task's invalidation has nothing to re-read. Dropping a cache
entry unloads no module; a later import rebuilds the finder it needs.
With worker reuse off, every task forks from the daemon's unpruned cache
and pays the re-read again.

Every Arrow UDF in the package is made with this decorator, and a group
function that is not (the sketch build in ``operators/seen.py``) calls
:func:`drop_zip_finders` itself; ``tests/test_session.py`` fails on a
package module that imports pyspark's ``pandas_udf`` or ``udf``.
"""

from __future__ import annotations

import functools
import sys
import zipimport

from pyspark.sql.functions import pandas_udf as _pyspark_pandas_udf


def drop_zip_finders() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items()
                 if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def pandas_udf(return_type):
    """``@pandas_udf(return_type)`` as pyspark's, with the body wrapped to
    call :func:`drop_zip_finders` first. ``functools.wraps`` keeps the
    body's name and type hints, so Spark infers the same eval type and
    names the same UDF in its plans."""
    def decorate(fn):
        @functools.wraps(fn)
        def body(*cols):
            drop_zip_finders()
            return fn(*cols)
        return _pyspark_pandas_udf(body, return_type)
    return decorate
