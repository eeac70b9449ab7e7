"""Python-worker daemon for the sessions :func:`session.get_spark` builds.

This is PySpark's own daemon (``pyspark.daemon.manager``) with one change
to the set-up every task runs. Stock ``worker_util.setup_spark_files``
ends each task with ``importlib.invalidate_caches()``, which on CPython
3.11 makes every cached zip importer re-read its archive directory (the
cost is in the ``session`` module notes). Here the full invalidation runs
only when the task added an entry to ``sys.path``, i.e. a new
``addPyFile`` archive. A ``.py`` file added with ``addPyFile`` is copied
into the Spark files directory, which is already on the path, so only
that directory's finder drops its cached listing.

The JVM starts it as ``python -m billing_data_loader_spark.worker_daemon``
(``spark.python.daemon.module``).
"""

from __future__ import annotations

import importlib
import os
import sys

from pyspark import daemon, worker
from pyspark.serializers import read_int
from pyspark.util import is_remote_only
from pyspark.worker_util import add_path, utf8_deserializer


def setup_spark_files(infile) -> None:
    """``pyspark.worker_util.setup_spark_files`` (PySpark 4.1), with the
    import-cache invalidation scoped to what this task changed."""
    spark_files_dir = utf8_deserializer.loads(infile)
    if not is_remote_only():
        from pyspark.core.files import SparkFiles

        SparkFiles._root_directory = spark_files_dir
        SparkFiles._is_running_on_worker = True

    n_path = len(sys.path)
    add_path(spark_files_dir)
    for _ in range(read_int(infile)):
        add_path(os.path.join(spark_files_dir, utf8_deserializer.loads(infile)))
    if len(sys.path) != n_path:
        importlib.invalidate_caches()
    else:
        finder = sys.path_importer_cache.get(spark_files_dir)
        if finder is not None:
            finder.invalidate_caches()


def main() -> None:
    worker.setup_spark_files = setup_spark_files
    daemon.manager()


if __name__ == "__main__":
    # run under the package name, so the patched function's __module__
    # names this module rather than "__main__"
    from billing_data_loader_spark.worker_daemon import main as _main

    _main()
