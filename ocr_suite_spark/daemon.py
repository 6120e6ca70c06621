"""PySpark worker daemon that keeps zip importers' directory caches.

Spark's worker calls ``importlib.invalidate_caches()`` before every task
(pyspark/worker_util.py, setup_spark_files), which makes each cached
zipimporter re-read the directory of its zip — ``pyspark.zip`` and the py4j
zip, neither of which changes while a worker lives. That is ~0.3 core-s per
Python task. A zip added later with ``addPyFile`` sits on a new path, so it
gets a fresh importer and stays importable. Selected by
``spark.python.daemon.module`` in ``session.get_spark``.
"""

import zipimport


def _keep_directory_cache(self) -> None:
    pass


if __name__ == "__main__":
    from pyspark import daemon

    # set before the daemon forks, so every worker inherits it
    zipimport.zipimporter.invalidate_caches = _keep_directory_cache
    daemon.manager()
