"""PySpark daemon whose workers keep loaded zip directories across tasks.

Spark runs ``python -m delphi_pdf_parser_spark.sparkdaemon`` in place of
``pyspark.daemon`` when ``spark.python.daemon.module`` names this module;
``session.get_spark`` sets that conf when the workers can import the
package. The module patches one method and hands control to
``pyspark.daemon.manager()``, and the worker processes it forks inherit
the patch.

Why: at the start of every task PySpark's worker runs
``setup_spark_files``, which ends in ``importlib.invalidate_caches()``.
On Python 3.11 that makes every ``zipimporter`` re-read its archive's
central directory, so a reused worker re-reads ``pyspark.zip``, the py4j
zip and the spark-core jar (5,359 entries) on every task. That is most
of the fixed cost a Python task pays over the same JVM-only task.

Invariant: archives already on ``sys.path`` do not change while a worker
lives. They ship with the Spark installation and are on the path before
the daemon starts. A zip added with ``SparkContext.addPyFile`` is a new
``sys.path`` entry, so it gets a new importer, which reads its directory
in ``__init__``. An archive whose directory is not loaded (its last read
failed) is still re-read.
"""

from __future__ import annotations

import zipimport


def keep_loaded_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only archives whose
    directory is not in ``zipimport._zip_directory_cache``."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in zipimport._zip_directory_cache:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    keep_loaded_zip_directories()

    from pyspark.daemon import manager

    manager()
