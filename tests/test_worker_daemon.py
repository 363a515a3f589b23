"""The package's Python worker daemon (``sparkdaemon``) and the rule in
``session.get_spark`` that selects it.

Behaviour, not timing: a reused worker keeps the directory of an archive
already on ``sys.path`` across tasks, a zip added mid-session still
imports, and the session keeps the stock daemon wherever it cannot show
the workers will import the package.
"""

from __future__ import annotations

import os
import zipfile

from delphi_pdf_parser_spark.session import (
    DAEMON_MODULE,
    PACKAGE_ROOT,
    workers_import_package,
)


def test_worker_keeps_pyspark_zip_directory_across_tasks(spark):
    """Each task holds on to the pyspark.zip directory it finds in
    ``zipimport._zip_directory_cache``; a later task on the same worker
    must find that very object, i.e. the directory was not re-read."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

    def probe(_):
        import zipimport

        (path,) = [
            p for p in zipimport._zip_directory_cache
            if os.path.basename(p) == "pyspark.zip"
        ]
        current = zipimport._zip_directory_cache[path]
        held = zipimport.__dict__.setdefault("_held_by_test", {})
        return os.getpid(), held.setdefault(path, current) is current

    runs = [sc.parallelize([0], 1).map(probe).collect()[0] for _ in range(8)]
    pids = [pid for pid, _ in runs]
    assert max(pids.count(p) for p in pids) >= 2, runs  # some worker was reused
    assert all(same for _, same in runs), runs


def test_zip_added_mid_session_imports_in_next_task(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize([0], 1).map(lambda x: x).collect()  # workers already up
    path = tmp_path / "daemon_probe_pkg.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("daemon_probe_mod.py", "VALUE = 41\n")
    sc.addPyFile(str(path))

    def use(x):
        import daemon_probe_mod

        return daemon_probe_mod.VALUE + x

    assert sc.parallelize([1], 1).map(use).collect() == [42]


def test_daemon_gate(tmp_path):
    elsewhere = str(tmp_path)
    assert workers_import_package("local[4]", PACKAGE_ROOT, "")
    assert workers_import_package("local", elsewhere, os.pathsep.join(["/x", PACKAGE_ROOT]))
    # a relative PYTHONPATH entry resolves against the workers' cwd
    assert workers_import_package(
        "local[*]", elsewhere, os.path.relpath(PACKAGE_ROOT, elsewhere)
    )
    # the cwd is elsewhere and PYTHONPATH lacks the package root
    assert not workers_import_package("local[4]", elsewhere, "")
    assert not workers_import_package("local[4]", elsewhere, os.pathsep.join(["/x", "", "y"]))
    # not local: executors have their own cwd and environment
    for master in ("yarn", "spark://h:7077", "k8s://https://h", "local-cluster[2,1,1024]"):
        assert not workers_import_package(master, PACKAGE_ROOT, PACKAGE_ROOT)
