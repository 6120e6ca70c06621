"""Session factory: with SPARK_GRAFT_CPUS unset, the session factory and
bench.py size themselves from the CPUs this process may run on, never a
hard-coded count; its Python workers come from ocr_suite_spark.daemon."""

from __future__ import annotations

import importlib.util
import os
import zipfile

import pandas as pd

from ocr_suite_spark.session import default_cores

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_cores_follows_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    n = len(os.sched_getaffinity(0))
    assert default_cores() == n

    spec = importlib.util.spec_from_file_location("bench_probe", os.path.join(REPO, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert bench.CPUS == n

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "not-a-number")
    assert default_cores() == n


def test_daemon_keeps_added_py_files_importable(spark, tmp_path):
    """The worker daemon stops zip importers from re-reading their zip on
    every task. A zip added with addPyFile after the workers started sits on
    a new path, so a task must still import from it."""
    assert spark.conf.get("spark.python.daemon.module") == "ocr_suite_spark.daemon"

    def patched_by(batches):
        import zipimport

        src = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        for pdf in batches:
            yield pd.DataFrame({"src": [src] * len(pdf)})

    # one Python task first, so the workers are alive (and reused below)
    srcs = {r["src"] for r in spark.range(8).mapInPandas(patched_by, "src string").collect()}
    assert srcs == {os.path.join(REPO, "ocr_suite_spark", "daemon.py")}

    mod = f"ocs_added_{os.getpid()}"
    path = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{mod}.py", "ANSWER = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def use_added(batches):
        import importlib

        answer = importlib.import_module(mod).ANSWER
        for pdf in batches:
            yield pd.DataFrame({"v": [answer] * len(pdf)})

    assert {r["v"] for r in spark.range(8).mapInPandas(use_added, "v long").collect()} == {42}
