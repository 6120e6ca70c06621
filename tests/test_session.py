"""Core-count defaults: with SPARK_GRAFT_CPUS unset, the session factory and
bench.py size themselves from the CPUs this process may run on, never a
hard-coded count."""

from __future__ import annotations

import importlib.util
import os

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
