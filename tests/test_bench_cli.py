"""bench.py as a process: the headline sweep prints one JSON line with no
scaling fields, and an unknown flag is an argparse error instead of a
silent full sweep."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench.py")


def _env(sf_dir: str) -> dict:
    env = dict(os.environ)
    env.update(
        PYTHONPATH=REPO,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    return env


def test_bench_only_prints_one_headline_line(sf_dir, tmp_path):
    p = subprocess.run(
        [sys.executable, BENCH, "--only", "q1_pricing_summary"],
        env=_env(sf_dir), cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert line["metric"] == "headline_queries_total"
    assert list(line["queries"]) == ["q1_pricing_summary"]
    assert "scaling" not in line and "scaling_prior_run" not in line


def test_bench_rejects_unknown_flag(sf_dir, tmp_path):
    p = subprocess.run(
        [sys.executable, BENCH, "--scaling"],
        env=_env(sf_dir), cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 2, p.stdout[-2000:]
