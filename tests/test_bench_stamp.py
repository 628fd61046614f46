"""bench.py's host stamp: the machine shape and build every lossless
bench record carries."""

from __future__ import annotations

import os
import platform
import subprocess
from types import SimpleNamespace

import pyspark

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _session(parallelism: int):
    return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=parallelism))


def test_host_stamp_names_machine_session_and_build():
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
    )
    stamp = bench.host_stamp(_session(3), ROOT)
    assert stamp == {
        "host_cpus": os.cpu_count(),
        "session_cpus": 3,
        "git_sha": head.stdout.strip() if head.returncode == 0 else None,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def test_host_stamp_outside_a_checkout_has_no_sha(tmp_path):
    env_dir = tmp_path / "not-a-checkout"
    env_dir.mkdir()
    stamp = bench.host_stamp(_session(2), str(env_dir))
    assert stamp["git_sha"] is None
    assert stamp["session_cpus"] == 2


def test_host_stamp_session_cpus_follow_the_live_session(spark):
    assert bench.host_stamp(spark, ROOT)["session_cpus"] == spark.sparkContext.defaultParallelism
