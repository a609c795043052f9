"""The test harness itself (how a session reports a dead Spark JVM)
and the session factory's host-sized defaults, each in a fresh
process."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import REPO_ROOT

_KILL_JVM_TESTS = '''
import os
import signal


def test_kills_jvm(spark):
    spark.range(1).count()
    proc = spark.sparkContext._gateway.proc
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait()
    spark.range(1).count()


def test_after_jvm_death(spark):
    spark.range(1).count()
'''


def test_dead_jvm_stops_session_with_one_message(tmp_path):
    """Killing the session JVM mid-test ends the pytest session at that
    test with exit code 1 and one message naming it, instead of one
    ConnectionRefusedError per later test."""
    (tmp_path / "test_kill.py").write_text(_KILL_JVM_TESTS)
    out = subprocess.run(
        [
            sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
            "-p", "tests.conftest", str(tmp_path / "test_kill.py"),
        ],
        cwd=REPO_ROOT,
        env=dict(os.environ, SPARK_DRIVER_MEMORY="512m"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    text = out.stdout + out.stderr
    assert out.returncode == 1, text[-3000:]
    assert text.count("the Spark session JVM died during") == 1, text[-3000:]
    assert "test_kill.py::test_kills_jvm" in text
    assert "test_after_jvm_death" not in text
    assert "out of memory" in text


_SHUFFLE_DEFAULT_SCRIPT = """
from capex_data_pipeline_spark.session import get_spark

spark = get_spark(master="local[2]")
print("default", spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
spark = get_spark(master="local[2]", shuffle_partitions=5)
print("explicit", spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def test_shuffle_partitions_default_to_the_session_cores():
    """Without ``shuffle_partitions`` a session shuffles into one
    partition per core it schedules on (local[2] -> 2); an explicit
    value still wins."""
    out = subprocess.run(
        [sys.executable, "-c", _SHUFFLE_DEFAULT_SCRIPT],
        cwd=REPO_ROOT,
        env=dict(os.environ, SPARK_DRIVER_MEMORY="512m"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, (out.stdout + out.stderr)[-3000:]
    lines = out.stdout.splitlines()
    assert "default 2" in lines, out.stdout
    assert "explicit 5" in lines, out.stdout
