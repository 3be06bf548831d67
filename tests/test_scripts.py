"""Command-line contracts of the measurement scripts under `scripts/`."""

import os
import subprocess
import sys

_SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")


def test_state_store_sweep_without_arguments_prints_usage():
    """No provider argument: exit 2 with the usage line naming every
    provider on stderr, before any Spark session starts."""
    r = subprocess.run(
        [sys.executable, os.path.join(_SCRIPTS, "state_store_sweep.py")],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert r.returncode == 2, r
    assert "usage:" in r.stderr
    assert "<hdfs|rocksdb>" in r.stderr
    assert r.stdout == ""


def test_sql_lane_without_arguments_prints_usage():
    """No sf_dir argument: exit 2 with the usage line on stderr, before
    any Spark session starts."""
    r = subprocess.run(
        [sys.executable, os.path.join(_SCRIPTS, "sql_lane.py")],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert r.returncode == 2, r
    assert "usage: python scripts/sql_lane.py <sf_dir>" in r.stderr
    assert r.stdout == ""
