"""Command-line contracts of the measurement scripts under `scripts/`."""

import json
import os
import subprocess
import sys

from conftest import SF_DIR

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRIPTS = os.path.join(_REPO, "scripts")


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


def test_ab_regression_arm_workers_import_the_tree(tmp_path):
    """An arm started outside <tree> still runs <tree>'s package in its
    Python workers: `source_pydatasource` reads through a Python
    DataSource, whose worker imports `duckdb_wasm_spark` and fails with
    ModuleNotFoundError unless the session starts in <tree>."""
    env = dict(
        os.environ,
        SPARK_GRAFT_AB_RUNS="1",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_SF_DIR=SF_DIR,
    )
    r = subprocess.run(
        [sys.executable, os.path.join(_SCRIPTS, "ab_regression.py"), _REPO,
         "source_pydatasource"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=tmp_path,
        env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout)
    assert len(out["queries"]["source_pydatasource"]) == 1
