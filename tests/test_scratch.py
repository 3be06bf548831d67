"""The scratch-directory owner (duckdb_wasm_spark.scratch), without Spark:
a process's roots go at its exit, and a killed process's roots go with
the next process's first scratch call."""

import json
import os
import subprocess
import sys

from duckdb_wasm_spark import scratch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one dir on each root, then the roots; `kill` ends without exit handlers
_CHILD = """
import os, signal, sys
from duckdb_wasm_spark.scratch import scratch_dir
kill = sys.argv[1] == "kill"
for tmpfs in (False, True) if kill else (False,):
    print(os.path.dirname(scratch_dir("probe_", tmpfs=tmpfs)), flush=True)
if kill:
    os.kill(os.getpid(), signal.SIGKILL)
"""


def _child(how: str) -> tuple[subprocess.CompletedProcess, list[str]]:
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, how],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    return proc, proc.stdout.split()


def test_killed_run_roots_go_with_the_next_run():
    own = scratch.scratch_dir("alive_")  # a root whose pid (ours) runs

    killed, killed_roots = _child("kill")
    assert killed.returncode == -9
    assert len(set(killed_roots)) == (2 if os.path.isdir("/dev/shm") else 1)
    assert all(os.path.isdir(r) for r in killed_roots)  # no exit handler ran

    normal, normal_roots = _child("exit")
    assert normal.returncode == 0, normal.stderr
    assert not any(os.path.exists(r) for r in killed_roots)  # pruned
    assert normal_roots and not any(os.path.exists(r) for r in normal_roots)
    assert os.path.isdir(own)
    os.rmdir(own)


_THREADS = """
import json, os, sys, threading
from duckdb_wasm_spark import scratch
sys.setswitchinterval(1e-6)
dirs = []
n = 16  # more threads than cores
start = threading.Barrier(n)
def work():
    start.wait()
    dirs.append(scratch.scratch_dir("t_"))
    dirs.append(scratch.scratch_dir("t_", tmpfs=True))
threads = [threading.Thread(target=work) for _ in range(n)]
for t in threads:
    t.start()
for t in threads:
    t.join(timeout=60)
print(json.dumps({"alive": sum(t.is_alive() for t in threads), "roots": scratch._ROOTS,
                  "dirs": len(set(dirs))}))
"""


def test_threads_racing_to_the_root_make_it_once():
    proc = subprocess.run(
        [sys.executable, "-c", _THREADS], cwd=REPO, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout)
    assert out["alive"] == 0
    assert len(out["roots"]) == len(set(out["roots"])) == (2 if os.path.isdir("/dev/shm") else 1)
    assert out["dirs"] == 32
    assert not any(os.path.exists(r) for r in out["roots"])
