"""The one owner of the package's scratch directories.

Every directory the package writes outside the user's paths and the
artifact store lives under this process's root, `<tempdir>/dws-<pid>`,
or `/dev/shm/dws-<pid>` for tmpfs scratch. A root is made on first use
and removed at exit. Making this process's first root also removes
every `dws-<pid>` root whose process is gone, so what a killed run left
behind goes with the next run's first scratch call.
"""

import atexit
import glob
import os
import shutil
import tempfile
import threading

_LOCK = threading.Lock()  # intra-query thread pools may race to the root
_ROOTS: list[str] = []


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        pass
    return True


def _root(tmpfs: bool) -> str:
    bases = [tempfile.gettempdir()] + (["/dev/shm"] if os.path.isdir("/dev/shm") else [])
    root = os.path.join(bases[-1] if tmpfs else bases[0], f"dws-{os.getpid()}")
    with _LOCK:
        if root not in _ROOTS:
            if not _ROOTS:  # this process's first root: prune dead runs' roots
                for old in (d for base in bases for d in glob.glob(f"{base}/dws-*")):
                    pid = old.rsplit("-", 1)[1]
                    if pid.isdigit() and not _alive(int(pid)):
                        shutil.rmtree(old, ignore_errors=True)
            os.makedirs(root, exist_ok=True)
            atexit.register(shutil.rmtree, root, ignore_errors=True)
            _ROOTS.append(root)
    return root


def scratch_dir(prefix: str, tmpfs: bool = False) -> str:
    """A fresh directory under this process's root (the tmpfs root when
    `tmpfs` and /dev/shm exists), removed at exit at the latest."""
    return tempfile.mkdtemp(prefix=prefix, dir=_root(tmpfs))


def session_dir(spark, prefix: str, sf_dir: str, write) -> str:
    """A scratch directory that `write(path)` fills once per (session,
    prefix, sf_dir); later calls return the same path."""
    memo: dict = spark.__dict__.setdefault("_dws_session_dirs", {})
    if (prefix, sf_dir) not in memo:
        out = scratch_dir(prefix)
        write(out)
        memo[(prefix, sf_dir)] = out
    return memo[(prefix, sf_dir)]
