"""Per-process /tmp scratch: one root per process, reaped when it dies.

Side-effecting queries (ingest round-trips, streaming drains, CDC
snapshot stores, the serving Derby db, derived indexes) materialize
intermediate data under ``$TMPDIR/spark_graft_ingest/<pid>/<name>``.
The ``<pid>`` directory is the only place the process is named: every
name below it is private to this process, so no two processes ever
share a scratch directory and nothing has to record who uses it.

``gc_scratch`` removes the ``<pid>`` roots of dead processes. The
session factory calls it once per process so cleanup needs no
operator action.

At 100 TB the same discipline applies to object-store scratch prefixes:
put transient data under a prefix named by the job/run id and reap
prefixes whose run is finished — the pid root here is the
single-machine projection of that.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

SCRATCH_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_ingest")

_lock = threading.Lock()
_claimed: set[str] = set()  # process roots already wiped by this process


def process_root(root: str = SCRATCH_ROOT) -> str:
    """``root/<pid>``, this process's scratch root. The first call for a
    root removes any leftover directory of that name: a live process
    never leaves one behind for this pid, so it can only come from a
    dead process whose pid was reused. Keyed by path, so a forked child
    (new pid) claims its own root."""
    path = os.path.join(root, str(os.getpid()))
    with _lock:
        if path not in _claimed:
            shutil.rmtree(path, ignore_errors=True)
            _claimed.add(path)
    return path


def scratch_dir(name: str, root: str = SCRATCH_ROOT) -> str:
    """Create (idempotently) ``root/<pid>/name`` and return its path."""
    path = os.path.join(process_root(root), name)
    os.makedirs(path, exist_ok=True)
    return path


def materialize_once(path: str, write_fn) -> str:
    """Publish a cached derivation directory ATOMICALLY (r12 advice 1):
    ``write_fn(tmp_path)`` writes into a unique sibling temp dir, which
    is then ``os.rename``d into ``path`` — so a reader can never observe
    a partially-written dataset at ``path`` (the bare existence-check-
    then-write pattern could: two concurrent first-runs in one process,
    or a killed write leaving partial files under a later ``_SUCCESS``).
    The rename loser (``path`` already exists) discards its temp dir and
    reads the winner's copy — same-result-by-construction since every
    call site derives deterministically from the same inputs. Same-fs
    rename is atomic on POSIX; the temp dir lives beside the target so
    we never cross a mount.

    A directory at ``path`` WITHOUT a ``_SUCCESS`` marker is treated as
    absent and rebuilt: every writer publishes via rename, and a fully
    renamed Spark write dir always carries ``_SUCCESS`` — so a
    marker-less dir can only be debris from a pre-r13 in-place writer
    killed mid-write, exactly what this helper exists to never trust."""
    if os.path.isdir(path):
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return path
        shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp.{os.getpid()}.{os.urandom(4).hex()}"
    write_fn(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        # Only treat the failure as a lost publish race if a winner
        # actually exists at ``path`` — then discarding tmp and reading
        # the winner's copy is same-result-by-construction. Any other
        # rename failure (EXDEV, permissions, quota) used to rmtree the
        # freshly written data and return a path that does not exist,
        # deferring to a confusing downstream read error (r13 advice) —
        # re-raise instead so the real cause surfaces at the fault site.
        if not os.path.isdir(path):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    except OSError:
        return True  # can't prove death — keep
    return True


def gc_scratch(root: str = SCRATCH_ROOT) -> list[str]:
    """Remove every ``root/<pid>`` directory whose process is dead, never
    this process's own. Non-numeric entries (written by older code) are
    left alone. Returns the paths removed (for tests/ops logging).
    Best-effort by design: a dir that fails to delete is skipped, not
    raised."""
    removed: list[str] = []
    try:
        entries = os.listdir(root)
    except OSError:
        return removed
    me = os.getpid()
    for entry in entries:
        if not entry.isdecimal() or int(entry) == me or _pid_alive(int(entry)):
            continue
        path = os.path.join(root, entry)
        try:
            shutil.rmtree(path)
            removed.append(path)
        except OSError:
            pass
    return removed
