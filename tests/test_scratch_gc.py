"""Per-process /tmp scratch (SURVEY.md §8 queue item c): every scratch
dir lives under ``root/<pid>``; gc reaps exactly the roots of dead
processes and leaves live, own and non-pid entries alone. No Spark
needed — pure filesystem semantics."""

from __future__ import annotations

import os
import subprocess

from dend_covid19_spark.scratch import gc_scratch, scratch_dir


def _dead_pid() -> int:
    """A pid that existed a moment ago and is now certainly dead."""
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_scratch_dir_stamps_owner(tmp_path):
    """The owner stamp is the directory itself: every scratch dir lands
    under ``root/<pid>``."""
    root = str(tmp_path)
    d = scratch_dir("mine", root=root)
    assert os.path.isdir(d)
    assert d == os.path.join(root, str(os.getpid()), "mine")


def test_gc_spares_live_owner_and_self(tmp_path):
    root = str(tmp_path)
    mine = scratch_dir("mine", root=root)
    other = os.path.join(root, "1", "x")  # pid 1 (init) is alive
    os.makedirs(other)
    assert gc_scratch(root=root) == []
    assert os.path.isdir(mine) and os.path.isdir(other)


def test_gc_reaps_dead_owner_marker(tmp_path):
    """A root named by a dead pid is reaped; live and own roots stay."""
    root = str(tmp_path)
    mine = scratch_dir("mine", root=root)
    live = os.path.join(root, "1")
    os.makedirs(live)
    dead = os.path.join(root, str(_dead_pid()))
    os.makedirs(os.path.join(dead, "snap_abc"))
    assert gc_scratch(root=root) == [dead]
    assert not os.path.exists(dead)
    assert os.path.isdir(mine) and os.path.isdir(live)


def test_gc_missing_root_is_noop(tmp_path):
    assert gc_scratch(root=str(tmp_path / "nope")) == []


def test_hash_token_suffix_not_treated_as_pid(tmp_path):
    """Only an all-digit entry names a process. Entries written by older
    code (``streamdedup_<hash>``, fixed names like ``jsonl``) are left
    alone, even when their digits match no live pid."""
    root = str(tmp_path)
    legacy = [os.path.join(root, n) for n in (f"streamdedup_{_dead_pid()}", "jsonl")]
    for d in legacy:
        os.makedirs(d)
    assert gc_scratch(root=root) == []
    assert all(os.path.isdir(d) for d in legacy)


def test_leftover_own_root_wiped_on_first_use(tmp_path):
    """A ``root/<pid>`` that exists before this process first uses the
    root belongs to a dead process whose pid was reused: the first
    scratch_dir call clears it; later calls keep what this process
    wrote."""
    root = str(tmp_path)
    stale = os.path.join(root, str(os.getpid()), "stale")
    os.makedirs(stale)
    d = scratch_dir("mine", root=root)
    assert not os.path.exists(stale)
    open(os.path.join(d, "f"), "w").close()
    scratch_dir("other", root=root)
    assert os.path.exists(os.path.join(d, "f"))


def test_materialize_once_atomic_and_rebuilds_partials(tmp_path):
    """r13 atomic publish: (1) a completed publish (dir with _SUCCESS)
    is returned untouched and the writer never re-runs; (2) a dir
    WITHOUT _SUCCESS — pre-materialize in-place debris — is discarded
    and rebuilt; (3) the write lands via rename, so the final dir only
    ever appears complete; (4) a publish race leaves exactly the
    winner's copy and the loser's temp dir is cleaned up."""
    import os

    from dend_covid19_spark.scratch import materialize_once

    target = str(tmp_path / "ds")
    calls = []

    def write(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("data")
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    materialize_once(target, write)
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    assert len(calls) == 1
    materialize_once(target, write)  # complete -> untouched, no rewrite
    assert len(calls) == 1

    # partial debris (no _SUCCESS) is rebuilt
    os.remove(os.path.join(target, "_SUCCESS"))
    materialize_once(target, write)
    assert len(calls) == 2
    assert os.path.exists(os.path.join(target, "_SUCCESS"))

    # race: a writer that finds the target already published must drop
    # its temp dir and leave the winner's data intact
    def racing_write(tmp):
        calls.append(tmp)
        write(tmp)
        os.rename(tmp, target + "_winner")  # simulate the other process
        os.rename(target + "_winner", target)
        # re-create our own tmp so materialize_once's rename loses
        write(tmp)

    import shutil

    shutil.rmtree(target)
    materialize_once(target, racing_write)
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    leftovers = [p for p in os.listdir(tmp_path) if ".tmp." in p]
    assert leftovers == []


def test_materialize_once_reraises_non_race_rename_failure(tmp_path, monkeypatch):
    """r13 advice: a rename failure with NO winner at the target is not
    a publish race — the freshly written temp data must not be silently
    discarded; the error surfaces at the fault site. With a winner
    present, the loser still cleans up and reads the winner's copy."""
    import os

    import pytest

    from dend_covid19_spark.scratch import materialize_once

    target = str(tmp_path / "ds")

    def write(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    real_rename = os.rename

    def failing_rename(src, dst):
        raise OSError("EXDEV: cross-device link")

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="EXDEV"):
        materialize_once(target, write)
    assert not os.path.isdir(target)
    # the failed attempt's temp dir is DELIBERATELY preserved (the data
    # survives for diagnosis — discarding it was the bug); clear it so
    # the final no-leftovers check sees only race-loser cleanup
    import shutil

    for p in os.listdir(tmp_path):
        if ".tmp." in p:
            shutil.rmtree(str(tmp_path / p))

    # a genuine race (winner exists): loser discards tmp, returns winner
    monkeypatch.setattr(os, "rename", real_rename)
    materialize_once(target, write)
    monkeypatch.setattr(os, "rename", failing_rename)
    materialize_once(target, write)  # hit short-circuits before rename
    os.remove(os.path.join(target, "_SUCCESS"))

    def racing_write(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        # another process wins the publish while our rename is broken
        w = str(tmp_path / "w")
        os.makedirs(w, exist_ok=True)
        open(os.path.join(w, "_SUCCESS"), "w").close()
        real_rename(w, target)

    materialize_once(target, racing_write)
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    leftovers = [p for p in os.listdir(tmp_path) if ".tmp." in p]
    assert leftovers == []
