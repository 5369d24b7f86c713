"""__spark_entry__._reap_stale_scratch: a dead owner's scratch dirs and
``.owner`` marker are collected; a live owner's are never touched.

Owners are real child processes, so liveness goes through the same
(pid, start ticks) check the reaper runs on any scratch family. Every
test removes what it created, reaped or not."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod


def _child():
    """A child process parked on stdin until it is closed."""
    return subprocess.Popen([sys.executable, "-c",
                             "import sys; sys.stdin.read()"],
                            stdin=subprocess.PIPE)


def _stop(proc):
    proc.stdin.close()
    proc.wait(timeout=30)


def _marker(base, pid, start):
    with open(base + ".owner", "w") as f:
        json.dump({"pid": pid, "start": start}, f)
    return base + ".owner"


@pytest.fixture
def scratch_base(request):
    """Factory for a scratch base path of a reaped family
    (spark_graft_ivf_...), named after this test process and the owner
    pid; removes the base, its suffixed members and its marker on
    teardown."""
    made = []

    def make(pid):
        base = f"/tmp/spark_graft_ivf_reapertest{os.getpid()}_{pid}"
        made.append(base)
        return base

    yield make
    for base in made:
        for path in (base, base + "_verdict"):
            shutil.rmtree(path, ignore_errors=True)
        if os.path.exists(base + ".owner"):
            os.remove(base + ".owner")


def test_dead_owner_orphan_marker_removed(scratch_base):
    proc = _child()
    start = entrymod._proc_start_ticks(proc.pid)
    _stop(proc)
    base = scratch_base(proc.pid)
    marker = _marker(base, proc.pid, start)
    entrymod._reap_stale_scratch()
    assert not os.path.exists(marker)


def test_dead_owner_dirs_and_marker_removed_in_one_pass(scratch_base):
    proc = _child()
    start = entrymod._proc_start_ticks(proc.pid)
    _stop(proc)
    base = scratch_base(proc.pid)
    os.makedirs(base)
    os.makedirs(base + "_verdict")
    marker = _marker(base, proc.pid, start)
    entrymod._reap_stale_scratch()
    assert not os.path.exists(base)
    assert not os.path.exists(base + "_verdict")
    assert not os.path.exists(marker)


def test_live_owner_marker_and_dir_kept(scratch_base):
    proc = _child()
    try:
        base = scratch_base(proc.pid)
        os.makedirs(base + "_verdict")
        marker = _marker(base, proc.pid,
                         entrymod._proc_start_ticks(proc.pid))
        entrymod._reap_stale_scratch()
        assert os.path.isdir(base + "_verdict")
        assert os.path.exists(marker)
        # the marker stays even once the live owner's dirs are gone
        shutil.rmtree(base + "_verdict")
        entrymod._reap_stale_scratch()
        assert os.path.exists(marker)
    finally:
        _stop(proc)
