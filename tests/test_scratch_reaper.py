"""__spark_entry__ scratch roots: each process writes under its own root,
held under ``flock`` while the process lives. ``_reap_stale_scratch``
removes a root only once its owner is gone, and touches nothing else.

Owners are real child processes that make their root through
``_scratch``. Every test removes what it created, reaped or not."""

import os
import shutil
import signal
import subprocess
import sys
import tempfile

import pytest

import __spark_entry__ as entrymod

# Makes the scratch path and a `_verdict` member, prints the path, then
# parks on stdin: "_exit" leaves without running atexit (the root stays
# behind, as after a crash); EOF is a normal exit.
_OWNER = """
import os, sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as e
path = e._scratch("incr", "sf0.01")
os.makedirs(path)
os.makedirs(path + "_verdict")
print(path, flush=True)
if sys.stdin.read() == "_exit":
    os._exit(0)
"""


@pytest.fixture
def owner():
    """Factory: start an owner process; returns (process, scratch path).
    Teardown kills any owner still running and removes every root."""
    made = []

    def start():
        code = _OWNER.format(
            repo=os.path.dirname(os.path.abspath(entrymod.__file__)))
        proc = subprocess.Popen([sys.executable, "-c", code],
                                stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                text=True)
        path = proc.stdout.readline().strip()
        made.append((proc, path))
        assert os.path.isdir(path), "owner made no scratch path"
        return proc, path

    yield start
    for proc, path in made:
        if proc.poll() is None:
            proc.kill()
        proc.wait(timeout=30)
        proc.stdin.close()
        proc.stdout.close()
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


def _finish(proc, data=""):
    proc.stdin.write(data)
    proc.stdin.close()
    assert proc.wait(timeout=30) == 0


def test_dead_owner_root_reaped_with_members(owner):
    proc, path = owner()
    _finish(proc, "_exit")
    assert os.path.isdir(path + "_verdict")
    entrymod._reap_stale_scratch()
    assert not os.path.exists(os.path.dirname(path))


def test_sigkilled_owner_root_reaped(owner):
    proc, path = owner()
    proc.send_signal(signal.SIGKILL)
    proc.wait(timeout=30)
    assert os.path.isdir(path)
    entrymod._reap_stale_scratch()
    assert not os.path.exists(os.path.dirname(path))


def test_live_owner_root_kept_then_removed_at_exit(owner):
    proc, path = owner()
    entrymod._reap_stale_scratch()
    assert os.path.isdir(path)
    assert os.path.isdir(path + "_verdict")
    _finish(proc)
    assert not os.path.exists(os.path.dirname(path))


def test_own_root_never_reaped(monkeypatch):
    monkeypatch.setattr(entrymod, "_scratch_root", None)
    path = entrymod._scratch("incr", "sf0.01")
    root, fd = entrymod._scratch_root
    try:
        os.makedirs(path)
        entrymod._reap_stale_scratch()
        assert os.path.isdir(path)
    finally:
        os.close(fd)
        shutil.rmtree(root, ignore_errors=True)


def test_non_root_entries_left_alone():
    tmp = tempfile.gettempdir()
    tag = f"reapertest{os.getpid()}"
    # bench.py's cached corpus, and a dir under the root prefix that has
    # no lock file
    paths = [os.path.join(tmp, f"spark_graft_bench_corpus_{tag}"),
             os.path.join(tmp, entrymod._SCRATCH_PREFIX + tag)]
    try:
        for p in paths:
            os.makedirs(os.path.join(p, "part"))
        entrymod._reap_stale_scratch()
        for p in paths:
            assert os.path.isdir(os.path.join(p, "part"))
    finally:
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)


def test_two_processes_get_different_paths(owner):
    (a, path_a), (b, path_b) = owner(), owner()
    assert path_a != path_b
    assert os.path.basename(path_a) == os.path.basename(path_b)
    _finish(a)
    _finish(b)
