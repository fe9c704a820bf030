"""Cross-PROCESS evidence for the warehouse locks.

The lock's design claims (kernel ``flock`` on a persistent lock file,
released when the holder's last descriptor closes) are about separate OS
processes — two drivers, or a driver and a maintenance job, sharing one
warehouse root. These tests spawn real child interpreters (no Spark
session needed: the lock protocol is pure filesystem, and
``Warehouse(None, root)`` constructs without touching Spark).

1. Mutual exclusion: K children × R read-sleep-increment critical
   sections on a shared counter — any interleaving loses updates, so
   counter == K*R proves exclusion across processes.
2. Crashed holder: a child takes the lock and ``os._exit``s while
   holding it; a successor with the default patience acquires at once.
3. Waiters: a live holder past the patience times the waiter out, a
   draining queue resets it, and a filesystem that refuses flock fails
   the write at once.
"""

from __future__ import annotations

import errno
import fcntl
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse

REPO = str(Path(__file__).resolve().parents[1])

_INCR_CHILD = """
import os, sys, time
sys.path.insert(0, sys.argv[1])
from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse

root, n_iter = sys.argv[2], int(sys.argv[3])
wh = Warehouse(None, root)
ctr = os.path.join(root, "counter.txt")
for _ in range(n_iter):
    with wh._append_lock("silver", "t"):
        v = int(open(ctr).read())
        time.sleep(0.02)
        with open(ctr, "w") as f:
            f.write(str(v + 1))
"""

_CRASH_CHILD = """
import os, sys
sys.path.insert(0, sys.argv[1])
from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse

wh = Warehouse(None, sys.argv[2])
lk = wh._append_lock("silver", "t")
lk.__enter__()
print("HELD", flush=True)
os._exit(1)  # crash while holding: no release
"""


def test_append_lock_mutual_exclusion_across_processes(tmp_path):
    root = tmp_path / "xproc_wh"
    Warehouse(None, str(root))  # creates the root
    (root / "counter.txt").write_text("0")
    k, r = 4, 5
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _INCR_CHILD, REPO, str(root), str(r)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for _ in range(k)
    ]
    for p in procs:
        _, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[-2000:]
    assert int((root / "counter.txt").read_text()) == k * r


def test_append_lock_crashed_flock_holder_releases_instantly(tmp_path):
    """A crashed holder's lock dies with its last descriptor — no
    staleness horizon, no heartbeat, no steal. A successor acquires
    immediately, with the DEFAULT (660 s) patience untouched."""
    root = tmp_path / "crash_wh"
    child = subprocess.Popen(
        [sys.executable, "-c", _CRASH_CHILD, REPO, str(root)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    out, err = child.communicate(timeout=60)
    assert "HELD" in out, err[-2000:]
    assert child.returncode == 1

    lockfile = root / "silver" / "t" / ".append.flock"
    assert lockfile.exists(), "flock lock file is persistent by design"

    wh = Warehouse(None, str(root))
    t0 = time.monotonic()
    with wh._append_lock("silver", "t"):
        took = time.monotonic() - t0
    assert took < 1.0, took  # kernel released it at child exit
    assert lockfile.exists(), "flock file must never be unlinked"


def test_flock_live_holder_times_out_waiter(tmp_path):
    """flock never breaks in on a LIVE holder — a waiter outlasting its
    patience raises, it does not acquire."""
    wh = Warehouse(None, str(tmp_path))
    entered, release = threading.Event(), threading.Event()

    def hold() -> None:
        with wh._flock_lock(
            wh.path("silver", "t") / ".append.flock", "append lock", 10.0
        ):
            entered.set()
            release.wait(10.0)

    wh.path("silver", "t").mkdir(parents=True, exist_ok=True)
    th = threading.Thread(target=hold, daemon=True)
    th.start()
    assert entered.wait(5.0)
    with pytest.raises(TimeoutError):
        with wh._flock_lock(
            wh.path("silver", "t") / ".append.flock", "append lock", 0.3
        ):
            pass
    release.set()
    th.join(5.0)


def test_flock_queue_drain_resets_patience(tmp_path):
    """A waiter behind a DRAINING queue of holders must never time out,
    even when the queue's total duration exceeds its per-holder patience
    — each hand-off touches the lock mtime and the waiter resets. Four
    0.3 s holders against a 0.5 s patience: the last waiter waits ~0.9 s
    total and must still acquire."""
    wh = Warehouse(None, str(tmp_path))
    lock = wh.path("silver", "t")
    lock.mkdir(parents=True, exist_ok=True)
    lockfile = lock / ".append.flock"
    errors: list[BaseException] = []
    order: list[int] = []

    def hold(i: int, dwell: float) -> None:
        try:
            with wh._flock_lock(lockfile, "append lock", 0.5):
                order.append(i)
                time.sleep(dwell)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=hold, args=(i, 0.3), daemon=True)
        for i in range(4)
    ]
    for t in threads:
        t.start()
        time.sleep(0.02)  # establish a queue, holder 0 first
    for t in threads:
        t.join(10.0)
    assert not errors, f"queued waiter timed out during a draining queue: {errors}"
    assert len(order) == 4


def test_refused_flock_fails_fast_and_writes_nothing(tmp_path, monkeypatch):
    """A filesystem that refuses flock (ENOLCK on some NFS mounts) is not
    contention: the write fails at once, naming the table, instead of
    retrying for the 660 s patience or downgrading to another lock. No
    lock-mode marker or rename-scheme lock file is left behind, and no
    version is claimed."""

    def refuse(*a, **k):
        raise OSError(errno.ENOLCK, "No locks available")

    monkeypatch.setattr(fcntl, "flock", refuse)
    wh = Warehouse(None, str(tmp_path))
    t0 = time.monotonic()
    with pytest.raises(OSError, match=r"silver\.t") as info:
        wh.insert_file("silver", "t", "a.txt", lambda p: Path(p).write_text("x"))
    assert time.monotonic() - t0 < 5.0
    assert info.value.errno == errno.ENOLCK
    left = {p.name for p in tmp_path.rglob("*")}
    assert not left & {".lock_mode", ".append.lock", ".ptr.lock"}, left
    assert wh.versions("silver", "t") == []
