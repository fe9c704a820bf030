"""SIGKILL fault injection for the versioned warehouse (r8).

The cross-process lock tests prove mutual exclusion and crashed-holder
release in isolation; this test kills whole writer processes at random
points inside real commit loops and asserts the durability contract the
MVCC design claims (engine/tableio.py::Warehouse docstring):

1. every ACKNOWLEDGED insert (the writer printed its ack only after
   ``insert_file`` returned, i.e. after publish) is present in the
   published snapshot that survives the crash — acknowledged commits are
   durable across SIGKILL at any instant;
2. the published pointer always resolves to a COMMITTED version — a
   reader after any crash sees a complete snapshot, never a torn one;
3. crashed claims (unstamped ``_vN`` directories, possibly half-filled
   by ``_link_files`` or holding a partial file) are invisible to
   ``history`` and swept by ``vacuum`` once past the phantom horizon;
4. a successor writer recovers unaided: the kernel released the dead
   writer's append lock (and, if the kill landed inside ``_publish``'s
   microsecond window, its pointer lock) with its process, so the
   successor commits normally at the default lock patience.

The insert tests need no SparkSession: ``insert_file`` is the
driver-side commit path (claim → link-forward → write → stamp → publish),
pure filesystem, so children are cheap interpreters and the kill points
land in real code. The overwrite test kills a Spark writer, the
pipeline's own write path.
"""

from __future__ import annotations

import os
import random
import select
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse

REPO = str(Path(__file__).resolve().parents[1])

_WRITER = """
import sys
from pathlib import Path
sys.path.insert(0, sys.argv[1])
from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse

root, tag, n = sys.argv[2], sys.argv[3], int(sys.argv[4])
wh = Warehouse(None, root, autovacuum_keep=3)
for i in range(n):
    payload = (tag + ":" + str(i) + "|") * 40
    name = "f_" + tag + "_" + str(i) + ".txt"
    wh.insert_file(
        "silver", "t", name,
        lambda p, payload=payload: Path(p).write_text(payload),
    )
    print("ACK", tag, i, flush=True)
"""


_PTR_HOLDER = """
import sys, time
sys.path.insert(0, sys.argv[1])
from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse

wh = Warehouse(None, sys.argv[2])
lk = wh._flock_lock(wh.path("silver", "t") / ".ptr.flock", "pointer lock", 5.0)
lk.__enter__()
print("HELD", flush=True)
time.sleep(600)  # killed here, lock held
"""


# The pipeline's write path: a Spark ``overwrite`` of one table per
# commit, every row of commit i carrying marker i.
_OVERWRITER = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession, functions as F
from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse

spark = (SparkSession.builder.master("local[2]")
    .config("spark.driver.memory", "512m")
    .config("spark.ui.enabled", "false").getOrCreate())
wh = Warehouse(spark, sys.argv[2])
rows = int(sys.argv[3])
for i in range(10_000):
    df = spark.range(rows).withColumn("marker", F.lit(i)).repartition(4)
    wh.overwrite(df, "silver", "t")
    print("ACK", i, flush=True)
"""


def _spawn(root: Path, tag: str, n: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _WRITER, REPO, str(root), tag, str(n)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def _acks(out: str) -> list[tuple[str, int]]:
    got = []
    for line in out.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] == "ACK":
            got.append((parts[1], int(parts[2])))
    return got


def test_sigkill_mid_commit_preserves_acknowledged_inserts(tmp_path):
    root = tmp_path / "crash_wh"
    rng = random.Random(8)
    acked: list[tuple[str, int]] = []

    # four writers, each murdered mid-loop at a random moment
    for k in range(4):
        p = _spawn(root, f"w{k}", 500)
        # let it get going (first child also pays interpreter startup)
        time.sleep(rng.uniform(0.6, 1.4) + (1.0 if k == 0 else 0.0))
        p.send_signal(signal.SIGKILL)
        out, _ = p.communicate(timeout=60)
        acked.extend(_acks(out))

    # a recovery writer runs to completion on the locks the kills released
    p = _spawn(root, "rec", 5)
    out, err = p.communicate(timeout=120)
    assert p.returncode == 0, err[-2000:]
    acked.extend(_acks(out))
    assert acked, "no insert ever acknowledged — kill timing too early"

    wh = Warehouse(None, str(root))
    cur = wh.current_version("silver", "t")
    assert cur is not None
    assert wh._is_committed("silver", "t", cur)

    # 1: every acknowledged insert is in the surviving published snapshot
    vdir = root / "silver" / "t" / f"_v{cur}"
    missing = [
        (tag, i)
        for tag, i in acked
        if not (vdir / f"f_{tag}_{i}.txt").exists()
    ]
    assert not missing, f"acknowledged inserts lost after SIGKILL: {missing[:10]}"
    # and its content is complete (no torn payload published)
    for tag, i in acked[-3:]:
        text = (vdir / f"f_{tag}_{i}.txt").read_text()
        assert text == (f"{tag}:{i}|") * 40

    # 2/3: history shows only committed versions; crashed claims excluded
    hist = wh.history("silver", "t")
    hist_versions = {h["version"] for h in hist}
    for v in hist_versions:
        assert wh._is_committed("silver", "t", v)
    uncommitted = [
        v
        for v in wh.versions("silver", "t")
        if not wh._is_committed("silver", "t", v)
    ]
    assert not (set(uncommitted) & hist_versions)

    # 3: phantoms sweep once past the horizon (committed history intact)
    orig = Warehouse.PHANTOM_SWEEP_AFTER
    Warehouse.PHANTOM_SWEEP_AFTER = 0.0
    try:
        wh.vacuum("silver", "t", keep=10_000)
        left = wh.versions("silver", "t")
        assert cur in left
        assert all(wh._is_committed("silver", "t", v) for v in left), left
    finally:
        Warehouse.PHANTOM_SWEEP_AFTER = orig


def test_sigkill_while_holding_pointer_lock_recovers(tmp_path):
    """A writer SIGKILLed while HOLDING the pointer lock must not wedge
    successors: the kernel releases its flock with the process, so the
    next publisher publishes within seconds at the DEFAULT patience (the
    r8 bug this guards: one crashed publisher turned into TimeoutErrors
    for every publisher arriving after it)."""

    root = tmp_path / "ptr_wh"
    wh = Warehouse(None, str(root))
    assert wh.PTR_LOCK_PATIENCE == 70.0  # default patience, not shrunk
    wh.insert_file("silver", "t", "seed.txt", lambda p: Path(p).write_text("x"))
    holder = subprocess.Popen(
        [sys.executable, "-c", _PTR_HOLDER, REPO, str(root)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "HELD", holder.stderr.read()
        # the lock is really held: a short-patience waiter times out
        lock = root / "silver" / "t" / ".ptr.flock"
        with pytest.raises(TimeoutError):
            with wh._flock_lock(lock, "pointer lock", 0.3):
                pass
    finally:
        holder.send_signal(signal.SIGKILL)
        holder.communicate(timeout=60)
    assert holder.returncode == -signal.SIGKILL
    t0 = time.monotonic()
    wh.insert_file("silver", "t", "after.txt", lambda p: Path(p).write_text("y"))
    elapsed = time.monotonic() - t0
    assert elapsed < 5, f"publish took {elapsed:.1f}s after the holder died"
    cur = wh.current_version("silver", "t")
    vdir = root / "silver" / "t" / f"_v{cur}"
    assert (vdir / "after.txt").exists()
    assert (vdir / "seed.txt").exists()


def test_concurrent_writers_no_lost_appends(tmp_path):
    """K healthy writer processes interleave insert_file commits against
    one table. The append lock serializes link-forward chains, so the
    final published snapshot must contain every writer's every file —
    a lost update would drop a file from the chain silently. (The
    counter-based cross-process test proves lock exclusion; this proves
    the COMMIT protocol composes with it: claims, link-forward, publish
    monotonicity.)"""

    root = tmp_path / "mw_wh"
    k, n = 3, 40
    procs = [_spawn(root, f"p{j}", n) for j in range(k)]
    acked = []
    for p in procs:
        out, err = p.communicate(timeout=180)
        assert p.returncode == 0, err[-2000:]
        acked.extend(_acks(out))
    assert len(acked) == k * n

    wh = Warehouse(None, str(root))
    cur = wh.current_version("silver", "t")
    vdir = root / "silver" / "t" / f"_v{cur}"
    missing = [
        (tag, i)
        for tag, i in acked
        if not (vdir / f"f_{tag}_{i}.txt").exists()
    ]
    assert not missing, f"lost appends under concurrency: {missing[:10]}"


def test_sigkill_mid_overwrite_leaves_one_complete_snapshot(spark, tmp_path):
    """A writer process (Python driver and its JVM) SIGKILLed while it
    overwrites one table in a loop leaves exactly one complete snapshot:
    every row read back carries the same marker, there are all of them,
    and the marker is no older than the last acknowledged commit."""
    root, rows = tmp_path / "ow_wh", 1000
    err = tmp_path / "writer.err"  # a file: Spark's log must never block the writer
    with open(err, "w") as err_f:
        child = subprocess.Popen(
            [sys.executable, "-c", _OVERWRITER, REPO, str(root), str(rows)],
            stdout=subprocess.PIPE,
            stderr=err_f,
            text=True,
            start_new_session=True,  # one process group: the JVM dies with it
        )
    try:
        ready, _, _ = select.select([child.stdout], [], [], 300)
        assert ready, "the writer acknowledged no commit within 300 s"
        first = child.stdout.readline().split()
        assert first == ["ACK", "0"], err.read_text()[-2000:]
        # land the kill inside a later commit's Spark write or publish
        time.sleep(random.Random(13).uniform(0.3, 1.5))
    finally:
        os.killpg(child.pid, signal.SIGKILL)
    out, _ = child.communicate(timeout=60)
    acked = [0] + [int(line.split()[1]) for line in out.splitlines() if line.startswith("ACK")]

    wh = Warehouse(spark, str(root))
    assert wh._is_committed("silver", "t", wh.current_version("silver", "t"))
    got = wh.read("silver", "t").groupBy("marker").count().collect()
    assert len(got) == 1, f"a torn snapshot mixes markers {sorted(r.marker for r in got)}"
    assert got[0]["count"] == rows
    assert got[0].marker >= max(acked)
