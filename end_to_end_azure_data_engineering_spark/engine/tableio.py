"""Parquet-backed warehouse catalog.

The reference stores silver/gold as external Delta tables
(4_silver/silver_transactions.py:50-51). This build has no Delta jar, so
every table is a versioned parquet directory under a warehouse root: an
immutable ``_v<N>/`` per commit and a ``_CURRENT`` pointer (see
``Warehouse``). On Delta the same API maps to ACID commits.

Namespaces mirror the medallion: bronze/silver/gold/audit.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import threading
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Spark's parquet writer stores the written frame's schema in every
# file's footer under this key; schema inference prefers it over the
# parquet types. Driver-side writers (the audit log) set it too.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(root: Path) -> StructType | None:
    """The schema Spark's non-merging inference would return for the table
    at ``root``, read on the driver from one footer, or None where only
    Spark can tell. Inference touches one file, the first data file in
    path order, and takes the schema stored under ``SPARK_SCHEMA_KEY``
    when the file has it. None for a table without data files, one whose
    first file lacks the key (a file pyarrow wrote without it), and one
    with parquet summary files, which inference would read first."""
    import pyarrow.parquet as pq

    names = [f for f in root.rglob("*") if f.is_file()]
    if any(f.name in ("_metadata", "_common_metadata") for f in names):
        return None
    # Spark's listing drops every path component starting with "." or
    # with "_" (unless it is a k=v partition directory)
    data = sorted(
        str(f)
        for f in names
        if not any(
            p.startswith(".") or (p.startswith("_") and "=" not in p)
            for p in f.relative_to(root).parts
        )
    )
    if not data:
        return None
    raw = (pq.read_metadata(data[0]).metadata or {}).get(SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    return StructType.fromJson(json.loads(raw))


def _write_parquet(
    df: DataFrame, vdir: Path, partition_by: list[str] | None = None
) -> None:
    """Write ``df`` into a claimed version directory. Mode append: an
    overwrite would delete and recreate the claim, opening a window where
    a competing writer could claim the same number."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(str(vdir))


class Warehouse:
    """MVCC on parquet — the closest parquet-only reproduction of the
    Delta semantics the reference relies on
    (4_silver/silver_transactions.py:50-51: ACID overwrite, readers never
    see partial writes, history retained).

    Layout: `<ns>/<table>/_v<N>/` immutable version directories plus a
    `_CURRENT` pointer file. A commit writes the new version directory
    COMPLETELY, then swaps the pointer with an atomic `os.replace` — the
    only mutation any reader can observe is the 8-byte pointer content, so
    a reader holds a consistent snapshot for as long as it keeps reading
    the resolved directory (old versions are immutable until `vacuum`).
    Time travel = reading an explicit version. On Delta/Iceberg the same
    API maps to commit-log append / snapshot ids; on object storage the
    pointer is a conditional-PUT marker object.

    Every write is one version commit, ``_commit_version``:

    1. claim — ``mkdir`` of the next ``_vN`` (atomic; a loser re-lists
       and takes the next number);
    2. keepalive — a heartbeat keeps the claim's mtime fresh, so vacuum's
       phantom sweep never takes a live writer's claim;
    3. link — hard-link the files of a source version forward (the
       published snapshot for an append, an old version for a restore,
       all but one partition for a partition compaction);
    4. write — the new files land inside the claim;
    5. stamp — the ``.op`` label, which marks the directory as a commit;
    6. publish — a monotonic read-compare-replace of ``_CURRENT`` under
       the per-table pointer lock (``.ptr.flock``), then autovacuum.

    The primitive takes no lock of its own besides the pointer lock in
    step 6. ``append``, ``insert_file``, ``compact`` and
    ``compact_partition`` hold the per-table append lock
    (``.append.flock``) across all six steps, because they read the
    snapshot they build on: two of them linking from one base would
    each publish a version missing the other's rows. ``commit``,
    ``overwrite`` and ``restore`` write whole snapshots and hold no append
    lock; their publish is last-writer-wins. Both locks are kernel
    ``flock``s on persistent lock files, so a crashed holder's lock is
    released when its process dies; a root whose filesystem refuses flock
    fails its first write instead of running unlocked.

    ``autovacuum_keep=N`` prunes to the newest N versions after every
    publish (Delta's log/file retention, applied inline). Off (None) by
    default: every table keeps its full history for time travel until
    ``vacuum`` or a per-table ``set_retention`` bounds it, as a Delta
    table does until ``VACUUM``."""

    # Waiter patience for the append lock (held across a whole Spark
    # write) and the pointer lock (microseconds of driver-side work). A
    # crashed holder's flock is released by the kernel, so patience only
    # bounds the wait on a LIVE holder; a draining queue resets it (see
    # _flock_lock). Class attributes so tests can shrink them.
    APPEND_LOCK_PATIENCE = 660.0
    PTR_LOCK_PATIENCE = 70.0
    # _claim_keepalive's refresh interval (well inside PHANTOM_SWEEP_AFTER).
    LOCK_HEARTBEAT = 60.0

    def __init__(self, spark: SparkSession, root: str, autovacuum_keep: int | None = None):
        if autovacuum_keep is not None and autovacuum_keep < 1:
            raise ValueError("autovacuum_keep must be >= 1 (or None)")
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.autovacuum_keep = autovacuum_keep

    def path(self, namespace: str, table: str) -> Path:
        """The table's base directory (versions, pointer, locks). Callers
        inspecting data files go through ``data_dir``."""
        return self.root / namespace / table

    @staticmethod
    def _count_files(root: Path) -> int:
        """Row count from parquet footers (recursive — covers hive
        partition dirs): exact and driver-side, replacing the full Spark
        count job every write used to pay just to report rows written.
        Footer reads are metadata-only — no data pages touched."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(f).num_rows for f in root.rglob("*.parquet")
        )

    # ---- retention --------------------------------------------------------

    def set_retention(self, namespace: str, table: str, keep: int | None) -> None:
        """Per-TABLE retention (Delta scopes logRetentionDuration per
        table): prune to the newest ``keep`` versions after each publish of
        THIS table, overriding the warehouse-wide ``autovacuum_keep``.
        ``None`` means an EXPLICIT "keep full history" choice and is
        persisted as such (marker content ``none``) — deleting the marker
        instead would let a later ``default_retention`` silently re-apply
        a default and prune history the operator chose to keep.
        Use :meth:`clear_retention` to drop the override and revert to the
        warehouse-wide policy. Bounding an append-heavy audit log must not
        cost every gold table its time-travel history."""
        base = self.path(namespace, table)
        base.mkdir(parents=True, exist_ok=True)
        marker = base / ".retention"
        if keep is None:
            marker.write_text("none")
        else:
            if keep < 1:
                raise ValueError("retention keep must be >= 1 (or None)")
            marker.write_text(str(keep))

    def default_retention(self, namespace: str, table: str, keep: int) -> None:
        """``set_retention(keep)`` unless the table already records a
        retention choice (an explicit ``None`` included): the default an
        append-heavy writer (the audit log, the streaming dedup sink)
        gives its table without overriding the operator."""
        if not (self.path(namespace, table) / ".retention").exists():
            self.set_retention(namespace, table, keep)

    def clear_retention(self, namespace: str, table: str) -> None:
        """Remove the per-table override: the table reverts to the
        warehouse-wide ``autovacuum_keep`` policy."""
        (self.path(namespace, table) / ".retention").unlink(missing_ok=True)

    def _retention(self, namespace: str, table: str) -> int | None:
        marker = self.path(namespace, table) / ".retention"
        if marker.exists():
            raw = marker.read_text().strip()
            if raw == "none":
                return None  # explicit operator choice: keep full history
            try:
                return int(raw)
            except ValueError:
                # A damaged marker must not silently substitute a DIFFERENT
                # retention policy (the fallback could vacuum history the
                # operator configured to keep, with no signal).
                raise RuntimeError(
                    f"{namespace}.{table}: .retention marker is corrupt "
                    f"(content {raw!r}). Repair with set_retention() or "
                    "clear_retention()."
                ) from None
        return self.autovacuum_keep

    # ---- reading ----------------------------------------------------------

    def _pointer(self, namespace: str, table: str) -> Path:
        return self.path(namespace, table) / "_CURRENT"

    def exists(self, namespace: str, table: str) -> bool:
        """A table exists when a version has been PUBLISHED — directory
        presence alone would make a crashed first commit's claim look
        like a readable table."""
        return self.current_version(namespace, table) is not None

    def data_dir(self, namespace: str, table: str) -> Path:
        """Directory holding the table's LIVE data files: the published
        version directory. Callers inspecting files (compaction counts,
        footer stats) must go through this, never path()."""
        v = self.current_version(namespace, table)
        if v is None:
            raise FileNotFoundError(
                f"{namespace}.{table} has no committed version"
            )
        return self.path(namespace, table) / f"_v{v}"

    def read(
        self,
        namespace: str,
        table: str,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read the published snapshot (or time-travel to ``version``).

        ``merge_schema=True`` unions the schemas of every file (columns
        added by later evolving appends surface as NULL on older rows) —
        the read half of Delta's mergeSchema. Off by default: schema
        merging lists every footer, which costs on very wide tables.

        Without ``merge_schema`` the read runs no Spark job: the schema
        Spark's inference would return comes from one parquet footer on
        the driver (see ``_footer_schema``), as Delta takes it from its
        log. Hive partition columns are still appended from the directory
        names. A table whose footer holds no Spark schema falls back to
        Spark's one-task inference job."""
        v = version if version is not None else self.current_version(namespace, table)
        if v is None:
            raise FileNotFoundError(
                f"{namespace}.{table} has no committed version"
            )
        vdir = self.path(namespace, table) / f"_v{v}"
        if not vdir.exists():
            raise FileNotFoundError(
                f"{namespace}.{table} version {v} not found (vacuumed?)"
            )
        r = self.spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        else:
            schema = _footer_schema(vdir)
            if schema is not None:
                r = r.schema(schema)
        return r.parquet(str(vdir))

    def current_version(self, namespace: str, table: str) -> int | None:
        ptr = self._pointer(namespace, table)
        if not ptr.exists():
            return None
        raw = ptr.read_text().strip()
        try:
            return int(raw)
        except ValueError:
            # A torn/garbled pointer is table corruption, not a parse bug.
            # Deliberately NOT falling back to max(versions()): the newest
            # version directory may be a fully-written but never-published
            # commit, and silently promoting it would publish data no
            # commit ever acknowledged.
            raise RuntimeError(
                f"{namespace}.{table}: _CURRENT pointer is corrupt "
                f"(content {raw!r}). Existing versions: "
                f"{self.versions(namespace, table)}. Repair by writing the "
                "last known-published version number to _CURRENT."
            ) from None

    def versions(self, namespace: str, table: str) -> list[int]:
        base = self.path(namespace, table)
        if not base.exists():
            return []
        return sorted(
            int(p.name[2:]) for p in base.glob("_v*") if p.name[2:].isdigit()
        )

    def history(self, namespace: str, table: str) -> list[dict]:
        """Delta ``DESCRIBE HISTORY`` parity: one entry per retained
        version, newest first — operation label, parquet file count and
        bytes (from the filesystem, not a log), and whether the version is
        the published snapshot. Vacuumed versions disappear from history
        exactly as Delta's do once their files are gone."""
        cur = self.current_version(namespace, table)
        out = []
        for v in reversed(self.versions(namespace, table)):
            if not self._is_committed(namespace, table, v):
                continue  # crashed writer's claim (empty or half-linked):
                # never a commit — not a history entry (vacuum sweeps it)
            vdir = self.path(namespace, table) / f"_v{v}"
            files = [f for f in vdir.rglob("*.parquet") if f.is_file()]
            op_file = vdir / ".op"
            out.append(
                {
                    "version": v,
                    "operation": op_file.read_text() if op_file.exists() else "WRITE",
                    "n_files": len(files),
                    "bytes": sum(f.stat().st_size for f in files),
                    "is_current": v == cur,
                }
            )
        return out

    # ---- the version commit -----------------------------------------------

    @contextmanager
    def _flock_lock(self, lock: Path, what: str, patience: float):
        """Exclusive fd lock on a PERSISTENT lock file (never unlinked —
        unlinking a flock file reopens the classic race where a late
        opener locks the unlinked inode while a fresh opener locks the
        new one, and both 'hold the lock'). Crash release is the
        kernel's job: a holder's lock dies with its last descriptor, so
        there is no staleness horizon, no heartbeat and no steal. A LIVE
        holder past ``patience`` surfaces as the waiter's TimeoutError —
        flock never breaks in on a merely-slow holder. flock excludes per
        open file description, so two threads of one process exclude
        each other exactly like two processes.

        Healthy queueing never times out: every holder touches the
        file's mtime at acquire, and a waiter that observes the mtime
        move — the lock changed hands, the queue is draining — resets
        its patience. Only a single holder sitting on the lock past
        ``patience`` fires the TimeoutError.

        Only ``BlockingIOError`` (EAGAIN/EWOULDBLOCK) is contention. Any
        other error means the filesystem refuses flock (some NFS mounts
        answer ENOLCK): it re-raises at once, naming the table, instead
        of being retried as contention until the patience runs out —
        writing unlocked would lose updates."""
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            deadline = time.monotonic() + patience
            last_mtime = None
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    pass
                except OSError as exc:
                    raise OSError(
                        exc.errno, f"{what}: flock refused on {lock}: {exc.strerror}"
                    ) from exc
                try:
                    m = os.fstat(fd).st_mtime_ns
                    if m != last_mtime:
                        last_mtime = m
                        deadline = time.monotonic() + patience
                except OSError:
                    pass
                if time.monotonic() > deadline:
                    raise TimeoutError(f"{what} held too long")
                time.sleep(0.01)
            try:
                os.utime(fd)  # hand-off beacon for queued waiters
            except OSError:
                pass
            try:
                yield
            finally:
                try:
                    fcntl.flock(fd, fcntl.LOCK_UN)
                except OSError:
                    pass
        finally:
            os.close(fd)

    @contextmanager
    def _append_lock(self, namespace: str, table: str):
        """Serialize link-forward appends per table: two concurrent appends
        that both link from the same base version would each publish a
        snapshot missing the other's rows (lost update) — the parallel
        silver loads + audit inserts hit exactly this. Held across claim
        + link + write + publish, with _publish's short-lived pointer
        lock (a different file) nesting inside. A big append may hold it
        for as long as its Spark write runs; waiters queue behind it."""
        base = self.path(namespace, table)
        base.mkdir(parents=True, exist_ok=True)
        with self._flock_lock(
            base / ".append.flock",
            f"append lock for {namespace}.{table}",
            self.APPEND_LOCK_PATIENCE,
        ):
            yield

    @contextmanager
    def _claim_keepalive(self, vdir: Path):
        """Keep a claimed-but-unstamped version directory visibly alive for
        the duration of its write. vacuum's phantom sweep treats an
        unstamped ``_vN`` older than PHANTOM_SWEEP_AFTER as a crashed
        writer's debris — but a legitimate long write (a big Spark job can
        stall minutes between file materializations) would age past that
        horizon too, and commit()/overwrite() writers don't hold the append
        lock, so a concurrent vacuum (autovacuum runs on every publish)
        could rmtree the claim mid-write and corrupt the commit. A daemon
        thread os.utime's the claim every LOCK_HEARTBEAT seconds; a
        crashed driver kills the thread with it, the directory ages
        normally, and the sweep is legitimate."""
        stop = threading.Event()

        def _beat() -> None:
            while not stop.wait(self.LOCK_HEARTBEAT):
                try:
                    os.utime(vdir)
                except OSError:
                    return  # claim gone (swept after a crash mid-teardown)
        hb = threading.Thread(target=_beat, daemon=True)
        hb.start()
        try:
            yield
        finally:
            stop.set()

    @staticmethod
    def _link_files(src: Path, vdir: Path, skip: str | None = None) -> None:
        """Hard-link every file of version directory ``src`` into the
        claimed ``vdir``, keeping the tree: one walk, one ``mkdir`` per
        directory and one link per file, zero bytes copied (copies where
        the filesystem refuses links). Never links the ``.op`` stamp:
        writing the new version's label through a shared inode would
        rewrite the SOURCE version's history entry. ``skip`` is a
        relative partition directory left out (the caller rewrites it)."""
        top, out = str(src), str(vdir)
        for d, subdirs, files in os.walk(top):
            rel = d[len(top):]  # "" at the top, else "/<relative dir>"
            if rel:
                os.mkdir(out + rel)
            if skip is not None:
                subdirs[:] = [s for s in subdirs if f"{rel}/{s}"[1:] != skip]
            for name in files:
                if name == ".op":
                    continue
                f, dst = f"{d}/{name}", f"{out}{rel}/{name}"
                try:
                    os.link(f, dst)
                except OSError:
                    shutil.copy2(f, dst)

    def _claim_next(self, namespace: str, table: str) -> tuple[int, Path]:
        """Atomically claim the next version number (mkdir is the claim)."""
        base = self.path(namespace, table)
        base.mkdir(parents=True, exist_ok=True)
        for _ in range(64):
            vs = self.versions(namespace, table)
            nxt = (vs[-1] + 1) if vs else 0
            vdir = base / f"_v{nxt}"
            try:
                vdir.mkdir()  # atomic claim
                return nxt, vdir
            except FileExistsError:
                continue  # lost the race for nxt — re-list, take the next
        raise RuntimeError(
            f"could not claim a version for {namespace}.{table} after 64 "
            "attempts — pathological writer contention"
        )

    @staticmethod
    def _stamp(vdir: Path, op: str) -> None:
        """Record the operation label inside the version directory (written
        before publish, so a published version always carries its stamp).
        The hidden dot-name keeps it out of Spark's parquet file listing."""
        (vdir / ".op").write_text(op)

    def _is_committed(self, namespace: str, table: str, version: int) -> bool:
        """A version directory is a real commit iff it carries the .op
        stamp (written only after its data write succeeded) or is the
        published pointer target. A claim abandoned mid-write — including
        one already half-filled by its link step — fails this test."""
        vdir = self.path(namespace, table) / f"_v{version}"
        return (vdir / ".op").exists() or self.current_version(
            namespace, table
        ) == version

    def _publish(self, namespace: str, table: str, nxt: int) -> None:
        """Monotonic pointer publish under the table's pointer lock.

        Without the monotonicity check, a SLOW writer holding a lower
        claimed version could overwrite a faster writer's already-published
        higher pointer — silently un-publishing an acknowledged commit.
        The lock serializes the read-compare-replace; it protects
        microseconds of driver-side work, so contention is bounded. A
        skipped publish is still a durable commit: the version directory
        exists and time-travel reads it."""
        base = self.path(namespace, table)
        with self._flock_lock(
            base / ".ptr.flock",
            f"pointer lock for {namespace}.{table}",
            self.PTR_LOCK_PATIENCE,
        ):
            cur = self.current_version(namespace, table)
            if cur is not None and cur >= nxt:
                return  # a newer commit already published — never go backwards
            tmp = base / f".ptr.{uuid.uuid4().hex[:8]}"
            # fsync before the rename: os.replace is atomic in the
            # namespace, but without flushing the data blocks first a crash
            # can publish a pointer file whose CONTENT never reached disk.
            with open(tmp, "w") as f:
                f.write(str(nxt))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self._pointer(namespace, table))
        keep = self._retention(namespace, table)
        if keep is not None:
            self.vacuum(namespace, table, keep=keep)

    def _commit_version(
        self,
        namespace: str,
        table: str,
        op: str,
        write,
        link_from: Path | None = None,
        skip: str | None = None,
    ) -> int:
        """The one version commit (steps in the class docstring): claim
        the next version, link ``link_from``'s files forward (minus the
        relative path ``skip``), ``write(vdir)`` the new files into the
        claim, stamp ``op``, publish. Returns the committed version. The
        stamp lands before the publish, so a published version always
        carries its label, and an unstamped directory is never a commit.
        Callers that read the snapshot they build on hold the append
        lock around this call."""
        nxt, vdir = self._claim_next(namespace, table)
        with self._claim_keepalive(vdir):
            if link_from is not None:
                self._link_files(link_from, vdir, skip=skip)
            write(vdir)
            self._stamp(vdir, op)
        self._publish(namespace, table, nxt)
        return nxt

    def _published_dir(self, namespace: str, table: str) -> Path | None:
        cur = self.current_version(namespace, table)
        return None if cur is None else self.path(namespace, table) / f"_v{cur}"

    # ---- writes -----------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        namespace: str,
        table: str,
        op: str = "WRITE",
        partition_by: list[str] | None = None,
    ) -> int:
        """Write the next version and atomically publish it. Returns the
        committed version number.

        Concurrent writers are serialized by optimistic concurrency: the
        version DIRECTORY is the claim — ``mkdir`` is atomic, so exactly
        one writer wins each number and losers re-list and take the next
        (Delta's commit-log contention, file-system edition). Snapshots are
        whole-table, so pointer publication is last-writer-wins; a crashed
        claim leaves an empty ``_vN`` that is never reused, never published,
        and is swept by ``vacuum``."""
        return self._commit_version(
            namespace, table, op,
            lambda vdir: _write_parquet(df, vdir, partition_by),
        )

    def overwrite(
        self,
        df: DataFrame,
        namespace: str,
        table: str,
        partition_by: list[str] | None = None,
    ) -> int:
        """Delta's atomic overwrite: one OVERWRITE commit. Readers of the
        old snapshot keep reading its immutable version; a crash at any
        point leaves the last published snapshot readable. Returns rows
        written.

        ``partition_by`` lays the table out as hive-partitioned directories —
        the SURVEY §4 upgrade that turns the reference's file-NAME pruning
        (timestamped bronze globs) into real partition pruning: a filter on
        the partition column becomes `PartitionFilters` at the scan and
        non-matching directories are never listed."""
        v = self.commit(df, namespace, table, op="OVERWRITE", partition_by=partition_by)
        return self._count_files(self.path(namespace, table) / f"_v{v}")

    def append(
        self,
        df: DataFrame,
        namespace: str,
        table: str,
        partition_by: list[str] | None = None,
    ) -> None:
        """Delta's append commit: new version = prior snapshot (hard-linked
        forward) + the batch's files. Readers on the old version are
        untouched. ``partition_by`` appends into hive-partition
        directories (new partition values create new dirs; existing ones
        gain files)."""
        with self._append_lock(namespace, table):
            self._commit_version(
                namespace, table, "APPEND",
                lambda vdir: _write_parquet(df, vdir, partition_by),
                link_from=self._published_dir(namespace, table),
            )

    def insert_file(self, namespace: str, table: str, name: str, write_fn) -> None:
        """Driver-side single-file insert (the audit row write) as an
        APPEND commit: the snapshot linked forward plus the one file
        ``write_fn(path)`` writes into the claim. No Spark job, and every
        row lands in a readable published version."""
        with self._append_lock(namespace, table):
            self._commit_version(
                namespace, table, "APPEND",
                lambda vdir: write_fn(vdir / name),
                link_from=self._published_dir(namespace, table),
            )

    def append_evolve(self, df: DataFrame, namespace: str, table: str) -> None:
        """Schema-evolving append — the Delta ``mergeSchema`` write twin
        (`4_silver` MERGEs rely on Delta's implicit evolution). New columns
        are allowed (older rows read as NULL under ``read(...,
        merge_schema=True)``); dropping columns is allowed (newer files
        simply lack them); CHANGING an existing column's type is rejected
        up front, because parquet footer-merge would otherwise fail at read
        time with an opaque error far from the offending write."""
        if self.exists(namespace, table):
            current = {
                f.name: f.dataType
                for f in self.read(namespace, table, merge_schema=True).schema
            }
            # compare on simpleString: nested NULLABILITY differences
            # (ArrayType.containsNull, StructField.nullable) are merge-
            # compatible in parquet and must not block an append — strict
            # DataType equality rejected array<int> vs array<int> whose
            # only difference was containsNull
            clashes = [
                f"{f.name}: table {current[f.name].simpleString()} vs "
                f"batch {f.dataType.simpleString()}"
                for f in df.schema
                if f.name in current
                and f.dataType.simpleString() != current[f.name].simpleString()
            ]
            if clashes:
                raise TypeError(
                    f"append_evolve into {namespace}.{table} would change "
                    f"column types: {'; '.join(clashes)}"
                )
        self.append(df, namespace, table)

    def restore(self, namespace: str, table: str, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF v`` parity: publish a
        NEW commit whose content is the snapshot at ``version``. History is
        preserved — the restore itself is a version, so it can be undone by
        another restore, exactly like Delta's (reference storage layer is
        Delta, `4_silver/silver_transactions.py:50`; RESTORE is its standard
        rollback path after a bad load).

        Metadata-cost only: the immutable parquet files of the source
        snapshot are HARD-LINKED into the new version directory (O(#files),
        zero bytes rewritten — the same trick as Delta re-adding files to
        the log). Falls back to copy when the filesystem refuses links.
        ``vacuum`` stays safe: removing either directory just drops a link.
        """
        src = self.path(namespace, table) / f"_v{version}"
        if not src.exists():
            raise FileNotFoundError(
                f"{namespace}.{table} version {version} not found (vacuumed?)"
            )
        if not self._is_committed(namespace, table, version):
            # a crashed writer's claim — empty, OR half-filled by a failed
            # link-forward/write (the stamp is written only after a
            # successful write, so an unstamped non-current directory is
            # never a real commit and must not be promotable to current)
            raise FileNotFoundError(
                f"{namespace}.{table} version {version} is an unpublished "
                "crashed claim — not restorable"
            )
        return self._commit_version(
            namespace, table, f"RESTORE v{version}", lambda vdir: None,
            link_from=src,
        )

    def overwrite_zordered(
        self,
        df: DataFrame,
        namespace: str,
        table: str,
        x: str,
        y: str,
        target_files: int = 32,
    ) -> int:
        """Overwrite with Z-order clustering on two pre-reduced 16-bit
        dimension columns (`OPTIMIZE ZORDER BY` on plain parquet): rows are
        range-partitioned and sorted by the morton interleave of (x, y), so
        each file's min/max footer stats are tight on BOTH columns and a
        filter on EITHER skips most files — one sorted axis can only give
        that for its leading column. ``x``/``y`` must already be in
        0..65535 (modulo / bucketed rank / epoch-day); see
        functions/zorder.py. Returns rows written."""
        from ..functions.zorder import morton_key

        clustered = (
            df.withColumn("_z", morton_key(x, y))
            .repartitionByRange(target_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        # repartitionByRange needs the key at plan time, so _z is computed,
        # used for the exchange+sort, and dropped before the files land
        return self.overwrite(clustered, namespace, table)

    def compact(
        self,
        namespace: str,
        table: str,
        target_files: int,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Small-file compaction (the reference lists OPTIMIZE as future
        work — README.md:65; SURVEY §4): rewrite the table into
        ``target_files`` files, optionally range-clustered on ``cluster_by``
        so parquet row-group min/max stats give data-skipping on those
        columns (the poor man's Z-order for a single sort axis). Incremental
        append loads (M2/M4) accrete one file per batch; compaction restores
        scan efficiency.

        One OVERWRITE commit under the append lock: an append publishing
        between the snapshot read and the compacted commit would otherwise
        be lost from the new version. Returns the resulting FILE count
        (``compact_partition`` returns the committed version number)."""
        with self._append_lock(namespace, table):
            df = self.read(namespace, table)
            if cluster_by:
                df = df.repartitionByRange(target_files, *cluster_by).sortWithinPartitions(
                    *cluster_by
                )
            else:
                df = df.repartition(target_files)
            self.overwrite(df, namespace, table)
            return len(list(self.data_dir(namespace, table).glob("*.parquet")))

    def compact_partition(
        self,
        namespace: str,
        table: str,
        partition: str,
        target_files: int = 1,
    ) -> int:
        """Delta ``OPTIMIZE table WHERE partition`` parity: rewrite ONE
        partition directory (e.g. ``"bucket=7"`` or nested
        ``"d=2024-01-01/h=4"``) compacted, as a new versioned commit whose
        every OTHER file is hard-linked forward — cost is O(partition
        bytes) + O(#files) links, never O(table). This is the 100 TB form
        of small-file control: whole-table ``compact`` rewrites the corpus
        per call, which a continuously-appending partitioned store (the
        dedup sink's date/bucket layout at scale) cannot afford; here each
        fragmented partition is optimized locally while readers keep
        snapshot isolation and history keeps an ``OPTIMIZE`` entry.
        Returns the committed version number.

        Serialized against concurrent appends via ``_append_lock``:
        without it, an append publishing between this method's snapshot
        read and its publish would be silently absent from the compacted
        version (lost update) — for the dedup sink's signature store that
        means duplicate signatures defeat the anti-join replay guard and
        near-dup candidates vanish."""
        with self._append_lock(namespace, table):
            src = self.data_dir(namespace, table)
            pdir = src / partition
            if not pdir.is_dir():
                raise FileNotFoundError(
                    f"{namespace}.{table} {src.name[1:]} has no partition "
                    f"{partition!r}"
                )
            # basePath keeps the partition columns during the read; they are
            # dropped before writing back INTO the partition directory (the
            # directory name is the value)
            df = (
                self.spark.read.option("basePath", str(src))
                .parquet(str(pdir))
                .repartition(target_files)
            )
            for part in partition.split("/"):
                df = df.drop(part.split("=", 1)[0])
            return self._commit_version(
                namespace, table, f"OPTIMIZE {partition}",
                lambda vdir: _write_parquet(df, vdir / partition),
                link_from=src, skip=partition,
            )

    def overwrite_bucketed(
        self,
        df: DataFrame,
        namespace: str,
        table: str,
        bucket_cols: list[str],
        n_buckets: int,
    ) -> str:
        """Bucketed managed table (`<namespace>__<table>` in the session
        catalog): rows are hash-bucketed and sorted on ``bucket_cols`` at
        write time, so equi-joins/aggregations between tables bucketed on
        the same key plan with NO Exchange — the shuffle is prepaid once at
        load. This is the co-located-join layout for repeated big-big joins
        (fact↔fact at 100 TB); Delta/Iceberg equivalents: bucket transform
        partitioning. Returns the catalog table name.
        """
        name = f"{namespace}__{table}"
        # a previous JVM may have left the managed location behind without a
        # catalog entry (LOCATION_ALREADY_EXISTS on saveAsTable) — drop both
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        wh_dir = self.spark.conf.get("spark.sql.warehouse.dir", "")
        if wh_dir.startswith("file:"):
            wh_dir = wh_dir[5:]
        orphan = Path(wh_dir) / name.lower() if wh_dir else None
        if orphan and orphan.exists():
            shutil.rmtree(orphan)
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .format("parquet")
            .saveAsTable(name)
        )
        return name

    def read_bucketed(self, namespace: str, table: str) -> DataFrame:
        return self.spark.table(f"{namespace}__{table}")

    def archive(
        self,
        namespace: str,
        table: str,
        stamp: str,
        archive_namespace: str = "archive",
    ) -> str | None:
        """S14 — archive-copy+delete rotation before a full reload
        (pl_sql_copy_bronze.json:148-277: the reference copies the prior
        bronze file into an archive folder, then deletes it, before landing
        the fresh full copy). Returns the archived table name, or None if
        there was nothing to rotate. On object storage this is a cheap
        server-side copy/rename; here it is one atomic directory rename of
        the whole table, history included, so no file is copied."""
        if not self.exists(namespace, table):
            return None
        src = self.path(namespace, table)
        archived = f"{table}_{stamp}"
        dst = self.path(archive_namespace, archived)
        dst.parent.mkdir(parents=True, exist_ok=True)
        if dst.exists():
            shutil.rmtree(dst)
        os.replace(src, dst)
        return archived

    def drop(self, namespace: str, table: str) -> None:
        p = self.path(namespace, table)
        if p.exists():
            shutil.rmtree(p)

    # A claim directory younger than this is treated as a possibly-in-flight
    # write and never swept. LIVE writers keep their claim's mtime fresh for
    # the whole write via _claim_keepalive (every LOCK_HEARTBEAT seconds), so
    # a claim that HAS aged past this horizon belongs to a dead process. The
    # append lock cannot stand in for this: commit()/overwrite() writers hold
    # no append lock at all.
    PHANTOM_SWEEP_AFTER = 600.0

    def vacuum(self, namespace: str, table: str, keep: int = 2) -> list[int]:
        """Drop all but the newest `keep` COMMITTED versions (never the
        published one). Returns removed version numbers.

        The keep-window is computed over committed versions only: a crashed
        writer's phantom claim (typically the highest number) must not
        occupy a newest-keep slot and silently cost one real committed
        version its time-travel history. Phantoms are swept too, but only
        once older than PHANTOM_SWEEP_AFTER — a young unstamped directory
        may be a slow writer's still-in-flight commit, and deleting it
        mid-write would corrupt that commit."""
        vs = self.versions(namespace, table)
        cur = self.current_version(namespace, table)
        if keep <= 0:
            return []
        committed = [v for v in vs if self._is_committed(namespace, table, v)]
        kept = set(committed[-keep:])
        now = time.time()
        removable = []
        for v in vs:
            if v == cur or v in kept:
                continue
            vdir = self.path(namespace, table) / f"_v{v}"
            if v not in committed:
                try:
                    if now - vdir.stat().st_mtime <= self.PHANTOM_SWEEP_AFTER:
                        continue  # possibly in-flight — leave it
                except OSError:
                    continue
            removable.append(v)
        for v in removable:
            shutil.rmtree(self.path(namespace, table) / f"_v{v}")
        return removable
