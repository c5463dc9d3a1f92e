"""Writer library — the storage contract PostgreSQL gave the reference for
free, re-expressed over immutable Parquet (SURVEY §2.8 W1-W7).

Semantics implemented:

- ``read``            — the table's declared shape (``schemas.TABLES``),
  never one inferred from Parquet footers: the read starts no Spark job,
  columns come back in DDL order (partition columns included), and a
  table never written — or a version directory with no data files, as a
  zero-row partitioned write leaves — reads as empty.
- ``upsert_ignore``   — W1: ``INSERT … ON CONFLICT (pk) DO NOTHING``
  (estimate-transform-load.rkt:195 et al.): dedup the batch on PK, anti-join
  against the stored PKs, append only the new keys. Re-runs are no-ops.
- ``overwrite``       — wholesale rewrite: the calendar loaders' fused
  W4/W5/W1 merge (earnings-calendar-transform-load.rkt:45-51, :79-87;
  ``merge_calendar``) lands through it.
- ``delete_where``    — W6/J3 (earnings-calendar-transform-load.rkt:109-148):
  anti-join the stored table against a condemned-keys DataFrame, rewrite.
- W7 ``vacuum``       — every pointer flip drops the superseded versions
  (``_gc``); ``compact`` rewrites the live version with one file per
  partition value (``runner compact``).

Atomicity & scale:

- Appends use Spark's job-level atomic commit (``_SUCCESS`` protocol) — at
  1000-executor scale this is the same guarantee a Delta append gives minus
  concurrent-writer isolation, which the reference never needed (single
  sequential loader per table). The single-writer assumption is *enforced*,
  not assumed: every mutating method takes an advisory per-table lock file
  and a second concurrent writer fails fast with ``ConcurrentWriteError``
  (swap in Delta/Iceberg when true multi-writer transactions are needed).
- Rewrites (overwrite/delete) write to a fresh versioned directory and flip a
  pointer file, so readers never observe a half-written table and the swap
  is O(1) metadata, not data movement. This is the plain-Parquet stand-in
  for Delta's transaction log, per BASELINE.json's "DataFrame ops + Parquet
  write" approach.
- The W1 anti-join never materializes the full stored history on one
  machine: the stored side is partition-pruned to the batch's own
  partition values (a metadata-bounded scan on the hive layout) and
  column-pruned to the PK before the join, and no broadcast is forced —
  AQE broadcasts the pruned key set when it fits and falls back to a
  shuffle join when it doesn't. At 100 TB the join cost is O(touched
  partitions), not O(table history) — verified in tests via ``explain``.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import socket
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.schemas import PRIMARY_KEYS, TABLES

_POINTER = "_CURRENT"
_LOCK = "_LOCK"
_PIN_PREFIX = "_PIN_"

_HOSTNAME = socket.gethostname()

#: write-lock / reader-pin lease: a holder older than this (or whose
#: recorded pid is dead on this host) may be taken over instead of
#: requiring manual removal after a crash.
_LEASE_SECONDS = 3600.0

#: upper bound on distinct partition values collected from a batch for
#: stored-side partition pruning in ``upsert_ignore``. Real loader
#: batches touch one or a handful of dates; a batch touching more
#: partitions than this skips the literal predicate (the broad scan is
#: then legitimate) instead of building a megabyte IN-list.
_MAX_PRUNE_PARTITIONS = 1000


class ConcurrentWriteError(RuntimeError):
    """A second writer touched a table mid-write. The store is
    single-writer by design (the reference got real transactions from
    Postgres; its loaders are sequential per table) — this error makes
    the assumption *detected* instead of silently corrupting."""


class _Snapshot:
    """Handle yielded by ``TableStore.snapshot()``: reads resolve to the
    pinned version, immune to concurrent pointer flips + GC."""

    def __init__(self, store: "TableStore", version: str) -> None:
        self.store = store
        self.version = version

    def read(self) -> DataFrame:
        return self.store.read(version=self.version)

#: hive-style partition layout per table (SURVEY §1.4): the snapshot
#: tables are date-driven in every loader and dump loop, so partitioning
#: by the snapshot/event date makes the per-date dump scans, the calendar
#: horizon deletes (date >= folder_date), and incremental upserts prune
#: to the touched partitions. At 100 TB this is the difference between a
#: metadata-bounded operation and a full-table scan. At most one column
#: per table; tables not listed here are unpartitioned.
DEFAULT_PARTITIONING: dict[str, tuple[str, ...]] = {
    "rank_score": ("date",),
    "eps_estimate": ("date",),
    "sales_estimate": ("date",),
    "eps_revision": ("date",),
    "eps_perception": ("date",),
    "eps_history": (),            # keyed by period_end_date, small
    "earnings_calendar": (),      # small; rewritten wholesale each run
    "dividend_calendar": (),
    "income_statement": ("period",),
    "balance_sheet_assets": ("period",),
    "balance_sheet_liabilities": ("period",),
    "balance_sheet_equity": ("period",),
    "cash_flow_statement": ("period",),
}


@dataclass
class TableStore:
    """A named Parquet table rooted at ``<root>/<name>`` with versioned
    current-pointer layout::

        <root>/<name>/_CURRENT      # text file: name of live version dir
        <root>/<name>/v-<uuid>/     # parquet dataset versions

    The pointer flip makes rewrites atomic for readers on any filesystem
    with atomic rename (local, HDFS; on object stores the pointer object
    PUT is atomic). The partition layout is ``DEFAULT_PARTITIONING[name]``.
    """

    spark: SparkSession
    root: str
    name: str

    def _partition_cols(self) -> tuple[str, ...]:
        return DEFAULT_PARTITIONING.get(self.name, ())

    @property
    def path(self) -> str:
        return os.path.join(self.root, self.name)

    def _pointer_path(self) -> str:
        return os.path.join(self.path, _POINTER)

    def current_version(self) -> str | None:
        p = self._pointer_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            v = f.read().strip()
        return v or None

    def _live_dir(self) -> str | None:
        v = self.current_version()
        return os.path.join(self.path, v) if v else None

    def exists(self) -> bool:
        return self._live_dir() is not None

    # -- read ---------------------------------------------------------------

    def read(self, version: str | None = None) -> DataFrame:
        """Current table contents (or a retained ``version``, which only
        ``snapshot()`` pins), read against the declared schema; empty if
        never written."""
        schema = TABLES[self.name]
        if version is not None:
            vdir = os.path.join(self.path, version)
            if not os.path.isdir(vdir):
                raise ValueError(f"version {version} of table {self.name} "
                                 "is not retained")
        else:
            vdir = self._live_dir()
            if vdir is None:
                return self.spark.createDataFrame([], schema)
        return (self.spark.read.schema(schema).parquet(vdir)
                .select(*schema.fieldNames()))

    def live_rows(self) -> int:
        """Row count of the live version, read from its Parquet footers:
        no Spark job. Skips the ``_``/``.``-prefixed paths Spark's reader
        skips (``_temporary`` of an aborted append, checksums)."""
        vdir = self._live_dir()
        if vdir is None:
            return 0
        rows = 0
        for d, dirs, files in os.walk(vdir):
            dirs[:] = [n for n in dirs if not n.startswith(("_", "."))]
            rows += sum(pq.read_metadata(os.path.join(d, f)).num_rows
                        for f in files
                        if f.endswith(".parquet") and not f.startswith(("_", ".")))
        return rows

    # -- write primitives ---------------------------------------------------

    def _write_version(self, df: DataFrame) -> str:
        version = f"v-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, version)
        writer = df.write.mode("overwrite")
        parts = self._partition_cols()
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(out)
        return version

    def _flip(self, version: str) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._pointer_path() + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, self._pointer_path())  # atomic on POSIX

    def _gc(self, keep: str) -> None:
        """Drop every version dir but the live one ``keep`` right after
        the flip (reference W7 ``vacuum``) — including orphans a crash
        between version write and flip left behind. Versions held by a
        live reader pin (``snapshot()``) are never dropped; stale pins —
        dead pid on this host, or lease-expired — are reaped here, so a
        crashed reader cannot hold retention hostage."""
        retained = {keep}
        entries = os.listdir(self.path)
        for entry in entries:
            if not entry.startswith(_PIN_PREFIX):
                continue
            pin = os.path.join(self.path, entry)
            if self._lock_is_stale(pin):
                with contextlib.suppress(OSError):
                    os.unlink(pin)
            else:
                retained.add(entry[len(_PIN_PREFIX):].split(".", 1)[0])
        for entry in entries:
            if entry.startswith("v-") and entry not in retained:
                shutil.rmtree(os.path.join(self.path, entry),
                              ignore_errors=True)

    @contextlib.contextmanager
    def snapshot(self):
        """Pin the live version for the duration of a long multi-action read
        job. ``read()`` resolves ``_CURRENT`` at call time, so a job
        that triggers several Spark actions can otherwise span a
        concurrent writer's pointer flip *and* the GC of the version it
        started on — the classic torn-read at scale. The pin is a lease
        file (same pid/host/at format as the write lock); ``_gc``
        retains pinned versions and reaps provably-dead pins.

        Yields a reader handle with ``.version`` and ``.read()``::

            with store.snapshot() as snap:
                df = snap.read()          # stable across writer flips
        """
        version = self.current_version()
        if version is None or not os.path.isdir(
                os.path.join(self.path, version)):
            raise ValueError(f"cannot pin: version {version!r} of table "
                             f"{self.name} is not retained")
        pin = os.path.join(
            self.path, f"{_PIN_PREFIX}{version}.{uuid.uuid4().hex[:8]}")
        now = datetime.datetime.now(datetime.timezone.utc).isoformat()
        with open(pin, "w") as f:
            f.write(f"pid={os.getpid()} host={_HOSTNAME} at={now}")
        if not os.path.isdir(os.path.join(self.path, version)):
            # lost the race with a GC that scanned before our pin landed
            with contextlib.suppress(OSError):
                os.unlink(pin)
            raise ValueError(f"version {version} of table {self.name} "
                             "was vacuumed while pinning; retry")
        try:
            yield _Snapshot(self, version)
        finally:
            with contextlib.suppress(OSError):
                os.unlink(pin)

    def compact(self) -> None:
        """Rewrite the live version with consolidated files — the plain-
        Parquet analog of Delta ``OPTIMIZE`` for the small-file buildup
        that incremental ``upsert_ignore`` appends create (each append
        adds files; at scale a dump or scan then reads thousands of tiny
        files per partition). Partitioned tables repartition on their
        partition columns so each value lands in one file; unpartitioned
        tables coalesce to one file."""
        with self.write_lock():
            df = self.read()
            parts = self._partition_cols()
            if parts:
                df = df.repartition(*[F.col(c) for c in parts])
            else:
                df = df.coalesce(1)
            self._overwrite_locked(df)

    def _lock_is_stale(self, lock: str) -> bool:
        """A holder is provably dead when it ran on this host and its pid
        is gone, or when its lease (``at`` + ``_LEASE_SECONDS``) expired —
        the cross-host case, where liveness can't be probed. Unparsable
        lock files fall back to the file mtime for the lease check."""
        try:
            with open(lock) as fh:
                fields = dict(kv.split("=", 1) for kv in
                              fh.read().strip().split(" ") if "=" in kv)
        except OSError:
            return False  # vanished or unreadable: let the retry decide
        host = fields.get("host")
        pid = fields.get("pid")
        if host == _HOSTNAME and pid and pid.isdigit():
            try:
                os.kill(int(pid), 0)
            except ProcessLookupError:
                return True       # same host, pid gone: provably dead
            except PermissionError:
                pass              # alive under another uid
        try:
            at = datetime.datetime.fromisoformat(fields["at"])
            age = (datetime.datetime.now(datetime.timezone.utc)
                   - at).total_seconds()
        except (KeyError, ValueError):
            try:
                age = max(0.0, (datetime.datetime.now().timestamp()
                                - os.path.getmtime(lock)))
            except OSError:
                return False
        return age > _LEASE_SECONDS

    @contextlib.contextmanager
    def write_lock(self):
        """Advisory single-writer lock: an O_EXCL-created ``_LOCK`` file
        under the table dir (atomic on POSIX/HDFS; object stores need a
        conditional PUT — documented limitation). Every mutating method
        takes it, so two concurrent pipelines writing one table fail fast
        with ``ConcurrentWriteError`` instead of racing the pointer flip.

        The lock is a LEASE: it records pid/host/timestamp, and a new
        writer may take over when the holder is provably dead (same host,
        pid gone) or the lease aged past ``_LEASE_SECONDS`` — so a crashed
        pipeline no longer needs manual lock removal. Takeover claims the
        stale file via atomic rename before recreating it, so two
        simultaneous reclaimers can't each unlink the other's fresh lock;
        the rename loser sees the file gone and retries the O_EXCL create.
        """
        os.makedirs(self.path, exist_ok=True)
        lock = os.path.join(self.path, _LOCK)
        fd = None
        for attempt in range(2):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if attempt == 0 and self._lock_is_stale(lock):
                    claimed = f"{lock}.stale-{uuid.uuid4().hex[:8]}"
                    with contextlib.suppress(OSError):
                        os.rename(lock, claimed)
                        os.unlink(claimed)
                    continue
                try:
                    with open(lock) as fh:
                        holder = fh.read().strip()
                except OSError:
                    holder = "unknown"
                raise ConcurrentWriteError(
                    f"table {self.name} is locked by another writer "
                    f"({holder}); lease expires {_LEASE_SECONDS}s "
                    f"after its 'at' stamp, or remove {lock} manually"
                ) from None
        try:
            now = datetime.datetime.now(datetime.timezone.utc).isoformat()
            os.write(fd, f"pid={os.getpid()} host={_HOSTNAME} "
                         f"at={now}".encode())
            os.close(fd)
            yield
        finally:
            with contextlib.suppress(OSError):
                os.unlink(lock)

    def _overwrite_locked(self, df: DataFrame) -> None:
        version = self._write_version(df)
        old = self.current_version()
        self._flip(version)
        if old:
            self._gc(keep=version)

    def overwrite(self, df: DataFrame) -> None:
        with self.write_lock():
            self._overwrite_locked(df)

    # -- reference write semantics -----------------------------------------

    def _fresh_rows(self, deduped: DataFrame,
                    pk: tuple[str, ...]) -> DataFrame:
        """The W1 anti-join: batch rows whose PK is not already stored.

        The stored side is pruned two ways before it reaches the join:

        - **partition-pruned** to the batch's own partition values (the
          touched dates/periods — collected from the batch, bounded by
          ``_MAX_PRUNE_PARTITIONS``). On the hive layout this is a
          metadata-bounded scan of only the touched partitions, mirroring
          the O(batch) cost of the reference's ``ON CONFLICT DO NOTHING``
          (estimate-transform-load.rkt:195) — Postgres probes a PK index
          per row; we scan only the partitions the batch can collide with.
        - **column-pruned** to the PK.

        No broadcast is forced: after pruning, AQE broadcasts the key set
        when it fits and picks a shuffle join when it doesn't, so an
        unbounded table history can never be pushed through the driver.
        (Only the join's right side could be broadcast in a left_anti —
        hinting it with the *stored* set, as a naive reading suggests,
        inverts the intended plan.)
        """
        stored = self.read()
        parts = [c for c in self._partition_cols() if c in deduped.columns]
        if parts:
            part = parts[0]   # DEFAULT_PARTITIONING: one column at most
            vals = (deduped.select(part).distinct()
                    .limit(_MAX_PRUNE_PARTITIONS + 1).collect())
            if len(vals) <= _MAX_PRUNE_PARTITIONS:
                stored = stored.filter(F.col(part).isin([r[0] for r in vals]))
        existing_keys = stored.select(*pk).distinct()
        return deduped.join(existing_keys, on=list(pk), how="left_anti")

    def upsert_ignore(self, batch: DataFrame) -> None:
        """W1 — first-write-wins idempotent insert.

        1. dedup the batch on PK, one arbitrary row per key (a loader
           that needs a specific winner, e.g. the earliest folder date,
           dedups before it calls this),
        2. anti-join against stored PKs, with the stored side partition-
           pruned to the batch's partition values and column-pruned to
           the PK (see ``_fresh_rows`` for the at-scale rationale),
        3. append.
        """
        pk = PRIMARY_KEYS[self.name]
        deduped = batch.dropDuplicates(list(pk))

        with self.write_lock():
            live = self._live_dir()
            if live is None:
                self._overwrite_locked(deduped)
                return
            fresh = self._fresh_rows(deduped, pk)
            # Parquet append is job-atomic (_SUCCESS); same live version
            # dir. With a partitioned layout only the touched partitions
            # gain files.
            writer = fresh.write.mode("append")
            parts = self._partition_cols()
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(live)

    def delete_where(self, condemned_keys: DataFrame, on: list[str]) -> None:
        """W6/J3 — delete-via-join: remove stored rows matching
        ``condemned_keys`` (equi on ``on``), via left_anti + rewrite. No
        join hint: AQE sees the condemned set's real size at run time
        and broadcasts it when it is small."""
        with self.write_lock():
            kept = self.read().join(condemned_keys, on=on, how="left_anti")
            self._overwrite_locked(kept)

