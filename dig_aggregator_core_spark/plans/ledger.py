"""Parquet-backed provenance ledgers: `runs` and `runstatus`.

Reproduces the reference's MySQL tables and their upsert semantics
(reference runs.sql:1-12, Runs.scala:77-116; runstatus.sql:1-12,
RunStatus.scala:56-128) on plain Parquet. Like the reference, which keeps
this bookkeeping in a database next to the driver, the ledger never runs on
the cluster: every read, merge and write is pyarrow on the driver, so a
commit costs milliseconds, not a Spark job.

- upsert on the unique key = the old rows whose key is absent from the new
  ones (an Arrow left-anti join) plus the new rows, written as a NEW
  versioned directory (`v=N+1`) holding one Parquet file — no
  read-modify-overwrite of the directory being scanned, and the previous
  version remains readable until the new one is committed (poor-man's
  snapshot isolation; Delta MERGE INTO is the drop-in upgrade where the
  dependency is allowed);
- CONCURRENT writers are safe: every read-merge-write cycle runs under an
  exclusive flock on `<table>/.lock`, so two simultaneous upserts serialize
  and neither loses the other's rows — the semantics the reference gets for
  free from MySQL's ON DUPLICATE KEY UPDATE (Runs.scala:93-102). flock is
  released by the OS on process death (no stale-lock protocol needed), and
  the ledger is constrained to the local filesystem (checked below), where
  flock is reliable. Readers never take the lock: they see the last
  committed version. An object-store deployment swaps this class for a
  transactional table format;
- `RunStatus.insert` on an existing key RESETS started/ended to NULL
  (RunStatus.scala:79-83 — pinned by the ported RunsStatusTest).

On disk, timestamps are `timestamp[us, tz=UTC]`, which Spark reads as
TimestampType, so `spark.read.schema(RUNS_SCHEMA).parquet(...)` reads any
version. Versions written by Spark store INT96, which pyarrow reads as
naive nanoseconds; those are read as UTC, like every naive datetime here.

The ledger is metadata (one row per processed input-output), orders of
magnitude smaller than the data, so these merges stay cheap at any scale.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import Optional

try:  # POSIX only; the sandbox and every target deployment are Linux
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX fallback, best effort
    fcntl = None  # type: ignore[assignment]

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from .inputs import Input

RUNS_SCHEMA = T.StructType(
    [
        T.StructField("project", T.StringType(), False),
        T.StructField("method", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("input", T.StringType(), False),
        T.StructField("version", T.TimestampType(), False),
        T.StructField("output", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
    ]
)

RUNSTATUS_SCHEMA = T.StructType(
    [
        T.StructField("project", T.StringType(), False),
        T.StructField("method", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("output", T.StringType(), False),
        T.StructField("started", T.TimestampType(), True),
        T.StructField("ended", T.TimestampType(), True),
        T.StructField("created", T.TimestampType(), False),
    ]
)

_ARROW_TYPES = {"string": pa.string(), "timestamp": pa.timestamp("us", tz="UTC")}


def utc_now() -> datetime:
    """UTC wall clock (reference pins UTC everywhere: Implicits.scala:16)."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _arrow_schema(schema: T.StructType) -> pa.Schema:
    return pa.schema(
        pa.field(f.name, _ARROW_TYPES[f.dataType.typeName()], f.nullable)
        for f in schema.fields
    )


def _match(table: pa.Table, where: dict) -> pa.ChunkedArray:
    """Row mask: every column equals its value (or is in it, for a list)."""
    mask = None
    for col, value in where.items():
        hit = (
            pc.is_in(table[col], value_set=pa.array(value, pa.string()))
            if isinstance(value, list)
            else pc.equal(table[col], value)
        )
        mask = hit if mask is None else pc.and_(mask, hit)
    return mask


def _naive_rows(table: pa.Table) -> list[Row]:
    """Rows with naive-UTC datetimes, the shape `DataFrame.collect` gives
    under the UTC session the package pins."""
    naive = table.cast(
        pa.schema(
            f.with_type(pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
            for f in table.schema
        )
    )
    return [Row(**r) for r in naive.to_pylist()]


class _VersionedTable:
    """A Parquet table stored as versioned subdirectories `v=N`; the
    current state is the highest N. Writes create N+1."""

    def __init__(self, path: str, schema: T.StructType):
        # version discovery/GC walks the local filesystem (os.listdir /
        # shutil) and reads/writes are local pyarrow files — a remote path
        # would list nothing and then collide on v=0. Fail loudly instead.
        if re.match(r"^[a-z][a-z0-9+.-]*://", path) and not path.startswith(
            "file://"
        ):
            raise ValueError(
                f"ledger path must be on the local filesystem, got {path!r}; "
                "for object-store ledgers use a transactional table format "
                "(e.g. Delta MERGE INTO) instead of the versioned-directory "
                "ledger"
            )
        self.path = path[len("file://"):] if path.startswith("file://") else path
        self.schema = _arrow_schema(schema)

    @contextmanager
    def locked(self):
        """Exclusive writer lock for one read-merge-write cycle.

        flock on `<table>/.lock`: mutual exclusion across processes AND
        across threads of one process (each holder opens its own fd, and
        flock serializes per open file description). Reentrancy is not
        needed — every public mutator takes the lock exactly once.
        """
        if fcntl is None:  # pragma: no cover - non-POSIX
            yield
            return
        os.makedirs(self.path, exist_ok=True)
        fd = open(os.path.join(self.path, ".lock"), "a")
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            fd.close()

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(m.group(1))
            for d in os.listdir(self.path)
            if (m := re.fullmatch(r"v=(\d+)", d))
        )

    def exists(self) -> bool:
        return bool(self._versions())

    def migrate(self) -> None:
        """CREATE TABLE IF NOT EXISTS (reference Runs.scala:36-45)."""
        with self.locked():
            if not self.exists():
                # losing the publish race means someone else migrated —
                # exactly the IF NOT EXISTS semantics, so ignore the loss
                # (real failures propagate out of _publish; verify the
                # IF-NOT-EXISTS outcome all the same)
                staged = self._stage(self.schema.empty_table())
                if not self._publish(staged, 0) and not self.exists():
                    raise RuntimeError(
                        f"ledger migrate lost the v=0 race at {self.path!r}"
                        " but no version exists afterwards"
                    )

    def drop(self) -> None:
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)

    def read(self) -> pa.Table:
        return self._read_version((self._versions() or [-1])[-1])

    def _read_version(self, v: int) -> pa.Table:
        if v < 0:
            return self.schema.empty_table()
        # Spark-written versions order columns by its join output and
        # store INT96 (naive ns): select by name, cast to the UTC schema
        table = pq.read_table(f"{self.path}/v={v}")
        return table.select(self.schema.names).cast(self.schema)

    # ------------------------------------------------- CAS commit protocol
    #
    # A write is STAGE then PUBLISH:
    #   stage   — write the merged table to a hidden `.staged-<uuid>` dir
    #             (invisible to readers: version discovery matches `v=N`);
    #   publish — atomically install the staged dir as `v=base+1`, failing
    #             if that version already exists (someone else committed
    #             first). Locally the primitive is os.rename, which the
    #             kernel refuses atomically when the destination is a
    #             non-empty directory; on an object store the same seam is
    #             a conditional put (S3 If-None-Match / GCS
    #             x-goog-if-generation-match:0) of the version's commit
    #             marker. _publish is the ONLY primitive a remote backend
    #             needs to override.
    #
    # A failed publish means the snapshot the merge read is stale: the
    # caller re-reads the (new) latest version, re-merges, and retries —
    # optimistic concurrency, no lock required for correctness. flock
    # remains as the LOCAL fast path so co-located writers serialize
    # without burning merge work on doomed attempts; the CAS loop beneath
    # it is what survives deployments where flock does not exist
    # (reference gets both properties from MySQL ON DUPLICATE KEY UPDATE,
    # Runs.scala:93-102).

    _CAS_MAX_RETRIES = 16

    def _stage(self, table: pa.Table) -> str:
        import shutil
        import uuid

        staged = os.path.join(self.path, f".staged-{uuid.uuid4().hex}")
        try:
            os.makedirs(staged)
            # ledger is metadata-sized: one file keeps listing cheap
            pq.write_table(
                table.cast(self.schema), os.path.join(staged, "part-0.parquet")
            )
        except BaseException:
            # a failed/interrupted write must not abandon a half-written
            # .staged-* orphan on the shared ledger path
            shutil.rmtree(staged, ignore_errors=True)
            raise
        return staged

    def _publish(self, staged: str, version: int) -> bool:
        import errno
        import shutil

        try:
            os.rename(staged, os.path.join(self.path, f"v={version}"))
            return True
        except OSError as e:
            # Two errnos are lost races; the rest are genuine failures
            # that must propagate, not read as "someone else committed"
            # (EACCES/ENOSPC/EXDEV previously burned all retries and
            # raised a misleading lost-races error; in migrate() it
            # silently skipped CREATE):
            #  - ENOTEMPTY/EEXIST: contended DESTINATION — rename onto an
            #    existing non-empty v= dir; a peer committed first.
            #  - ENOENT on the SOURCE: a peer's _gc reaped our .staged-*
            #    dir because the stage-to-publish window exceeded
            #    _STAGED_ORPHAN_GRACE_S (long stall, or cross-node clock
            #    skew beyond the grace on a shared filesystem). Our
            #    staged data is gone, so treat it as a lost race and let
            #    the commit loop re-merge + re-stage (ADVICE r8; pre-r8
            #    behavior, now deliberate).
            shutil.rmtree(staged, ignore_errors=True)
            if e.errno in (errno.EEXIST, errno.ENOTEMPTY, errno.ENOENT):
                return False
            raise

    def _read_merge_commit(self, merge_fn) -> None:
        """Optimistic read-merge-publish loop: pin the base version, merge
        against that snapshot, publish as base+1; on a lost race re-merge
        against the winner's table. Bounded retries — contention on a
        metadata table is writer-count-bounded, so hitting the bound
        indicates a livelock bug, not load."""
        for _ in range(self._CAS_MAX_RETRIES):
            base = (self._versions() or [-1])[-1]
            try:
                merged = merge_fn(self._read_version(base))
                if merged is None:  # merge_fn declared the cycle a no-op
                    return
                staged = self._stage(merged)
            except Exception as e:  # noqa: BLE001
                # the pinned v=base snapshot can be GC'd between pin and
                # read when enough other writers commit (the Delta/Iceberg
                # "expired snapshot" shape) — that is a lost race, not an
                # error; anything else propagates. A local read raises
                # FileNotFoundError; a Spark/Hadoop filesystem layer (a
                # remote _stage/_publish override) reports PATH_NOT_FOUND
                if isinstance(e, FileNotFoundError) or "PATH_NOT_FOUND" in str(e):
                    continue
                raise
            if self._publish(staged, base + 1):
                self._gc(keep=3)
                return
        raise RuntimeError(
            f"ledger CAS commit lost {self._CAS_MAX_RETRIES} races at "
            f"{self.path!r}; concurrent writer storm or clock livelock"
        )

    # staged dirs older than this are crash orphans (a live writer's
    # staged dir exists for the seconds between stage and publish)
    _STAGED_ORPHAN_GRACE_S = 3600.0

    def _gc(self, keep: int) -> None:
        import shutil
        import time

        for v in self._versions()[:-keep]:
            shutil.rmtree(f"{self.path}/v={v}", ignore_errors=True)
        # reap .staged-* orphans from writers that crashed between stage
        # and publish — version GC never matched them, so they used to
        # accumulate on the shared ledger path forever
        now = time.time()
        for d in os.listdir(self.path):
            if not d.startswith(".staged-"):
                continue
            p = os.path.join(self.path, d)
            try:
                if now - os.path.getmtime(p) > self._STAGED_ORPHAN_GRACE_S:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass  # raced with its owner's publish/cleanup

    def upsert(self, new: pa.Table, key: list[str]) -> None:
        """Merge-on-key: drop old rows whose key appears in `new`, union
        the new rows (reference Runs.scala:93-102 ON DUPLICATE KEY UPDATE).
        Safe under concurrency twice over: the flock fast path serializes
        co-located writers, and the CAS publish beneath it rejects any
        commit built on a stale snapshot and re-merges — so the second
        writer merges onto the first's committed version instead of losing
        its rows (RunsTest.scala upsert semantics under concurrency; CAS
        path exercised lock-disabled in tests/test_ledger.py)."""
        keys = new.select(key)
        with self.locked():
            self._read_merge_commit(
                lambda old: pa.concat_tables(
                    [old.join(keys, key, join_type="left anti").cast(self.schema), new]
                )
            )

    def update_where(self, where: dict, col: str, value: datetime) -> None:
        """Set `col` to `value` on the rows matching `where`; no version is
        written when none match."""

        def merge(cur: pa.Table) -> Optional[pa.Table]:
            hit = _match(cur, where)
            if not pc.any(hit).as_py():
                return None
            fill = pa.scalar(value, cur.schema.field(col).type)
            return cur.set_column(
                cur.schema.get_field_index(col),
                cur.schema.field(col),
                pc.if_else(hit, fill, cur[col]),
            )

        with self.locked():
            self._read_merge_commit(merge)

    def delete_where(self, where: dict) -> int:
        deleted = 0
        with self.locked():

            def merge(old: pa.Table) -> Optional[pa.Table]:
                nonlocal deleted
                hit = _match(old, where)
                deleted = pc.sum(hit).as_py() or 0
                # nothing matched on this snapshot: no version churn
                return old.filter(pc.invert(hit)) if deleted else None

            self._read_merge_commit(merge)
            return deleted


class _Ledger:
    """One ledger table scoped to (project, method): the surface the runs
    and runstatus tables share."""

    SCHEMA: T.StructType
    KEY: list[str]

    def __init__(self, spark: SparkSession, path: str, project: str, method: str):
        self.table = _VersionedTable(path, self.SCHEMA)
        self.spark = spark
        self.project = project
        self.method = method

    def migrate(self) -> None:
        self.table.migrate()

    def drop(self) -> None:
        self.table.drop()

    def all(self) -> list:
        return _naive_rows(self.table.read())

    def _scope(self, stage: str, **where) -> dict:
        return {"project": self.project, "method": self.method, "stage": stage, **where}

    def _stage_rows(self, stage: str) -> pa.Table:
        table = self.table.read()
        return table.filter(_match(table, self._scope(stage)))

    def of(self, stage: str) -> DataFrame:
        """All ledger rows for this (project, method, stage)
        (reference Runs.scala:106-116)."""
        table = self._stage_rows(stage)
        rows = list(zip(*(c.to_pylist() for c in table.columns)))
        return self.spark.createDataFrame(rows, self.SCHEMA)

    def delete(self, stage: str, output: str) -> int:
        return self.table.delete_where(self._scope(stage, output=output))

    def _upsert(self, rows: list[tuple]) -> None:
        if rows:
            new = pa.Table.from_pylist(
                [dict(zip(self.table.schema.names, r)) for r in rows],
                schema=self.table.schema,
            )
            self.table.upsert(new, self.KEY)


class RunsLedger(_Ledger):
    """The `runs` table: provenance of (input, version) -> output per
    (project, method, stage). Unique key: (project, method, stage, input,
    output) — reference runs.sql:11."""

    SCHEMA = RUNS_SCHEMA
    KEY = ["project", "method", "stage", "input", "output"]

    def insert(
        self,
        stage: str,
        output: str,
        inputs: list[Input],
        now: Optional[datetime] = None,
    ) -> None:
        """Upsert one row per input (reference Runs.scala:77-103): same key
        -> version and timestamp replaced."""
        self.insert_many(stage, {output: list(inputs)}, now)

    def insert_many(
        self,
        stage: str,
        outputs_map: dict[str, list[Input]],
        now: Optional[datetime] = None,
    ) -> None:
        """Batched upsert covering every output of a run in ONE versioned
        write — a run with k outputs would otherwise pay k full-table
        rewrites for pure metadata."""
        ts = now or utc_now()
        self._upsert(
            [
                (self.project, self.method, stage, i.key, i.version, output, ts)
                for output in sorted(outputs_map)
                for i in sorted(outputs_map[output], key=lambda x: x.key)
            ]
        )

    def committed(self, stage: str) -> dict[tuple[str, str], datetime]:
        """{(output, input): processed timestamp, naive UTC} for this
        stage — the ledger side of Stage.get_work's freshness check."""
        table = self._stage_rows(stage)
        pairs = zip(table["output"].to_pylist(), table["input"].to_pylist())
        done = table["timestamp"].cast(pa.timestamp("us")).to_pylist()
        return dict(zip(pairs, done))


class RunStatusLedger(_Ledger):
    """The `runstatus` table: per-output lifecycle. Unique key: (project,
    method, stage, output) — reference runstatus.sql:11. Re-insert of an
    existing key RESETS started/ended (RunStatus.scala:79-83)."""

    SCHEMA = RUNSTATUS_SCHEMA
    KEY = ["project", "method", "stage", "output"]

    def insert(self, stage: str, output: str, now: Optional[datetime] = None) -> None:
        self.insert_many(stage, [output], now)

    def insert_many(
        self, stage: str, outputs: list[str], now: Optional[datetime] = None
    ) -> None:
        """Batched insert: one upsert (one versioned write) for all outputs
        of a run; re-inserted keys still reset started/ended to NULL
        (RunStatus.scala:79-83)."""
        ts = now or utc_now()
        self._upsert(
            [(self.project, self.method, stage, o, None, None, ts) for o in sorted(outputs)]
        )

    def _set_many(
        self, stage: str, outputs: list[str], col: str, ts: datetime
    ) -> None:
        if outputs:
            self.table.update_where(self._scope(stage, output=list(outputs)), col, ts)

    def start(self, stage: str, output: str, now: Optional[datetime] = None) -> None:
        self._set_many(stage, [output], "started", now or utc_now())

    def start_many(
        self, stage: str, outputs: list[str], now: Optional[datetime] = None
    ) -> None:
        self._set_many(stage, list(outputs), "started", now or utc_now())

    def end(self, stage: str, output: str, now: Optional[datetime] = None) -> None:
        self._set_many(stage, [output], "ended", now or utc_now())

    def end_many(
        self, stage: str, outputs: list[str], now: Optional[datetime] = None
    ) -> None:
        self._set_many(stage, list(outputs), "ended", now or utc_now())
