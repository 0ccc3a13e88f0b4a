"""Provenance ledgers: `runs` and `runstatus`, defined once.

Reproduces the reference's MySQL tables and their upsert semantics
(reference runs.sql:1-12, Runs.scala:77-116; runstatus.sql:1-12,
RunStatus.scala:56-128). `RunsLedger`/`RunStatusLedger` own each table's
schema, unique key, (project, method, stage) scope, row building and the
RunStatus reset rule, and run them against a small storage backend — the
primitives migrate/drop, read/snapshot, upsert on a key, set a timestamp
column where a scope matches, and delete where it matches. Two backends
implement them:

- `_VersionedTable` below, plain Parquet (the default);
- `sources.jdbcio.JdbcTable`, a database over JDBC — the reference's own
  modality — behind the thin `JdbcRunsLedger`/`JdbcRunStatusLedger`
  constructors there.

The Parquet backend:

- every write is a read-merge-write done on the driver in pyarrow: the
  current version is read as an Arrow table, merged (upsert on the unique
  key = left-anti join of the old rows against the new keys, then concat
  of the new rows), and written as ONE parquet file into a NEW versioned
  directory (`v=N+1`). No Spark job runs: the ledger is metadata (one row
  per processed input-output), orders of magnitude smaller than the data,
  so scheduling a job would cost far more than moving its rows. There is
  no read-modify-overwrite of the directory being scanned, and the
  previous version stays readable until the new one is committed
  (poor-man's snapshot isolation; Delta MERGE INTO is the drop-in upgrade
  where the dependency is allowed);
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
  (RunStatus.scala:79-83 — pinned by the ported RunsStatusTest);
- `read()`/`of()`/`all()` still return Spark DataFrames/rows; `snapshot()`
  is the same data as an Arrow table, read without a Spark job.

Timestamps are stored as Parquet TIMESTAMP(MICROS, adjusted to UTC), which
Spark reads as TimestampType. Naive datetimes map to instants exactly as
PySpark maps them, so a value reads back through Spark as the one written,
to the microsecond; versions Spark wrote (INT96) read as the same instants.
"""

from __future__ import annotations

import functools
import operator
import os
import re
import shutil
import time
import uuid
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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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

TS = pa.timestamp("us", tz="UTC")
_ARROW_TYPES = {T.StringType(): pa.string(), T.TimestampType(): TS}

# the columns every ledger row is scoped by (Runs.scala:106-116)
SCOPE = ("project", "method", "stage")


def _arrow_schema(schema: T.StructType) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, _ARROW_TYPES[f.dataType], f.nullable) for f in schema]
    )


def _match(where: dict, col=pc.field):
    """`where` ({column: value, or a list of values}) as an Arrow filter,
    or as a Spark one with `col=F.col`."""
    conds = [
        col(c).isin(v) if isinstance(v, list) else col(c) == v
        for c, v in where.items()
    ]
    return functools.reduce(operator.and_, conds)


def utc_now() -> datetime:
    """UTC wall clock (reference pins UTC everywhere: Implicits.scala:16)."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def to_instants(values: list[datetime]) -> pa.Array:
    """Datetimes as `timestamp[us, UTC]`, mapped exactly as PySpark's
    TimestampType.toInternal maps them (a naive value is a wall time in the
    process's zone). Rows written from these read back through Spark as the
    values passed, and compare like a frame Spark built from them."""
    to_internal = T.TimestampType().toInternal
    return pa.array([to_internal(d) for d in values], TS)


def fresh(runs: pa.Table, pairs: list[tuple[str, str, datetime]]) -> list[int]:
    """Positions of the candidate (output, input, version) `pairs` that the
    runs snapshot `runs` (output, input, timestamp) does not cover: no
    ledger row for the pair, or one whose timestamp is not STRICTLY after
    the version (Stage.scala:249-266). The ledger key is unique, so a left
    outer join keeping those rows is exactly the reference's left-anti
    join. Runs in Arrow on the driver; no Spark job."""
    cand = pa.table(
        {
            "output": pa.array([o for o, _, _ in pairs], pa.string()),
            "input": pa.array([i for _, i, _ in pairs], pa.string()),
            "version": to_instants([v for _, _, v in pairs]),
            "pos": pa.array(range(len(pairs)), pa.int64()),
        }
    )
    # a snapshot read through Spark carries the session zone; same instants
    i = runs.schema.get_field_index("timestamp")
    runs = runs.set_column(i, "timestamp", runs["timestamp"].cast(TS))
    joined = cand.join(runs, keys=["output", "input"], join_type="left outer")
    kept = joined.filter(
        pc.field("timestamp").is_null()
        | (pc.field("timestamp") <= pc.field("version"))
    )
    return kept["pos"].to_pylist()


class _VersionedTable:
    """A Parquet table stored as versioned subdirectories `v=N`; the
    current state is the highest N. Writes merge in Arrow and create N+1."""

    def __init__(self, spark: SparkSession, path: str, schema: T.StructType):
        # version discovery/GC walks the local filesystem (os.listdir /
        # shutil) and reads/writes go through local file I/O — a remote
        # path would list nothing and then collide on v=0. Fail loudly.
        if re.match(r"^[a-z][a-z0-9+.-]*://", path) and not path.startswith(
            "file://"
        ):
            raise ValueError(
                f"ledger path must be on the local filesystem, got {path!r}; "
                "for object-store ledgers use a transactional table format "
                "(e.g. Delta MERGE INTO) instead of the versioned-directory "
                "ledger"
            )
        self.spark = spark
        self.path = path[len("file://"):] if path.startswith("file://") else path
        self.schema = schema
        self.arrow_schema = _arrow_schema(schema)

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

    def _latest(self) -> int:
        return (self._versions() or [-1])[-1]

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
                staged = self._stage(self.arrow_schema.empty_table())
                if not self._publish(staged, 0) and not self.exists():
                    raise RuntimeError(
                        f"ledger migrate lost the v=0 race at {self.path!r}"
                        " but no version exists afterwards"
                    )

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    def read(self) -> DataFrame:
        v = self._latest()
        if v < 0:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(f"{self.path}/v={v}")

    def _read_arrow(self, v: int) -> pa.Table:
        """Version `v` on the driver, in `arrow_schema` (Spark-written
        INT96 timestamps become the same UTC instants)."""
        if v < 0:
            return self.arrow_schema.empty_table()
        t = pq.read_table(f"{self.path}/v={v}", coerce_int96_timestamp_unit="us")
        return t.select(self.arrow_schema.names).cast(self.arrow_schema)

    def snapshot(self, where: Optional[dict] = None) -> pa.Table:
        """The newest committed version as an Arrow table, or its rows
        `where` matches. Readers take no lock, so a version GC'd between
        listing and reading is re-listed."""
        for _ in range(self._CAS_MAX_RETRIES):
            try:
                t = self._read_arrow(self._latest())
            except FileNotFoundError:
                continue
            return t if where is None else t.filter(_match(where))
        raise RuntimeError(f"ledger versions at {self.path!r} kept vanishing")

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
        staged = os.path.join(self.path, f".staged-{uuid.uuid4().hex}")
        try:
            os.makedirs(staged)
            # ledger is metadata-sized: one file keeps listing cheap
            pq.write_table(table, os.path.join(staged, "part-00000.parquet"))
        except Exception:
            # a failed write (full disk, dropped table) must not abandon a
            # half-written .staged-* orphan on the shared ledger path
            shutil.rmtree(staged, ignore_errors=True)
            raise
        return staged

    def _publish(self, staged: str, version: int) -> bool:
        import errno

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
            base = self._latest()
            try:
                merged = merge_fn(self._read_arrow(base))
                if merged is None:  # merge_fn declared the cycle a no-op
                    return
                staged = self._stage(merged)
            except FileNotFoundError:
                # the pinned v=base can be GC'd between pin and read when
                # enough other writers commit in between (the Delta/Iceberg
                # "expired snapshot" shape) — a lost race, not an error
                continue
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
        """Merge-on-key: drop old rows whose key appears in `new`, append
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
                    [
                        old.join(keys, keys=key, join_type="left anti").cast(
                            self.arrow_schema
                        ),
                        new,
                    ]
                )
            )

    def set_where(self, where: dict, col: str, ts: datetime) -> None:
        """Set timestamp column `col` to `ts` on the rows `where` matches."""
        hit = _match(where)
        value = to_instants([ts])[0]

        def merge(cur: pa.Table) -> pa.Table:
            touched = cur.filter(hit)
            i = cur.schema.get_field_index(col)
            touched = touched.set_column(
                i, cur.schema.field(i), pa.repeat(value, touched.num_rows)
            )
            return pa.concat_tables([cur.filter(~hit), touched])

        with self.locked():
            self._read_merge_commit(merge)

    def delete_where(self, where: dict) -> int:
        """Delete the rows `where` matches; returns how many."""
        cond = _match(where)
        deleted = 0
        with self.locked():

            def merge(old: pa.Table) -> Optional[pa.Table]:
                nonlocal deleted
                deleted = old.filter(cond).num_rows
                # nothing matched on this snapshot: no version churn
                return old.filter(~cond) if deleted else None

            self._read_merge_commit(merge)
            return deleted


class _Ledger:
    """What both ledgers share: one table scoped to a (project, method),
    read per stage. The table is this module's `_VersionedTable` unless a
    subclass's `_open` returns another backend with the same primitives
    (migrate, drop, read, snapshot, upsert, set_where, delete_where and
    `arrow_schema`), as `sources.jdbcio.JdbcTable` does. Rows are matched
    by `where` dicts ({column: value, or a list of values})."""

    SCHEMA: T.StructType
    NAME: str  # the table's name where a backend names tables
    KEY: list[str]

    def __init__(self, spark: SparkSession, path: str, project: str, method: str):
        self.table = self._open(spark, path)
        self.spark = spark
        self.project = project
        self.method = method

    def _open(self, spark: SparkSession, path: str):
        return _VersionedTable(spark, path, self.SCHEMA)

    def migrate(self) -> None:
        self.table.migrate()

    def drop(self) -> None:
        self.table.drop()

    def all(self) -> list:
        return self.table.read().collect()

    def _where(self, stage: str, **more) -> dict:
        """This ledger's scope for `stage`, plus `more` column matches."""
        return dict(zip(SCOPE, (self.project, self.method, stage)), **more)

    def _scope(self, stage: str) -> pc.Expression:
        return _match(self._where(stage))

    def _new(self, stage: str, n: int, columns: dict) -> pa.Table:
        """`n` rows of this ledger's scope for `stage`, plus `columns`."""
        return pa.table(
            {**{k: [v] * n for k, v in self._where(stage).items()}, **columns},
            schema=self.table.arrow_schema,
        )

    def of(self, stage: str) -> DataFrame:
        """All ledger rows for this (project, method, stage)
        (reference Runs.scala:106-116)."""
        return self.table.read().filter(_match(self._where(stage), F.col))

    def delete(self, stage: str, output: str) -> int:
        """Delete this stage's rows for `output`; returns how many
        (reference Runs.scala:108-116)."""
        return self.table.delete_where(self._where(stage, output=output))


class RunsLedger(_Ledger):
    """The `runs` table: provenance of (input, version) -> output per
    (project, method, stage). Unique key: (project, method, stage, input,
    output) — reference runs.sql:11."""

    SCHEMA = RUNS_SCHEMA
    NAME = "runs"
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
        rows = [
            (output, i)
            for output in sorted(outputs_map)
            for i in sorted(outputs_map[output], key=lambda x: x.key)
        ]
        if not rows:
            return
        new = self._new(
            stage,
            len(rows),
            {
                "input": [i.key for _, i in rows],
                "version": to_instants([i.version for _, i in rows]),
                "output": [o for o, _ in rows],
                "timestamp": to_instants([ts] * len(rows)),
            },
        )
        self.table.upsert(new, self.KEY)

    def snapshot(self, stage: str) -> pa.Table:
        """(output, input, timestamp) of this stage's rows as an Arrow
        table, read on the driver without a Spark job — what
        Stage.get_work anti-joins against."""
        return self.table.snapshot(self._where(stage)).select(
            ["output", "input", "timestamp"]
        )


class RunStatusLedger(_Ledger):
    """The `runstatus` table: per-output lifecycle. Unique key: (project,
    method, stage, output) — reference runstatus.sql:11. Re-insert of an
    existing key RESETS started/ended (RunStatus.scala:79-83)."""

    SCHEMA = RUNSTATUS_SCHEMA
    NAME = "runstatus"
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
        n = len(outputs)
        if not n:
            return
        new = self._new(
            stage,
            n,
            {
                "output": sorted(outputs),
                "started": pa.nulls(n, TS),
                "ended": pa.nulls(n, TS),
                "created": to_instants([ts] * n),
            },
        )
        self.table.upsert(new, self.KEY)

    def _set_many(
        self, stage: str, outputs: list[str], col: str, ts: datetime
    ) -> None:
        if outputs:
            self.table.set_where(self._where(stage, output=list(outputs)), col, ts)

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
