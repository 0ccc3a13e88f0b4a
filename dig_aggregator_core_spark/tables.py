"""Loaders for the driver-generated test tables (TESTDATA.md)."""

from __future__ import annotations

import collections
import fcntl
import hashlib
import itertools
import os
import re
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def ntz_epoch_us(col: str) -> F.Column:
    """Epoch microseconds for a naive (TIMESTAMP_NTZ) column, tz-proof.

    The fixtures' parquet stores ts as timestamp[us] with isAdjustedToUTC
    unset, which Spark reads as TIMESTAMP_NTZ; ``unix_micros`` rejects NTZ
    and a cast to TIMESTAMP would shift by the session timezone. Diffing
    against an NTZ epoch literal is pure naive arithmetic and matches
    DuckDB's ``epoch_us`` on the same values.
    """
    return F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {col})")


def ntz_as_utc_instant(col: str) -> F.Column:
    """TIMESTAMP (instant) whose UTC wall-clock equals the naive value.

    Event-time watermarks require TIMESTAMP, not TIMESTAMP_NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); treating the naive value as UTC
    is the only session-timezone-independent embedding. Invert with
    :func:`instant_as_ntz` before emitting results so oracles compare
    against the same naive values.
    """
    return F.timestamp_micros(ntz_epoch_us(col))


def instant_as_ntz(col: str) -> F.Column:
    """Inverse of :func:`ntz_as_utc_instant` (instant's UTC wall-clock as
    TIMESTAMP_NTZ), tz-proof: unix_micros on TIMESTAMP is epoch arithmetic
    and timestampadd onto an NTZ literal is naive arithmetic."""
    return F.expr(f"timestampadd(MICROSECOND, unix_micros({col}), {_EPOCH_NTZ})")


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session memos: one dict per kind, keyed (session, dir, listing
# fingerprint, *params). Every memo in the package goes through
# session_memo, so one lock rule and one eviction rule hold for all.
_MEMOS: dict = {}
_MEMO_MAX_DIRS = 4  # distinct corpus dirs kept per session and kind

# Guards every session memo and MEMO_STATS. Two driver threads (guide
# §2.6 concurrent jobs, e.g. sink_bucketed_partitioned_write's ingest
# pool) can double-miss the same key; holding the lock across lookup,
# eviction, derive and insert makes each key derive once. RLock: nested
# memos (_neardup_pairs -> _bands_with_bound -> _shingled -> load)
# re-enter it on the same thread. No derive may start a streaming query
# (a foreachBatch callback taking the lock would deadlock against it) or
# call build_once (builds take this lock while holding their flock).
_MEMO_LOCK = threading.RLock()

# (kind, "hit" | "miss" | "build") -> count, for memos and scratch builds
MEMO_STATS: collections.Counter = collections.Counter()


def session_memo(kind: str, spark, sf_dir: str, params: tuple, derive,
                 release=None):
    """``derive()`` memoized per (session, ``sf_dir`` listing, ``params``).

    A miss first evicts, passing each evicted value to ``release``:

    1. entries of THIS ``sf_dir`` under a stale listing fingerprint (an
       in-place mutation invalidates exactly its own entries; current
       siblings with other params survive);
    2. the oldest other dirs of this session, so at most
       ``_MEMO_MAX_DIRS`` distinct dirs stay memoized per kind (ADVICE
       r10: evicting every other dir thrashed an alternating
       sf0.01/sf0.1 sweep and could unpersist blocks under a still-held
       result of the other corpus)."""
    fp = dir_fingerprint(sf_dir)
    key = (spark, sf_dir, fp, *params)
    with _MEMO_LOCK:
        memo = _MEMOS.setdefault(kind, {})
        if key in memo:
            MEMO_STATS[kind, "hit"] += 1
            return memo[key]
        MEMO_STATS[kind, "miss"] += 1
        free = release or (lambda _v: None)
        others = list(dict.fromkeys(
            k[1] for k in memo if k[0] is spark and k[1] != sf_dir
        ))
        gone = set(others[: max(0, len(others) - (_MEMO_MAX_DIRS - 1))])
        for k in [
            k for k in memo
            if k[0] is spark
            and (k[1] in gone or (k[1] == sf_dir and k[2] != fp))
        ]:
            free(memo.pop(k))
        value = memo[key] = derive()
        return value


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan — filter/column pruning push down into the scan.

    `events.ts` is written as TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; read it as long nanos (legacy conf) and convert to a
    microsecond timestamp column-side (floor division — matches DuckDB's
    ns->us truncation).

    The UNEXECUTED scan DataFrame is memoized (optimization guide §5/§6):
    ``spark.read.parquet`` builds a fresh InMemoryFileIndex and re-reads
    the footer schema on every call (~95-120 ms), and the registry's
    queries call load() 1-4 times per build. Only the lazy plan object is
    kept — no data, no persist — so plans stay byte-identical
    (OPTIMIZATION_r12.md) and any file change under the dir re-lists.
    """
    if name == "events":
        # unconditionally, BEFORE the memo lookup (ADVICE r12): a memo
        # hit must not assume the conf survived since the miss that set
        # it — idempotent one-liner, the memo still saves the listing
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def derive():
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df

    return session_memo("load", spark, sf_dir, (name,), derive)


def raw_schema(spark: SparkSession, sf_dir: str, name: str):
    """RAW parquet footer schema (no ts conversion — the streaming
    sources do their own event-time embed and need the on-disk types),
    memoized exactly like ``load``. Every streaming query used to pay a
    fresh file listing + footer read (~95-120 ms) per call just to
    declare its readStream schema; the schema object is immutable
    metadata, so the memo changes nothing about execution."""
    if name == "events":
        # TIMESTAMP(NANOS) columns need the legacy long read to parse.
        # Set unconditionally BEFORE the memo lookup (ADVICE r12): the
        # conf must hold at stream-build/execution time too, not only
        # on the miss that populated the memo — idempotent one-liner,
        # the memo still saves the listing + footer read.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return session_memo(
        "raw_schema", spark, sf_dir, (name,),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet").schema,
    )


def dir_fingerprint(sf_dir: str) -> tuple:
    """Cheap listing fingerprint of a corpus dir: sorted (relative path,
    mtime_ns, size) of every data file under it (one driver-side walk, no
    Spark job). session_memo and build_once fold this into their keys so
    a file appended to or overwritten in the SAME dir invalidates the
    memo or scratch build — previously only *switching* dirs evicted, and
    a long-lived session mutating its corpus in place read stale
    persisted data (VERDICT r7 task 3; stale-mutation case pinned in
    tests/test_session_caches.py). Non-local / unlistable paths
    fingerprint as a constant, preserving the prior switch-only eviction
    there.

    Failure semantics: a mid-walk OSError (file deleted during an
    in-place rewrite) returns a UNIQUE sentinel, never the non-local
    constant — an errored walk must not alias to (and later serve) an
    entry cached from a half-written dir, so memo lookups on the errored
    fingerprint always miss and retry the walk next call (ADVICE r8).
    Caveat: mtime_ns granularity is filesystem-dependent; a same-second
    same-size in-place rewrite on a coarse-mtime filesystem (e.g. 1 s
    HFS+/FAT) fingerprints identically. Local test corpora live on
    ns-granularity Linux filesystems; treat coarse-mtime mounts as
    requiring a dir swap (the pre-r8 eviction contract) instead."""
    try:
        out = []
        for root, _dirs, names in os.walk(sf_dir):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                p = os.path.join(root, n)
                st = os.stat(p)
                out.append(
                    (os.path.relpath(p, sf_dir), st.st_mtime_ns, st.st_size)
                )
        return tuple(sorted(out))
    except OSError:
        # unique per call: poisons the memo key instead of hitting it
        return ("__fingerprint_oserror__", next(_FP_ERR_SEQ))


_FP_ERR_SEQ = itertools.count()


def build_once(kind: str, sf_dir: str, build, marker: str = "_done") -> str:
    """Scratch dir ``<tmp>/spark_graft_scratch/<kind>_<slug>_<hash>``
    built once per ``sf_dir`` listing (``dir_fingerprint``), shared by
    every process. ``build(dir)`` runs under an exclusive ``flock``
    (see ``once_in``); a build never writes under ``sf_dir``. After a
    build, sibling dirs of an older listing of the same kind and dir are
    removed — each only if its lock is free, so a build still running in
    another process is never pulled out from under it."""
    root = os.path.join(tempfile.gettempdir(), "spark_graft_scratch")
    prefix = f"{kind}_{re.sub(r'[^A-Za-z0-9.]', '_', sf_dir.rstrip('/'))}_"
    fp = repr(dir_fingerprint(sf_dir)).encode()
    out = os.path.join(root, prefix + hashlib.sha1(fp).hexdigest()[:16])
    if once_in(kind, out, marker, build):
        for name in os.listdir(root):
            sibling = os.path.join(root, name)
            if sibling != out and re.fullmatch(
                re.escape(prefix) + "[0-9a-f]{16}", name
            ):
                _remove_if_idle(sibling)
    return out


def once_in(kind: str, path: str, marker: str, build) -> bool:
    """Run ``build(path)`` once per ``marker`` file in ``path``: under an
    exclusive ``flock`` on ``path/.lock``, re-check the marker (the loser
    of a race reuses the winner's work), build, and touch the marker
    LAST so a half-written build is never served. True when this call
    built. In-place stages (append, delete, compact) chain markers in a
    dir ``build_once`` already made."""
    done = os.path.join(path, marker)
    built = False
    if not os.path.exists(done):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, ".lock"), "a") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            if not os.path.exists(done):
                build(path)
                open(done, "w").close()
                built = True
    with _MEMO_LOCK:
        MEMO_STATS[kind, "build" if built else "hit"] += 1
    return built


def _remove_if_idle(path: str) -> None:
    try:
        lockf = open(os.path.join(path, ".lock"), "a")
    except OSError:
        return
    with lockf:
        try:
            fcntl.flock(lockf, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return
        shutil.rmtree(path, ignore_errors=True)


_SPLIT_BYTES = 128 * 1024 * 1024  # spark.sql.files.maxPartitionBytes default


def _scan_width(sf_dir: str, name: str) -> int | None:
    """Rough scan-partition count for a table from the filesystem alone
    (part-file count + 128 MiB split heuristic). Unlike
    ``df.rdd.getNumPartitions()`` this never forces plan analysis during
    query construction. Returns None for non-local paths (s3://... at
    real scale), where the many input splits already parallelize."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = [
            os.path.join(root, n)
            for root, _dirs, names in os.walk(path)
            for n in names
            if not n.startswith(("_", ".")) and n.endswith(".parquet")
        ]
    else:
        return None
    try:
        return sum(1 + os.path.getsize(f) // _SPLIT_BYTES for f in files)
    except OSError:
        return None


def maybe_spread(df: DataFrame, sf_dir: str, name: str, key: str) -> DataFrame:
    """Spread a small local scan before CPU-heavy narrow maps.

    A one-file fixture scan yields 1-2 partitions and would serialize the
    md5/shingle/explode work that follows onto two cores; repartition by
    ``key`` ONLY in that case. A many-file dataset (or a remote path whose
    width we can't cheaply know) keeps its scan partitioning — at real
    scale the input splits already provide parallelism and repartitioning
    raw text would be a full shuffle for nothing."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    width = _scan_width(sf_dir, name)
    if width is not None and width < par:
        return df.repartition(par, key)
    return df
