"""Execution context: binds the Spark session, project name, ledgers, and
the object lister (reference Context/Method.scala:109-117 — minus AWS: the
ledger is Parquet, jobs run in-process on the session)."""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable, Optional

from pyspark.sql import SparkSession

from ..functions.paths import dirname
from .ledger import RunsLedger, RunStatusLedger

# a lister maps a key prefix -> [(key, version)] — the S3 LIST equivalent
Lister = Callable[[str], list[tuple[str, datetime]]]


def local_lister(root: str) -> Lister:
    """List files under a local root directory as key/mtime pairs —
    the local stand-in for the S3 listing boundary (Input.scala:38-45).
    Only the prefix's directory is walked. As in `os.walk(root)`, links
    to directories are not followed and unreadable directories are
    skipped."""

    def ls(prefix: str) -> list[tuple[str, datetime]]:
        base = dirname(prefix)
        top = root
        for part in base.split("/")[:-1]:
            top = os.path.join(top, part)
            # no walk from the root reaches these
            if part in ("", ".", "..") or os.path.islink(top):
                return []
        out = []
        todo = [(top, base)]
        while todo:
            path, rel = todo.pop()
            try:
                with os.scandir(path) as it:
                    entries = list(it)
            except OSError:
                continue
            for e in entries:
                try:
                    is_dir = e.is_dir()
                except OSError:
                    is_dir = False
                if is_dir:
                    if not e.is_symlink():
                        todo.append((e.path, f"{rel}{e.name}/"))
                    continue
                key = rel + e.name
                if key.startswith(prefix):
                    m = datetime.fromtimestamp(e.stat().st_mtime, timezone.utc)
                    # naive UTC truncated to milliseconds, the
                    # granularity of Hadoop's getModificationTime, so
                    # swapping this lister for
                    # sources.object_store.hadoop_lister on an existing
                    # warehouse keeps Input versions (ADVICE r10). The
                    # positional constructor is several times cheaper
                    # than datetime.replace.
                    version = datetime(
                        m.year, m.month, m.day, m.hour, m.minute, m.second,
                        m.microsecond // 1000 * 1000,
                    )
                    out.append((key, version))
        return sorted(out)

    return ls


@dataclass
class Context:
    spark: SparkSession
    project: str
    method_name: str
    warehouse: str  # directory holding the ledgers (+ default output root)
    lister: Lister

    _runs: Optional[RunsLedger] = field(default=None, repr=False)
    _status: Optional[RunStatusLedger] = field(default=None, repr=False)

    @property
    def runs(self) -> RunsLedger:
        if self._runs is None:
            self._runs = RunsLedger(
                self.spark, f"{self.warehouse}/runs", self.project, self.method_name
            )
        return self._runs

    @property
    def runstatus(self) -> RunStatusLedger:
        if self._status is None:
            self._status = RunStatusLedger(
                self.spark,
                f"{self.warehouse}/runstatus",
                self.project,
                self.method_name,
            )
        return self._status
