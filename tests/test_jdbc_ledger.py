"""The ledgers' database backend over embedded Derby: the table layout
derived from the ledger schema and key (reference runs.sql:1-12,
runstatus.sql:1-12), and the catalog probe that must not leave derby.log
in the working directory."""

from __future__ import annotations

# integration-style tier: excluded from the default fast gate run
# (pytest.ini); the full suite runs with -m "slow or not slow"
import pytest

pytestmark = pytest.mark.slow

import os
import subprocess
import sys

from dig_aggregator_core_spark.sources.jdbcio import (
    JdbcRunsLedger,
    JdbcRunStatusLedger,
    derby_url,
    scratch_db,
)

NN, NULL = "NO", "YES"
# (column, type, size, nullable) in table order, as the catalog reports them
RUNS_COLUMNS = [
    ("project", "VARCHAR", 200, NN),
    ("method", "VARCHAR", 200, NN),
    ("stage", "VARCHAR", 200, NN),
    ("input", "VARCHAR", 1024, NN),
    ("version", "TIMESTAMP", 29, NN),
    ("output", "VARCHAR", 1024, NN),
    ("timestamp", "TIMESTAMP", 29, NN),
]
RUNSTATUS_COLUMNS = [
    ("project", "VARCHAR", 200, NN),
    ("method", "VARCHAR", 200, NN),
    ("stage", "VARCHAR", 200, NN),
    ("output", "VARCHAR", 1024, NN),
    ("started", "TIMESTAMP", 29, NULL),
    ("ended", "TIMESTAMP", 29, NULL),
    ("created", "TIMESTAMP", 29, NN),
]


def _rows(rs, *cols) -> list[tuple]:
    out = []
    try:
        while rs.next():
            out.append(tuple(rs.getObject(c) for c in cols))
    finally:
        rs.close()
    return out


def _layout(conn, table: str):
    meta = conn.getMetaData()
    columns = _rows(
        meta.getColumns(None, None, table, None),
        "COLUMN_NAME", "TYPE_NAME", "COLUMN_SIZE", "IS_NULLABLE",
    )
    unique = sorted(
        _rows(
            meta.getIndexInfo(None, None, table, True, False),
            "ORDINAL_POSITION", "COLUMN_NAME",
        )
    )
    stmt = conn.createStatement()
    try:
        constraints = _rows(
            stmt.executeQuery(
                "SELECT c.CONSTRAINTNAME, c.TYPE FROM SYS.SYSCONSTRAINTS c "
                "JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID "
                f"WHERE t.TABLENAME = '{table}'"
            ),
            "CONSTRAINTNAME", "TYPE",
        )
    finally:
        stmt.close()
    return columns, [c for _, c in unique], constraints


def test_derby_ledger_tables_keep_their_layout(spark):
    """Both ledger tables after migrate(): column names, types, sizes and
    nullability, and the one `<table>_uk` unique key on the ledger key."""
    url = derby_url(scratch_db("layout"))
    runs = JdbcRunsLedger(spark, url, "test", "M")
    status = JdbcRunStatusLedger(spark, url, "test", "M")
    runs.migrate()
    status.migrate()
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)  # noqa: SLF001
    try:
        assert _layout(conn, "runs") == (
            RUNS_COLUMNS,
            ["project", "method", "stage", "input", "output"],
            [("runs_uk", "U")],
        )
        assert _layout(conn, "runstatus") == (
            RUNSTATUS_COLUMNS,
            ["project", "method", "stage", "output"],
            [("runstatus_uk", "U")],
        )
    finally:
        conn.close()
        runs.drop()
        status.drop()


_PROBE = r"""
import sys

sys.path.insert(0, sys.argv[1])

from pyspark.sql import SparkSession

from dig_aggregator_core_spark.sources.jdbcio import (
    derby_url,
    scratch_db,
    table_exists,
)

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .appName("derby-probe")
    .getOrCreate()
)
# the JVM's first Derby call
assert not table_exists(spark, derby_url(scratch_db("probe")), "cdc_state")
spark.stop()
"""


def test_first_catalog_probe_leaves_no_derby_log_in_cwd(tmp_path):
    """A table-exists probe that boots Derby in a fresh JVM (as
    stream_jdbc_cdc_upsert's does) must not write derby.log into the
    working directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "probe.py"
    script.write_text(_PROBE)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    p = subprocess.run(
        [sys.executable, str(script), repo],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert not (cwd / "derby.log").exists()
