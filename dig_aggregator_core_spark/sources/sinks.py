"""Sinks (SURVEY.md §2.1 rows S5, S10).

- partitioned JSON writes: the reference's per-ancestry output dirs
  (frequencyAnalysis.py:112-114) done idiomatically with partitionBy, so one
  write produces every partition and downstream scans partition-prune;
- merged single-file CSV: replaces the reference's hadoop-getmerge + awk
  header-strip shell pipeline (scripts/getmerge-strip-headers.sh:1-21) —
  coalesce(1) writes the header exactly once, so no post-processing exists.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_json_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Overwrite-mode partitioned JSON (frequencyAnalysis.py:112 upgraded
    with partitionBy)."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.json(path)


def write_merged_csv(df: DataFrame, dest_file: str) -> None:
    """Single local CSV with exactly one header row — the reference's
    merge.sh semantics without the header-dedupe pass. Only for
    driver-sized results (a merge to one file is inherently single-node).
    """
    tmp = dest_file + ".d"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    shutil.move(part, dest_file)
    shutil.rmtree(tmp, ignore_errors=True)
