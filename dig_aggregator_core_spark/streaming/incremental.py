"""Continuous incremental stage execution: the reference's pull-based
batch-incrementalism (Stage.scala:249-266 delta + Runs ledger as "offset
log") re-expressed natively as Structured Streaming.

``run_incremental``: file source over a directory → ``foreachBatch`` →
per-epoch (1) run the user transform on exactly the new files, (2) write the
result, (3) commit provenance rows to the runs ledger — all inside one
epoch, with Spark's checkpoint guaranteeing each file is processed exactly
once across restarts. ``Trigger.AvailableNow`` reproduces the reference's
run-to-idle semantics (process everything discovered, then stop); dropping
the trigger turns the same stage into a continuous pipeline, which the
reference architecture cannot do at all.

Scale: the file source lists incrementally (maxFilesPerTrigger bounds epoch
size); the transform inherits whatever partitioning the batch operator
library uses; ledger commits are metadata-sized.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.inputs import Input
from ..plans.ledger import RunsLedger, utc_now
from .stateful import run_available_now

# transform: batch DataFrame for this epoch -> result DataFrame
Transform = Callable[[DataFrame], DataFrame]


def run_incremental(
    spark: SparkSession,
    *,
    source_dir: str,
    schema: T.StructType,
    transform: Transform,
    output_dir: str,
    checkpoint_dir: str,
    ledger: RunsLedger,
    stage: str,
    output_name: str,
    file_format: str = "parquet",
    max_files_per_trigger: Optional[int] = None,
) -> int:
    """Run one AvailableNow incremental pass; returns number of epochs.

    Each epoch appends the transformed batch to ``output_dir`` and upserts
    one ledger row per source file consumed (provenance parity with
    insertRuns, Stage.scala:270-276). The checkpoint — not the ledger — is
    what makes re-runs skip already-seen files, so the delta logic the
    batch engine implements by anti-join (Stage.scala:249-266) comes for
    free from the streaming offset log; the ledger rows remain the
    queryable provenance record.
    """
    epochs = 0

    def process(batch: DataFrame, epoch_id: int) -> None:
        nonlocal epochs
        epochs += 1
        tagged = batch.withColumn("_src", F.input_file_name())
        files = [
            r["_src"]
            for r in tagged.select("_src").distinct().collect()
        ]
        result = transform(tagged.drop("_src"))
        result.write.mode("append").parquet(output_dir)
        now = utc_now()
        ledger.insert(
            stage,
            output_name,
            [Input(key=f, version=now) for f in sorted(files)],
            now=now,
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.format(file_format).load(source_dir)

    run_available_now(
        stream, state_partitions=None, sink=process, checkpoint=checkpoint_dir
    )
    return epochs
