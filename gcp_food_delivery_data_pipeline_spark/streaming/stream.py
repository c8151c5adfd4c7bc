"""Incremental (streaming) pipeline — reference O1-O5 re-expressed as one
Structured Streaming query (SURVEY.md §3.4).

Mapping:
  O1 GCS prefix sensor (airflow_pipe.py:73-80)  → file-source discovery
  O2 claim/move file   (airflow_pipe.py:44-57)  → cleanSource=archive
  O3 XCom hand-off                              → in-process (none needed)
  O4 Flex-template launch + 10-min cron         → processingTime trigger
  O5 max_active_runs=1                          → serialized micro-batches

Exactly-once improvement over the reference: the reference deletes the
source file BEFORE the job is known to succeed (airflow_pipe.py:53-54 —
a crash loses the file). Here the checkpoint records files only after
the micro-batch commits, and archival happens post-commit.

Each micro-batch runs the batch pipeline's single job via
``foreachBatch`` — ``pipeline.process_batch``: one fan-out write with
C1-C3 observed on the same job (Beam's one-graph-many-sinks shape).
foreachBatch is at-least-once per sink; a replayed batch is idempotent
because a micro-batch id replaces its own ``(ingest_date, batch_id)``
leaf instead of appending (the writers' rule, sources/writers.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from gcp_food_delivery_data_pipeline_spark.operators.metrics import Counts
from gcp_food_delivery_data_pipeline_spark.pipeline import process_batch
from gcp_food_delivery_data_pipeline_spark.sources.readers import (
    _orders_csv_options,
)


def run_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    archive_dir: str | None = None,
    trigger: dict | None = None,
    max_files_per_trigger: int = 1,
    on_counts: Callable[[int, Counts], None] | None = None,
) -> StreamingQuery:
    """Start the incremental pipeline over a watched directory.

    ``trigger`` defaults to ``{"availableNow": True}`` (drain-and-stop,
    used by tests); pass ``{"processingTime": "10 minutes"}`` for the
    reference's cadence (airflow_pipe.py:63).
    """
    reader = _orders_csv_options(spark.readStream).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    stream = reader.csv(input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        counts = process_batch(batch_df, output_dir, batch_id)
        if on_counts is not None:
            on_counts(batch_id, counts)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()

