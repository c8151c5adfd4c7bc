"""Batch pipeline entry point — the reference's whole dataflow graph
(SURVEY.md §2.8) as one Spark job.

Reference graph (code/beam.py:109-193): read → P1..P4 → fan-out to
{F1→count→sink, F2→count→sink, global count}. Beam executes all five
terminal edges in one run; Spark's equivalent here is ONE write job:
the status split is a partition column of a single fan-out write and
the three counts are ``observe`` metrics on the same job. That job is
``process_batch``; the batch pipeline (``run_pipeline``) and every
streaming micro-batch (``streaming.stream``) run it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.config import log_counts
from gcp_food_delivery_data_pipeline_spark.operators.clean import clean_orders
from gcp_food_delivery_data_pipeline_spark.operators.metrics import Counts
from gcp_food_delivery_data_pipeline_spark.operators.split import status_counts
from gcp_food_delivery_data_pipeline_spark.sources.readers import read_orders_csv
from gcp_food_delivery_data_pipeline_spark.sources.writers import (
    BATCH_MODE_ID,
    with_ingest_date,
    write_status_fanout,
)


@dataclass(frozen=True)
class PipelineResult:
    counts: Counts
    delivered_path: str
    other_path: str


def _table_paths(output_dir: str) -> tuple[str, str]:
    return f"{output_dir}/delivered_orders", f"{output_dir}/other_status_orders"


def process_batch(
    raw_df: DataFrame, output_dir: str, batch_id: int = BATCH_MODE_ID
) -> Counts:
    """Clean one batch of raw orders, write both status tables under
    ``output_dir`` and return the three run counts — the whole graph as
    ONE Spark job.

    The status class is a leading partition column of one fan-out write
    (``write_status_fanout``) and C1-C3 ride the same job via
    ``DataFrame.observe`` (collected when the write completes — no
    separate count job). ``batch_id`` names the tables' leaf and, by the
    writers' one rule, whether the write appends (``BATCH_MODE_ID``) or
    replaces that leaf (a stream micro-batch id, so a replay is
    idempotent).
    """
    # drop_malformed=False: the reference counts C1-C3 on cleaned_data
    # BEFORE the len<12 drop (the guard lives in to_json at the sink,
    # code/beam.py:50-51,140-162) — so counts include short rows and
    # only the sinks exclude them.
    cleaned = with_ingest_date(clean_orders(raw_df, drop_malformed=False))
    obs = Observation("c1_c3")
    observed = cleaned.observe(obs, *status_counts())
    sink_ready = observed.filter(~F.col("is_short")).drop("is_short")
    write_status_fanout(sink_ready, *_table_paths(output_dir), batch_id=batch_id)
    counts = Counts(**obs.get)
    # S6 parity: reference logs the three counts (code/beam.py:140-162).
    log_counts(counts.total, counts.delivered, counts.other)
    return counts


def run_pipeline(
    spark: SparkSession, input_path: str, output_dir: str
) -> PipelineResult:
    """Clean one batch of orders, split by status, append both tables,
    and return the three run counts (reference entry point B, §3.2)."""
    counts = process_batch(read_orders_csv(spark, input_path), output_dir)
    delivered_path, other_path = _table_paths(output_dir)
    return PipelineResult(
        counts=counts, delivered_path=delivered_path, other_path=other_path
    )
