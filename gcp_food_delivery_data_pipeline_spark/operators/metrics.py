"""Run counts C1-C3 (reference ``Count.Globally``, code/beam.py:140-162).

The reference issues three separate global counts. Spark's ``count()``
already does partial (map-side) + final combine — the direct equivalent
of Beam's combiner lifting — but three separate actions over an
unpersisted parent would re-scan the input three times. ``run_counts``
therefore computes all three in ONE job over one pass: the single
conditional aggregation ``split.status_counts``, which reads only the
status column (Catalyst prunes the scan to 1 column).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from gcp_food_delivery_data_pipeline_spark.operators.split import status_counts


@dataclass(frozen=True)
class Counts:
    total: int
    delivered: int
    other: int


def run_counts(cleaned: DataFrame) -> Counts:
    """C1+C2+C3 in a single aggregation job (one scan, map-side combine).

    The pipeline counts C1-C3 as ``observe`` metrics on its write job
    (``pipeline.process_batch``); this is the reference implementation
    the tests check those counts against."""
    return Counts(**cleaned.agg(*status_counts()).collect()[0].asDict())
