"""Run counts C1-C3 (reference ``Count.Globally``, code/beam.py:140-162).

The reference issues three separate global counts. Spark's ``count()``
already does partial (map-side) + final combine — the direct equivalent
of Beam's combiner lifting — but three separate actions over an
unpersisted parent would re-scan the input three times. ``run_counts``
therefore computes all three in ONE job over one pass: a single
conditional aggregation that reads only the status column (Catalyst
prunes the scan to 1 column).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Counts:
    total: int
    delivered: int
    other: int


def run_counts(
    cleaned: DataFrame,
    status_col: str = "status",
    delivered_value: str = "delivered",
) -> Counts:
    """C1+C2+C3 in a single aggregation job (one scan, map-side combine).

    The pipeline counts C1-C3 as ``observe`` metrics on its write job
    (``pipeline.process_batch``); this is the reference implementation
    the tests check those counts against."""
    row = cleaned.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col(status_col) == delivered_value, 1)).alias("delivered"),
        F.count(
            F.when(
                (F.col(status_col) != delivered_value)
                | F.col(status_col).isNull(),
                1,
            )
        ).alias("other"),
    ).collect()[0]
    return Counts(total=row["total"], delivered=row["delivered"], other=row["other"])
