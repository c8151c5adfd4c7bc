"""The status rule — F1/F2 split and C1-C3 counts — defined once.

Reference: ``beam.Filter(lambda row: row.split(',')[8] == "delivered")``
and its complement (code/beam.py:123-135), then three global counts
(code/beam.py:140-162).

The NULL contract lives here and nowhere else: a row is *delivered*
exactly when its status equals the delivered value; every other row,
a NULL status included, is *other* — a missing field never equals
``"delivered"`` in the reference. The equality is exact
post-lowercase: ``"not delivered"`` lands in *other*, an invariant the
tests pin down.

Every user of the rule goes through this module: the pipeline's
``observe`` counts and the fan-out's partition class
(``pipeline.process_batch``, ``sources.writers.write_status_fanout``),
``metrics.run_counts`` and the graded F1/F2/C1-C3 keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _delivered(status_col: str, delivered_value: str) -> Column:
    return F.col(status_col) == delivered_value


def _other(status_col: str, delivered_value: str) -> Column:
    """NULL-inclusive complement of ``_delivered``."""
    return (F.col(status_col) != delivered_value) | F.col(status_col).isNull()


def split_by_status(
    df: DataFrame, status_col: str = "status", delivered_value: str = "delivered"
) -> tuple[DataFrame, DataFrame]:
    """Return ``(delivered, other)`` — a disjoint partition of ``df``,
    both plain Catalyst filters over one parent.

    The pipeline does not run this split: it writes both tables in one
    pass partitioned by ``status_class`` (``write_status_fanout``)."""
    return (
        df.filter(_delivered(status_col, delivered_value)),
        df.filter(_other(status_col, delivered_value)),
    )


def status_counts(
    status_col: str = "status", delivered_value: str = "delivered"
) -> list[Column]:
    """C1-C3 as aggregate Columns ``total``, ``delivered``, ``other``:
    one conditional aggregation, so all three ride a single pass
    (an ``agg`` or ``observe`` over the status column only)."""
    return [
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(_delivered(status_col, delivered_value), 1)).alias(
            "delivered"
        ),
        F.count(F.when(_other(status_col, delivered_value), 1)).alias("other"),
    ]


def status_class() -> Column:
    """``'delivered'`` or ``'other'`` per cleaned order — the fan-out's
    partition value, computed explicitly so a NULL status is
    ``'other'`` rather than left to partition-column NULL handling."""
    return F.when(_delivered("status", "delivered"), F.lit("delivered")).otherwise(
        F.lit("other")
    )
