"""Status split (F1/F2) — the reference's two-branch DAG fan-out.

Reference: ``beam.Filter(lambda row: row.split(',')[8] == "delivered")``
and its complement (code/beam.py:123-135). Here both branches are plain
Catalyst filters over one parent.

Note the equality is exact post-lowercase: ``"not delivered"`` does NOT
equal ``"delivered"`` and lands in the *other* branch — an invariant the
tests pin down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_by_status(
    df: DataFrame, status_col: str = "status", delivered_value: str = "delivered"
) -> tuple[DataFrame, DataFrame]:
    """Return ``(delivered, other)`` — a disjoint partition of ``df``.

    NULL statuses land in *other* (they fail the equality), matching the
    reference where a missing field never equals ``"delivered"``.

    The pipeline does not run this split: it writes both tables in one
    pass with the status class as a partition column
    (``sources.writers.write_status_fanout``). This is the reference
    implementation the tests check that fan-out against.
    """
    delivered = df.filter(F.col(status_col) == delivered_value)
    other = df.filter(
        (F.col(status_col) != delivered_value) | F.col(status_col).isNull()
    )
    return delivered, other
