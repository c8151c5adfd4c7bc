"""Regression: the DRIVER's parquet (not repo-built fixtures) must load
with watermark-able, cast-able TIMESTAMP columns.

Round-2 post-mortem: the driver stores ``events.ts`` (and
``orders.o_orderdate``) as parquet ``timestamp[us]`` with NO timezone.
Spark's default reader surfaces that as TIMESTAMP_NTZ, which rejects
``cast(long)``, ``unix_micros`` and ``withWatermark`` — one type bug
that broke 6 queries and 2 streaming tests while every repo fixture
(written by Spark itself, hence tz-aware) kept 98 tests green. These
tests read the actual driver files so the load-boundary normalization
(sources/readers.py:load_table) can never silently regress.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from gcp_food_delivery_data_pipeline_spark.sources.readers import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"driver testdata absent: {SF_DIR}"
)


def test_no_ntz_columns_in_any_table(spark):
    for name in ("events", "orders", "lineitem", "documents"):
        path = f"{SF_DIR}/{name}.parquet"
        if not os.path.exists(path):
            continue
        df = load_table(spark, SF_DIR, name)
        ntz = [f.name for f in df.schema.fields
               if isinstance(f.dataType, TimestampNTZType)]
        assert not ntz, f"{name}: NTZ columns leaked through load_table: {ntz}"


def test_events_ts_is_castable_and_epoch_correct(spark):
    ev = load_table(spark, SF_DIR, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    row = (
        ev.filter(F.col("ts").isNotNull())
        .select(
            F.col("ts").cast("long").alias("sec"),
            F.unix_micros("ts").alias("us"),
        )
        .first()
    )
    # session tz is UTC: cast(long) and unix_micros must agree
    assert row.sec == row.us // 1_000_000


def test_events_ts_accepts_watermark(spark):
    # withWatermark is the strictest consumer: it requires TimestampType
    # even on a batch DataFrame (analysis-time check).
    ev = load_table(spark, SF_DIR, "events")
    ev.withWatermark("ts", "1 hour").groupBy(
        F.window("ts", "1 hour")
    ).count().schema  # analysis only; NTZ would throw here


def test_filter_pushdown_survives_normalization(spark):
    # The NTZ fix must come from the reader conf, not a cast wrapper —
    # a cast would strip the ts predicate out of PushedFilters.
    ev = load_table(spark, SF_DIR, "events")
    plan = (
        ev.filter(F.col("ts") >= "2024-01-01 00:05:00")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan
    assert "IsNotNull(ts)" in plan, plan
    assert "GreaterThanOrEqual(ts," in plan, plan
