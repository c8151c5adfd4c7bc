"""Readers (reference S1/S2, SURVEY.md §2.1).

The reference reads the CSV as raw text lines and goes structured only
at the sink (code/beam.py:113-116). We go structured AT THE SCAN —
named columns + explicit schema — so Catalyst can prune columns and push
predicates into the reader. A raw-line mode is kept for byte-fidelity
experiments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.schema import (
    CORRUPT_COL,
    RAW_SCHEMA_WITH_CORRUPT,
)


def _orders_csv_options(reader):
    """Apply the orders-CSV scan options to a batch or stream reader
    (``DataFrameReader``/``DataStreamReader``): header, PERMISSIVE with
    the corrupt-record column, UTF-8 and the raw schema."""
    return (
        reader.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("encoding", "UTF-8")
        .schema(RAW_SCHEMA_WITH_CORRUPT)
    )


def read_orders_csv(spark: SparkSession, path: str) -> DataFrame:
    """Structured scan of a food-orders CSV (header skipped, 11 string cols).

    ``mode=PERMISSIVE`` + ``columnNameOfCorruptRecord`` gives the clean
    step a real field-count signal: Spark fills ``_corrupt_record`` with
    the raw line exactly when the token count differs from the schema,
    which is how short rows (reference drop, code/beam.py:50-51) are
    told apart from rows that merely have empty fields. An explicit
    schema (never inferSchema) keeps the scan single-pass and the types
    deterministic.

    Divergence note (documented, deliberate): this parser honors CSV
    quoting; the reference splits raw lines on ``,``
    (code/beam.py:34-37). For byte-fidelity on quoted-comma data use
    ``read_orders_lines`` + ``clean_order_lines``.
    """
    return _orders_csv_options(spark.read).csv(path)


def read_orders_lines(
    spark: SparkSession, path: str, header_first_field: str = "customer_id"
) -> DataFrame:
    """Byte-fidelity scan: raw lines, BOM stripped, header dropped.

    Mirrors ``ReadFromText(skip_header_lines=1)`` (code/beam.py:113-116)
    — the header is recognized by its first field (case-insensitive,
    the real file spells it ``Customer_id`` with a UTF-8 BOM,
    data/food_daily.csv:1). Feed the result to ``clean_order_lines``
    for naive comma-split semantics.
    """
    line = F.regexp_replace(F.col("value"), "^﻿", "")
    return (
        spark.read.text(path)
        .select(line.alias("line"))
        .filter(
            ~F.lower(F.col("line")).startswith(header_first_field.lower() + ",")
        )
    )


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-local TIMESTAMP.

    Defensive fallback for DataFrames read before ``load_table`` could
    pin the reader conf (e.g. handed in by a caller). With the session
    timezone pinned to UTC the cast is a pure type relabel — the
    underlying micros are unchanged — but it re-enables everything NTZ
    rejects: ``cast(long)``, ``unix_micros``, watermarks.
    """
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the driver's parquet tables from a scale-factor dir.

    The driver stores timestamps as parquet ``timestamp[us]`` WITHOUT a
    timezone, which Spark would surface as TIMESTAMP_NTZ — a type that
    rejects ``cast(long)`` / ``unix_micros`` / watermarking. Disabling
    NTZ inference AT THE SCAN (runtime-settable, so it works even on a
    session built without the engine's defaults in session.py) makes the
    reader produce plain TIMESTAMP columns directly — keeping ts
    predicates pushdown-eligible, which a post-read cast would break.
    Session timezone is pinned UTC so the micros→wall-clock mapping is
    host-independent. Legacy nanos-as-long handling is kept for
    generators that store TIMESTAMP(NANOS).
    """
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    ts_nanos = {"events": ["ts"]}.get(name, [])
    for c in ts_nanos:
        if c in df.columns and isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return normalize_timestamps(df)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str]) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
