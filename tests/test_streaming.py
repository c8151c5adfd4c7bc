"""Structured Streaming pipeline tests (reference O1-O5 semantics):
file discovery, archival, per-batch counts, idempotent replay, and the
unified batch/stream table layout."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.pipeline import process_batch, run_pipeline
from gcp_food_delivery_data_pipeline_spark.sources.readers import read_orders_csv
from gcp_food_delivery_data_pipeline_spark.streaming.stream import run_stream
from tests.fixtures import (
    N_COUNT_DELIVERED,
    N_COUNT_OTHER,
    N_COUNT_TOTAL,
    N_DELIVERED,
    N_OTHER,
    fail_rename_on_call,
    write_food_csv,
)


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {
        "input": tmp_path / "incoming",
        "output": tmp_path / "warehouse",
        "checkpoint": tmp_path / "checkpoint",
        "archive": tmp_path / "processed",
    }
    for p in d.values():
        p.mkdir()
    return {k: str(v) for k, v in d.items()}


def _drain(query):
    query.awaitTermination(120)


def test_stream_end_to_end_with_archive(spark, stream_dirs):
    write_food_csv(os.path.join(stream_dirs["input"], "food_daily_a.csv"))
    write_food_csv(os.path.join(stream_dirs["input"], "food_daily_b.csv"))

    seen = {}
    q = run_stream(
        spark,
        stream_dirs["input"],
        stream_dirs["output"],
        stream_dirs["checkpoint"],
        archive_dir=stream_dirs["archive"],
        on_counts=lambda bid, c: seen.__setitem__(bid, c),
    )
    _drain(q)

    # O1/O4: maxFilesPerTrigger=1 → two micro-batches, counts per batch
    # are PRE-drop (reference counts before the len guard).
    assert len(seen) == 2
    for c in seen.values():
        assert (c.total, c.delivered, c.other) == (
            N_COUNT_TOTAL,
            N_COUNT_DELIVERED,
            N_COUNT_OTHER,
        )

    delivered = spark.read.parquet(f"{stream_dirs['output']}/delivered_orders")
    other = spark.read.parquet(f"{stream_dirs['output']}/other_status_orders")
    assert delivered.count() == 2 * N_DELIVERED
    assert other.count() == 2 * N_OTHER
    assert {r.batch_id for r in delivered.select("batch_id").distinct().collect()} == {0, 1}

    # O5: restarting on the same checkpoint with no new files is a no-op.
    q2 = run_stream(
        spark,
        stream_dirs["input"],
        stream_dirs["output"],
        stream_dirs["checkpoint"],
        archive_dir=stream_dirs["archive"],
    )
    _drain(q2)
    assert (
        spark.read.parquet(f"{stream_dirs['output']}/delivered_orders").count()
        == 2 * N_DELIVERED
    )


def test_stream_replay_is_idempotent(spark, stream_dirs, food_csv):
    """foreachBatch is at-least-once: processing the SAME batch twice
    must not duplicate rows (a stream batch id replaces its own leaf)."""
    raw = read_orders_csv(spark, food_csv)
    process_batch(raw, stream_dirs["output"], 7)
    process_batch(raw, stream_dirs["output"], 7)  # replay
    delivered = spark.read.parquet(f"{stream_dirs['output']}/delivered_orders")
    assert delivered.count() == N_DELIVERED
    assert delivered.filter(F.col("batch_id") == 7).count() == N_DELIVERED


def test_batch_and_stream_layouts_are_one_table(spark, stream_dirs, food_csv):
    """Round-1 defect fix: one reader reads a table written by BOTH
    modes (batch append + streaming micro-batches)."""
    out = stream_dirs["output"]
    run_pipeline(spark, food_csv, out)            # batch → batch_id=-1 append
    raw = read_orders_csv(spark, food_csv)
    # stream batch 0 — the id most likely to collide with batch mode
    process_batch(raw, out, 0)

    delivered = spark.read.parquet(f"{out}/delivered_orders")
    assert delivered.count() == 2 * N_DELIVERED
    assert {r.batch_id for r in delivered.select("batch_id").distinct().collect()} == {-1, 0}
    assert "ingest_date" in delivered.columns


def test_stream_replay_after_partial_publish(spark, stream_dirs, food_csv, monkeypatch):
    """A micro-batch whose fan-out dies after publishing its first leaf
    (delivered) is repaired by replaying the same batch id: both tables
    then hold every row exactly once, and no staging directory is left."""
    out = stream_dirs["output"]
    raw = read_orders_csv(spark, food_csv)
    calls = fail_rename_on_call(monkeypatch, 2)
    with pytest.raises(IOError, match="cannot move"):
        process_batch(raw, out, 3)
    monkeypatch.undo()
    assert len(calls) == 2
    assert spark.read.parquet(f"{out}/delivered_orders").count() == N_DELIVERED
    assert not glob.glob(f"{out}/other_status_orders/**/*.parquet", recursive=True)

    process_batch(raw, out, 3)  # replay
    delivered = spark.read.parquet(f"{out}/delivered_orders")
    other = spark.read.parquet(f"{out}/other_status_orders")
    assert delivered.count() == delivered.distinct().count() == N_DELIVERED
    assert other.count() == other.distinct().count() == N_OTHER
    assert sorted(os.listdir(out)) == ["delivered_orders", "other_status_orders"]


@pytest.mark.parametrize("mode", ["stream_batch", "run_pipeline"])
def test_one_spark_job_per_batch(spark, tmp_path, food_csv, mode):
    """Both sinks and C1-C3 come out of ONE Spark job, for a stream
    micro-batch and for a batch run alike."""
    sc = spark.sparkContext
    group = f"one-job-{mode}"
    sc.setJobGroup(group, mode)
    try:
        if mode == "stream_batch":
            counts = process_batch(read_orders_csv(spark, food_csv), str(tmp_path), 0)
        else:
            counts = run_pipeline(spark, food_csv, str(tmp_path)).counts
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert (counts.total, counts.delivered, counts.other) == (
        N_COUNT_TOTAL,
        N_COUNT_DELIVERED,
        N_COUNT_OTHER,
    )
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
