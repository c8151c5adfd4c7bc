"""Writer maintenance tests: compaction actually reduces file counts,
swaps in place, and preserves every row."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.sources.writers import (
    compact_table,
    write_status_table,
)
from tests.fixtures import fail_rename_on_call


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def test_compact_table_reduces_files_and_keeps_rows(spark, tmp_path):
    out = str(tmp_path / "delivered_orders")
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 7).cast("string").alias("status"),
    )
    # Simulate the 10-minute cadence: many small appends (distinct
    # batch ids), each fragmented across shuffle partitions.
    for run in range(6):
        write_status_table(df.repartition(8), out, batch_id=run)

    before = _parquet_files(out)
    assert len(before) >= 40  # genuinely fragmented

    total_before = spark.read.parquet(out).count()
    compact_table(spark, out, target_files_per_partition=2)

    after = _parquet_files(out)
    assert len(after) <= 2  # one date partition → ≤ target files
    assert not os.path.exists(out + ".compact_tmp")
    assert not os.path.exists(out + ".compact_old")

    back = spark.read.parquet(out)
    assert back.count() == total_before
    assert "ingest_date" in back.columns
    # every original row survives (12000 = 6 runs × 2000)
    assert back.count() == 12000


def test_append_after_compaction_stays_readable(spark, tmp_path):
    """Post-compaction appends must not fork the partition layout:
    compaction keeps the (ingest_date, batch_id) directory scheme, so a
    later micro-batch append leaves one readable table (regression for
    CONFLICTING_PARTITION_COLUMN_NAMES)."""
    out = str(tmp_path / "status")
    df = spark.range(100).select(
        F.col("id"), F.lit("delivered").alias("status")
    )
    write_status_table(df, out, batch_id=0)
    write_status_table(df, out, batch_id=1)
    compact_table(spark, out, target_files_per_partition=1)

    # the next streaming micro-batch appends with its own batch_id
    write_status_table(df, out, batch_id=2)

    back = spark.read.parquet(out)
    assert back.count() == 300
    assert set(back.select("batch_id").distinct().toPandas()["batch_id"]) == {
        -2,
        2,
    }
    # recompaction folds the new batch in too
    compact_table(spark, out, target_files_per_partition=1)
    assert spark.read.parquet(out).count() == 300


def test_merge_upsert_replaces_and_inserts(spark, tmp_path):
    from gcp_food_delivery_data_pipeline_spark.sources.writers import (
        merge_upsert,
    )

    out = str(tmp_path / "merge_target")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["id", "name", "amount"],
    )
    base.write.parquet(out)

    updates = spark.createDataFrame(
        [(2, "b2", 25.0), (4, "d", 40.0)], ["id", "name", "amount"]
    )
    merge_upsert(spark, out, updates, key_cols=["id"])

    got = {r.id: (r.name, r.amount) for r in spark.read.parquet(out).collect()}
    assert got == {
        1: ("a", 10.0),     # untouched survivor
        2: ("b2", 25.0),    # matched -> replaced
        3: ("c", 30.0),
        4: ("d", 40.0),     # unmatched -> inserted
    }
    # idempotent re-apply: same updates produce the same table
    merge_upsert(spark, out, updates, key_cols=["id"])
    assert spark.read.parquet(out).count() == 4


def test_merge_upsert_rejects_schema_mismatch(spark, tmp_path):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.sources.writers import (
        merge_upsert,
    )

    out = str(tmp_path / "merge_bad")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(out)
    bad = spark.createDataFrame([(1,)], ["id"])
    with pytest.raises(ValueError, match="column mismatch"):
        merge_upsert(spark, out, bad, key_cols=["id"])


def test_write_status_fanout_matches_two_table_writes(spark, tmp_path):
    """One fan-out pass produces byte-equivalent tables to two appends,
    including NULL-status routing and append-into-existing-leaf."""
    from gcp_food_delivery_data_pipeline_spark.operators.split import (
        split_by_status,
    )
    from gcp_food_delivery_data_pipeline_spark.sources.writers import (
        write_status_fanout,
        write_status_table,
    )

    rows = [
        (1, "delivered"),
        (2, "on the way"),
        (3, None),           # NULL -> other (split_by_status parity)
        (4, "delivered"),
    ]
    df = spark.createDataFrame(rows, ["order_id", "status"])

    fan = str(tmp_path / "fan")
    ref = str(tmp_path / "ref")
    write_status_fanout(df, f"{fan}/delivered", f"{fan}/other")
    delivered, other = split_by_status(df)
    write_status_table(delivered, f"{ref}/delivered")
    write_status_table(other, f"{ref}/other")

    for side in ("delivered", "other"):
        got = spark.read.parquet(f"{fan}/{side}")
        want = spark.read.parquet(f"{ref}/{side}")
        assert sorted(got.columns) == sorted(want.columns)
        key = [r.order_id for r in got.select("order_id").collect()]
        want_key = [r.order_id for r in want.select("order_id").collect()]
        assert sorted(key) == sorted(want_key)

    # append: a second fan-out run doubles rows, never clobbers
    write_status_fanout(df, f"{fan}/delivered", f"{fan}/other")
    assert spark.read.parquet(f"{fan}/delivered").count() == 4
    assert spark.read.parquet(f"{fan}/other").count() == 4


def test_write_status_fanout_leaves_other_staging_alone(spark, tmp_path):
    """Each fan-out stages into a directory of its own: another writer's
    in-flight files at the old fixed staging path survive, and the
    tables hold exactly this call's rows."""
    from gcp_food_delivery_data_pipeline_spark.sources.writers import (
        write_status_fanout,
    )

    fan = str(tmp_path / "fan")
    foreign = f"{fan}/delivered.fanout_tmp/_status_class=other/part-0.parquet"
    os.makedirs(os.path.dirname(foreign))
    open(foreign, "w").close()

    df = spark.createDataFrame(
        [(1, "delivered"), (2, "on the way"), (3, None)], ["order_id", "status"]
    )
    write_status_fanout(df, f"{fan}/delivered", f"{fan}/other")

    assert os.path.exists(foreign)
    assert sorted(os.listdir(fan)) == ["delivered", "delivered.fanout_tmp", "other"]
    got = {
        side: sorted(r.order_id for r in spark.read.parquet(f"{fan}/{side}").collect())
        for side in ("delivered", "other")
    }
    assert got == {"delivered": [1], "other": [2, 3]}


@pytest.mark.parametrize("op", ["compact_table", "merge_upsert"])
def test_failed_swap_rolls_back_original(spark, tmp_path, monkeypatch, op):
    """If the rewritten table cannot be renamed into place, the swap
    raises and moves the original back: same path, same rows."""
    from gcp_food_delivery_data_pipeline_spark.sources.writers import (
        merge_upsert,
    )

    out = str(tmp_path / op)
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("status")
    )
    write_status_table(df, out, batch_id=0)
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())

    calls = fail_rename_on_call(monkeypatch, 2)  # 1: aside, 2: tmp -> path
    with pytest.raises(IOError, match="into place"):
        if op == "compact_table":
            compact_table(spark, out, target_files_per_partition=1)
        else:
            updates = spark.read.parquet(out).limit(5)
            merge_upsert(spark, out, updates, key_cols=["id"])
    monkeypatch.undo()

    assert len(calls) == 3  # the third rename is the rollback
    assert os.path.isdir(out)
    spark.catalog.clearCache()
    after = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert after == before
