"""Event-time streaming tests: watermarked windowed agg equals the
batch rollup on a replayed directory; stateful per-user totals
accumulate across micro-batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.plans.analytics import q_events_hourly
from gcp_food_delivery_data_pipeline_spark.sources.readers import load_table
from gcp_food_delivery_data_pipeline_spark.streaming.events import (
    run_events_hourly_stream,
    run_user_totals_stream,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events replayed as 3 parquet files (3 micro-batches)."""
    out = str(tmp_path_factory.mktemp("events_stream") / "events")
    ev = load_table(spark, SF_DIR, "events")
    ev.withColumn("_split", F.col("event_id") % 3).repartition(
        3, "_split"
    ).drop("_split").write.mode("overwrite").parquet(out)
    return out


def test_stream_hourly_rollup_matches_batch(spark, events_dir, tmp_path):
    q = run_events_hourly_stream(
        spark,
        events_dir,
        str(tmp_path / "ckpt"),
        query_name="t_events_hourly",
    )
    assert q.awaitTermination(180), "stream did not finish draining"

    streamed = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM t_events_hourly").collect()
    }
    batch = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in q_events_hourly(spark.read.parquet(events_dir)).collect()
    }
    assert streamed == batch


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Append-mode session_window stream == batch q_session_window.

    Append mode only emits a session once the watermark passes its
    close, so the replay ends with a far-future sentinel event (its
    own still-open session never emits) that flushes every real
    session out; the comparison excludes the sentinel user.
    """
    from gcp_food_delivery_data_pipeline_spark.plans.analytics import (
        q_session_window,
    )
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        append_watermark_flush,
        run_sessionize_stream,
    )

    src = str(tmp_path / "events")
    ev = load_table(spark, SF_DIR, "events").limit(2000).cache()
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    append_watermark_flush(spark, src)

    q = run_sessionize_stream(
        spark,
        src,
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        watermark="1 minute",
    )
    assert q.awaitTermination(180), "stream did not finish draining"

    streamed = {
        (r.user_id, str(r.session_start)): (
            str(r.session_end),
            r.n_events,
            r.sum_value,
        )
        for r in spark.read.parquet(str(tmp_path / "out"))
        .filter(F.col("user_id") >= 0)
        .collect()
    }
    batch = {
        (r.user_id, str(r.session_start)): (
            str(r.session_end),
            r.n_events,
            r.sum_value,
        )
        for r in q_session_window(ev).collect()
    }
    ev.unpersist()
    assert streamed == batch
    assert len(batch) > 100


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append mode + 2h watermark: a row arriving behind the watermark
    (established by an earlier batch, persisted in the checkpoint) is
    dropped, and the finalized window emitted exactly once."""
    from datetime import datetime

    in_dir = str(tmp_path / "events_in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "rollup_out")

    def write_file(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    # Batch 1: watermark advances to 13:50 - 2h = 11:50 →
    # window [10:00, 11:00) finalizes and emits.
    write_file(
        "a",
        [
            (1, datetime(2024, 3, 1, 10, 15), 1, "click", 1.0),
            (2, datetime(2024, 3, 1, 13, 50), 1, "click", 1.0),
        ],
    )
    q1 = run_events_hourly_stream(spark, in_dir, ckpt, output_path=out)
    assert q1.awaitTermination(120), "stream did not finish draining"
    emitted = {
        (r.hour, r.event_type): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    assert emitted == {(datetime(2024, 3, 1, 10, 0), "click"): 1}

    # Batch 2 (restart on same checkpoint): 10:30 is behind the 11:50
    # watermark → dropped by the state store, counted in progress.
    write_file(
        "b",
        [
            (3, datetime(2024, 3, 1, 10, 30), 1, "click", 1.0),  # LATE
            (4, datetime(2024, 3, 1, 14, 10), 1, "click", 1.0),
        ],
    )
    q2 = run_events_hourly_stream(spark, in_dir, ckpt, output_path=out)
    assert q2.awaitTermination(120), "stream did not finish draining"
    dropped = sum(
        int(p["numRowsDroppedByWatermark"])
        for p in (q2.recentProgress or [])
        for p in p.get("stateOperators", [])
    )
    assert dropped == 1


def test_stateful_user_totals_accumulate(spark, events_dir, tmp_path):
    q = run_user_totals_stream(
        spark,
        events_dir,
        str(tmp_path / "ckpt"),
        query_name="t_user_totals",
    )
    assert q.awaitTermination(180), "stream did not finish draining"

    # update-mode memory sink: one row per user per micro-batch; the
    # running count is monotone, so max(n_events) is the final state
    # (robust to collect order).
    rows = spark.sql("SELECT * FROM t_user_totals").collect()
    final: dict[int, tuple[int, float]] = {}
    for r in rows:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.sum_value)

    ev = spark.read.parquet(events_dir)
    expected = {
        r.user_id: (r.n, round(r.s, 2))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert {u: v[0] for u, v in final.items()} == {
        u: v[0] for u, v in expected.items()
    }
    for u in expected:
        assert abs(final[u][1] - expected[u][1]) < 0.05


def test_stream_dedup_across_batches_and_restarts(spark, tmp_path):
    """A key re-delivered in a LATER file (and a full re-run over the
    same directory) reaches the sink exactly once: dedup state lives in
    the checkpoint, not the micro-batch."""
    from datetime import datetime

    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_stream_dedup,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_file(name, rows):
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value"]
        ).coalesce(1).write.mode("append").parquet(in_dir)

    t = lambda m: datetime(2024, 1, 1, 10, m)
    write_file("f1", [(1, t(0), 7, "click", 1.0), (2, t(1), 8, "click", 2.0)])
    q = run_stream_dedup(spark, in_dir, ckpt, out)
    assert q.awaitTermination(120), "stream did not finish draining"

    # second file re-delivers id 2 (within the watermark) + new id 3
    write_file("f2", [(2, t(1), 8, "click", 2.0), (3, t(2), 9, "buy", 3.0)])
    q = run_stream_dedup(spark, in_dir, ckpt, out)
    assert q.awaitTermination(120), "stream did not finish draining"

    got = sorted(
        r.event_id for r in spark.read.parquet(out).select("event_id").collect()
    )
    assert got == [1, 2, 3]


def test_stream_stream_join_matches_batch_range_join(
    spark, events_dir, tmp_path
):
    """The watermarked stream-stream self-join produces exactly the
    pairs the batch range join produces (restricted to
    click <= purchase) on a replayed directory."""
    from gcp_food_delivery_data_pipeline_spark.operators.joins import (
        range_join_within,
    )
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_click_attribution_stream,
    )

    out = str(tmp_path / "attr_out")
    # Watermark must cover the REPLAYED data span: the fixture's three
    # files each span the full time range, so with a small watermark a
    # later batch's rows sit behind the watermark advanced by an
    # earlier batch and are legitimately dropped — parity with the
    # batch join then depends on micro-batch composition (the flake
    # this exhibited under full-suite load). Watermark-driven state
    # eviction/late-drop behavior has its own dedicated tests
    # (test_watermark_drops_late_rows); THIS test pins join semantics.
    q = run_click_attribution_stream(
        spark, events_dir, str(tmp_path / "ckpt"), out, watermark="365 days"
    )
    # 360s: under a loaded full-suite JVM the micro-batches can take
    # 2-3x their isolated pace; 180s flaked while passing in isolation
    assert q.awaitTermination(360), "stream did not finish draining"

    streamed = {
        (r.purchase_id, r.click_id)
        for r in spark.read.parquet(out).collect()
    }

    ev = spark.read.parquet(events_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    batch_pairs = range_join_within(
        clicks, purchases, on="ts", by="user_id", window_seconds=3600
    ).filter(F.col("l_ts") <= F.col("r_ts"))
    batch = {
        (r.r_event_id, r.l_event_id) for r in batch_pairs.collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_upsert_latest_value_per_key_wins(spark, tmp_path):
    from datetime import datetime

    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_stream_upsert,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "target")
    t = lambda m: datetime(2024, 1, 1, 10, m)

    def write_file(rows):
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value"]
        ).coalesce(1).write.mode("append").parquet(in_dir)

    # batch 1: initial keys; batch 2 (separate file => separate
    # micro-batch): update key 2, insert key 3, two updates to key 1
    # in ONE batch (latest ts must win)
    write_file([(1, t(0), 7, "click", 1.0), (2, t(1), 8, "click", 2.0)])
    write_file(
        [
            (2, t(5), 8, "click", 22.0),
            (3, t(6), 9, "buy", 3.0),
            (1, t(2), 7, "click", 10.0),
            (1, t(3), 7, "click", 11.0),
        ]
    )
    q = run_stream_upsert(spark, in_dir, ckpt, target)
    assert q.awaitTermination(180), "stream did not finish draining"

    got = {
        r.event_id: r.value for r in spark.read.parquet(target).collect()
    }
    assert got == {1: 11.0, 2: 22.0, 3: 3.0}

    # re-run over the same checkpoint: no-op (idempotent by key)
    q = run_stream_upsert(spark, in_dir, ckpt, target)
    assert q.awaitTermination(180), "stream did not finish draining"
    assert spark.read.parquet(target).count() == 3


def test_stream_quality_monitor_per_batch(spark, events_dir, tmp_path):
    """Every micro-batch gets its own constraint evaluation row set;
    the summed per-batch violation counts reconcile with a batch run
    of the same rules over the whole directory."""
    from gcp_food_delivery_data_pipeline_spark.operators.quality import (
        check_constraints,
        in_range,
        not_null,
        unique,
    )
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_stream_quality,
    )

    out = str(tmp_path / "dq_out")
    q = run_stream_quality(
        spark, events_dir, str(tmp_path / "dq_ckpt"), out
    )
    assert q.awaitTermination(360), "quality stream did not drain"

    res = spark.read.parquet(out)
    batches = [r.batch_id for r in res.select("batch_id").distinct().collect()]
    assert len(batches) >= 2  # maxFilesPerTrigger=1 -> one per file
    assert res.count() == 3 * len(batches)  # 3 rules per batch

    rules = [not_null("event_id"), in_range("value", 0.0, 1e6)]
    whole = {
        r.rule: r.n_violations
        for r in check_constraints(
            spark.read.parquet(events_dir), rules
        ).collect()
    }
    summed = {
        r.rule: r.total
        for r in res.filter(F.col("rule") != "unique(event_id)")
        .groupBy("rule")
        .agg(F.sum("n_violations").alias("total"))
        .collect()
    }
    # count rules are additive across batches (uniqueness is not)
    assert summed == whole


def test_stream_enrich_matches_batch_left_join(spark, events_dir, tmp_path):
    """Stream-static enrichment over 3 micro-batches equals the batch
    left join row-for-row, including the unknown fallback for keys
    missing from the dimension."""
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_stream_enrich,
    )

    ev = load_table(spark, SF_DIR, "events")
    # dim covering only half the users -> both match and fallback paths
    dim = (
        load_table(spark, SF_DIR, "customer")
        .select("c_custkey", "c_mktsegment")
        .filter(F.col("c_custkey") % 2 == 0)
    )
    q = run_stream_enrich(
        spark,
        events_dir,
        dim,
        str(tmp_path / "enrich_ckpt"),
        query_name="t_stream_enrich",
    )
    assert q.awaitTermination(360), "enrich stream did not drain"
    got = {
        (r.event_id, r.user_id, r.segment, r.value)
        for r in spark.table("t_stream_enrich").collect()
    }
    expect = {
        (r.event_id, r.user_id, r.segment, r.value)
        for r in ev.join(
            dim, ev["user_id"] == dim["c_custkey"], "left"
        )
        .select(
            "event_id",
            "user_id",
            F.coalesce("c_mktsegment", F.lit("unknown")).alias("segment"),
            "value",
        )
        .collect()
    }
    assert got == expect
    assert any(seg == "unknown" for _, _, seg, _ in got)


def test_stream_window_topk_matches_batch_and_is_replay_idempotent(
    spark, tmp_path
):
    """Finalized (hour, user) cells + batch rank == pure batch top-3;
    re-draining the SAME checkpoint adds no duplicate cells."""
    import shutil

    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        append_watermark_flush,
        run_window_topk_stream,
        window_topk,
    )

    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", in_dir)
    append_watermark_flush(spark, in_dir)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    q = run_window_topk_stream(spark, in_dir, ckpt, out)
    assert q.awaitTermination(360), "topk stream did not drain"
    cells = spark.read.parquet(out).filter(F.col("user_id") >= 0)
    got = {
        (r.hour, r.user_id): (r.n_events, r.rn)
        for r in window_topk(cells, k=3).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    from pyspark.sql import Window as W

    batch = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("hour").orderBy(
                    F.col("n_events").desc(), F.col("user_id")
                )
            ),
        )
        .filter(F.col("rn") <= 3)
    )
    expect = {
        (
            r.hour.strftime("%Y-%m-%d %H:%M:%S"),
            r.user_id,
        ): (r.n_events, r.rn)
        for r in batch.collect()
    }
    assert got == expect
    # replay the drained checkpoint: no new cells may appear
    n_before = spark.read.parquet(out).count()
    q2 = run_window_topk_stream(spark, in_dir, ckpt, out)
    assert q2.awaitTermination(360)
    assert spark.read.parquet(out).count() == n_before


def test_stream_left_join_matches_batch_left_join(spark, tmp_path):
    """LEFT OUTER watermarked stream-stream join == the batch LEFT
    JOIN, including null-click rows for unmatched purchases. Null
    emission is watermark-driven state expiry, so the drain protocol
    mirrors __spark_entry__._q_stream_left_join: typed far-future
    flush sentinels (this query filters click/purchase BEFORE its
    watermark nodes) and TWO drains on one checkpoint — the second
    drain's batch executes under the first sentinel's watermark and
    flushes every real unmatched purchase. All real data arrives as
    ONE file so no real row is ever late against the watermark; only
    the outer-emission machinery is under test."""
    import shutil

    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        append_watermark_flush,
        run_click_attribution_left_stream,
    )

    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", in_dir)
    append_watermark_flush(spark, in_dir, event_types=("click", "purchase"))
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    for i in range(2):
        q = run_click_attribution_left_stream(
            spark, in_dir, ckpt, out, horizon_seconds=3600
        )
        assert q.awaitTermination(360), "left-join stream did not drain"
        if i == 0:
            append_watermark_flush(
                spark, in_dir, event_types=("click", "purchase")
            )
    streamed = {
        (r.purchase_id, r.click_id, r.p_user, r.purchase_value)
        for r in spark.read.parquet(out)
        .filter(F.col("p_user") != -1)  # sentinel purchases excluded
        .collect()
    }

    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = {
        (r.purchase_id, r.click_id, r.p_user, r.purchase_value)
        for r in purchases.join(
            clicks,
            F.expr(
                "c_user = p_user AND click_ts <= purchase_ts AND "
                "click_ts >= purchase_ts - INTERVAL 3600 SECONDS"
            ),
            "left",
        )
        .select("purchase_id", "click_id", "p_user", "purchase_value")
        .collect()
    }
    assert streamed == batch
    # both code paths must be exercised: matched and null-click rows
    assert any(c is not None for _, c, _, _ in streamed)
    assert any(c is None for _, c, _, _ in streamed)
