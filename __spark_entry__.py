"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship star-join query at sf0.001.
``queries()`` exposes every implemented operator (SURVEY.md §2 parity
rows + the M4 analytics layer + the M5 LLM-pipeline operators) as a
(spark, sf_dir) → DataFrame callable; ``oracle_sql()`` carries the
DuckDB-equivalent SQL for each. Column names and rounding are aligned
on both sides so the driver's order-insensitive value-hash matches.

Float policy: aggregates of money-like doubles are rounded to 2
decimals (inputs are 2-decimal values, so the true sum is exactly
representable and both engines' summation orders agree after
rounding); ratios/averages/cosines are rounded to 6.
"""

from __future__ import annotations

import os
import re
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.checkpointing import CONF_KEY, materialize
from gcp_food_delivery_data_pipeline_spark.config import load_conf
from gcp_food_delivery_data_pipeline_spark.functions.cleaning import (
    strip_one_trailing_colon,
    strip_special_chars,
)
from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
    EMAIL_RE as _EMAIL_RE,
    IPV4_RE as _IPV4_RE,
    PHONE_RE as _PHONE_RE,
)
from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
    dedup_exact,
    embedding_dedup,
    embedding_near_dup_pairs,
    lsh_candidate_pairs,
    with_simhash,
)
from gcp_food_delivery_data_pipeline_spark.operators.joins import (
    asof_join_backward,
    range_join_within,
)
from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
    attach_fake_payload,
    extract_features,
    filter_by_meta,
    resize_payload,
    sample_frames,
)
from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
    ivf_topk,
    lsh_bucketed_topk,
    topk_exact,
)
from gcp_food_delivery_data_pipeline_spark.operators.split import (
    split_by_status,
    status_counts,
)
from gcp_food_delivery_data_pipeline_spark.operators.text import (
    bpe_token_count,
    language_id,
    quality_score,
    rolling_fingerprint,
    tf_idf_top_terms,
    token_count,
)
from gcp_food_delivery_data_pipeline_spark.plans import analytics as A
from gcp_food_delivery_data_pipeline_spark.sources.readers import load_table
from gcp_food_delivery_data_pipeline_spark.sources.writers import ensure_database

SF_SMALL = "/root/testdata/sf0.001"

# Deterministic pseudo-random LSH hash tables (L tables × b bits over
# 64 dims) — a fixed xorshift stream, no runtime RNG.
def _lsh_tables(
    n_tables: int = 8, bits: int = 3, dim: int = 64
) -> list[list[list[float]]]:
    x = 88172645463325252
    tables = []
    for _ in range(n_tables):
        planes = []
        for _ in range(bits):
            row = []
            for _ in range(dim):
                # xorshift64
                x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
                x ^= x >> 7
                x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
                row.append(((x % 2001) - 1000) / 1000.0)
            planes.append(row)
        tables.append(planes)
    return tables


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: revenue per nation in one region — star join with
    broadcast dims + group-agg (plans/analytics.py:q5_nation_revenue)."""
    t = {n: load_table(spark, SF_SMALL, n) for n in
         ["customer", "orders", "lineitem", "nation", "region"]}
    return A.q5_nation_revenue(
        t["customer"], t["orders"], t["lineitem"], t["nation"], t["region"]
    )


# ---------------------------------------------------------------------------
# queries() helpers — each returns a (spark, sf_dir) -> DataFrame callable.
# ---------------------------------------------------------------------------

def _q_s1_scan_count(spark: SparkSession, sf: str) -> DataFrame:
    """S1: structured scan, row count (scan prunes to zero columns)."""
    return load_table(spark, sf, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def _q_p1_strip_colon(spark: SparkSession, sf: str) -> DataFrame:
    """P1: strip AT MOST ONE trailing colon (reference code/beam.py:35-39)."""
    d = load_table(spark, sf, "documents")
    one = F.concat(F.col("source"), F.lit(":"))
    two = F.concat(F.col("source"), F.lit("::"))
    return d.select(
        "doc_id",
        strip_one_trailing_colon(one).alias("items_one"),
        strip_one_trailing_colon(two).alias("items_two"),
    )


def _q_p2_p3_clean(spark: SparkSession, sf: str) -> DataFrame:
    """P2+P3: lowercase + strip the special chars on every projected
    column."""
    c = load_table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        strip_special_chars(F.lower("c_name")).alias("name_clean"),
        strip_special_chars(F.lower("c_mktsegment")).alias("segment_clean"),
    )


def _q_p4_constant(spark: SparkSession, sf: str) -> DataFrame:
    """P4: constant string column appended to a projection."""
    return load_table(spark, sf, "orders").select(
        "o_orderkey", F.lit("1").alias("new_col")
    )


def _q_p5_projection(spark: SparkSession, sf: str) -> DataFrame:
    """P5: dict projection — positional naming + renames + null-drop."""
    e = load_table(spark, sf, "events")
    return (
        e.filter(F.col("props").isNotNull())
        .select(
            F.col("event_id").alias("id"),
            F.col("event_type").alias("kind"),
            F.col("value"),
        )
    )


def _q_clean_chain(spark: SparkSession, sf: str) -> DataFrame:
    """P1→P2→P3→P4 composed in reference operator order."""
    d = load_table(spark, sf, "documents")
    s = strip_one_trailing_colon(F.concat(F.col("text"), F.lit(":")))  # P1
    s = strip_special_chars(F.lower(s))  # P2, P3
    return d.select(
        "doc_id", s.alias("cleaned"), F.lit("1").alias("new_col")  # P4
    )


def _q_f1_delivered(spark: SparkSession, sf: str) -> DataFrame:
    """F1: the delivered side of ``split_by_status`` (status == sentinel)."""
    orders = load_table(spark, sf, "orders")
    delivered, _ = split_by_status(orders, "o_orderstatus", "F")
    return delivered.select("o_orderkey", "o_orderstatus", "o_totalprice")


def _q_f2_other(spark: SparkSession, sf: str) -> DataFrame:
    """F2: the other side of ``split_by_status`` (NULL-inclusive complement)."""
    orders = load_table(spark, sf, "orders")
    _, other = split_by_status(orders, "o_orderstatus", "F")
    return other.select("o_orderkey", "o_orderstatus", "o_totalprice")


def _q_c1_c3_counts(spark: SparkSession, sf: str) -> DataFrame:
    """C1-C3: the single-pass 3-way conditional count (``status_counts``)."""
    return load_table(spark, sf, "orders").agg(*status_counts("o_orderstatus", "F"))


def _q_s3_write_readback(spark: SparkSession, sf: str) -> DataFrame:
    """S3/S4: partitioned write + readback parity (counts + value sum)."""
    out = os.path.join(tempfile.gettempdir(), "spark_graft_s3_check")
    orders = load_table(spark, sf, "orders")
    (
        orders.write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def _q_json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines sink + source: write events as JSON, read back with an
    explicit schema (no inference pass), aggregate — value parity proves
    the codec round-trips types (timestamps via ISO strings)."""
    out = os.path.join(tempfile.gettempdir(), "spark_graft_json_check")
    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", "value", F.col("ts").cast("long").alias("ts_sec")
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, event_type string, value double, ts_sec long"
    ).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.max("ts_sec").alias("max_ts_sec"),
    )


def _q_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC sink + source: the second columnar format Spark ships
    natively; same readback-parity contract as the parquet sink."""
    out = os.path.join(tempfile.gettempdir(), "spark_graft_orc_check")
    c = load_table(spark, sf, "customer")
    c.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
    )


def _q_shard_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Size-balanced export sharding: (weight DESC, id) rank dealt in
    snake order — the one-pass LPT approximation that keeps shard
    costs within one max-document of optimal. Rank is the two-phase
    distributed machinery, never a single-task global window; the
    oracle restates it with a plain window (correct at oracle scale)."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        shard_assign_balanced,
    )

    return shard_assign_balanced(
        load_table(spark, sf, "documents"), n_shards=8
    )


def _q_hilbert_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Hilbert-curve layout probe beside q_zorder_buckets: same
    (custkey, orderkey) domain, same per-top-bits bucket aggregation,
    but keyed by the Hilbert walk — consecutive key ranges map to
    CONTIGUOUS grid tiles (no Morton diagonal jumps), the tighter
    file-bounding-box layout. Oracle = the identical integer
    recurrence as a recursive CTE (list_reduce struct-fold is
    mis-evaluated by the oracle engine; see verify SKILL)."""
    from gcp_food_delivery_data_pipeline_spark.operators.scale import (
        hilbert_key,
    )

    o = load_table(spark, sf, "orders")
    h = hilbert_key(
        F.pmod(F.col("o_custkey"), F.lit(256)),
        F.pmod(F.col("o_orderkey"), F.lit(256)),
        bits=8,
    )
    return (
        o.select(h.alias("hval"))
        .groupBy(F.shiftright("hval", 8).alias("h_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("hval").alias("h_min"),
            F.max("hval").alias("h_max"),
        )
    )


def _q_dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card summary (volume, diversity, dup rate, language
    share, mean length) in long (metric, value) format: one
    aggregation pass + a stack unpivot; every value an exact count or
    exact count ratio, so the card is engine-reproducible."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        dataset_card,
    )

    return dataset_card(load_table(spark, sf, "documents"))


def _q_sql_api_twin(spark: SparkSession, sf: str) -> DataFrame:
    """The spark.sql() entry path, driver-graded: register the tables
    as temp views and run a multi-join aggregation as SQL TEXT —
    proving the other half of the DataFrame/SQL surface goes through
    the same Catalyst plans (broadcast dims, pushdown) as the
    DataFrame twins that grade everywhere else. Revenue per region
    over delivered-equivalent (F) orders, decimal-summed."""
    for t in ("orders", "customer", "nation", "region"):
        load_table(spark, sf, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT r.r_name AS region,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS revenue
        FROM v_orders o
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        JOIN v_region r ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY r.r_name
        """
    )


def _q_avro_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Avro sink + source — the row-oriented interchange codec next to
    the columnar parquet/ORC twins. A bare pyspark install lacks the
    short-name service registration, so the writer addresses the full
    provider class (sources/writers.py:write_avro); timestamps travel
    as micros and are read back losslessly."""
    from gcp_food_delivery_data_pipeline_spark.sources.writers import (
        read_avro,
        write_avro,
    )

    out = os.path.join(tempfile.gettempdir(), "spark_graft_avro_check")
    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    write_avro(ev, out)
    back = read_avro(spark, out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_value"),
        F.max(F.unix_micros("ts")).alias("max_ts_us"),
    )


def _q_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible 5% sample via a stable content hash of the key —
    the scale-correct sampling primitive: deterministic across runs,
    engines, partitionings, and cluster sizes (``df.sample`` is none of
    those — seeds bind to partition layout). Filter is pushable and the
    sample composes with any downstream query."""
    orders = load_table(spark, sf, "orders")
    bucket = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long") % 20
    return orders.filter(bucket == 0).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


def _scratch_root(prefix: str, sf: str) -> str:
    """Fresh pid-keyed scratch dir for table-writing queries, plus a
    sweep of STALE same-prefix siblings (mtime > 1h). The pid key
    keeps concurrent grader runs (cross-SF) from rmtree-ing each
    other's live tables; without the age-guarded sweep every run's
    fresh pid would leak a full table copy into tempdir forever. A
    sibling older than an hour cannot belong to a live run of this
    grader (whole rounds finish in minutes)."""
    import glob
    import shutil
    import time

    base = tempfile.gettempdir()
    me = os.path.join(
        base,
        f"{prefix}_{os.path.basename(os.path.normpath(sf))}_{os.getpid()}",
    )
    shutil.rmtree(me, ignore_errors=True)
    cutoff = time.time() - 3600
    for p in glob.glob(os.path.join(base, f"{prefix}_*")):
        if p == me:
            continue
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    return me


def _q_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """CDC MERGE parity: seed a table from orders, upsert a batch that
    bumps every 10th order's totalprice (+10.00) and readback-aggregate;
    the oracle computes the merged state directly from the source."""
    from gcp_food_delivery_data_pipeline_spark.sources.writers import (
        merge_upsert,
    )

    out = _scratch_root("spark_graft_merge", sf)
    orders = load_table(spark, sf, "orders")
    orders.write.mode("overwrite").parquet(out)
    updates = orders.filter((F.col("o_orderkey") % 10) == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
    )
    merge_upsert(spark, out, updates, key_cols=["o_orderkey"])
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


def _q_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot versioning + time travel (sources/versioned.py): v1 =
    orders as-is, v2 = every 10th order's totalprice +10.00; reading
    BOTH versions back concurrently proves snapshot isolation (v1 is
    untouched by v2's publish). The oracle recomputes each version's
    aggregate arithmetically from the source table."""
    from gcp_food_delivery_data_pipeline_spark.sources.versioned import (
        read_snapshot,
        write_snapshot,
    )

    root = _scratch_root("spark_graft_tt", sf)
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_snapshot(spark, orders, root)
    bumped = orders.withColumn(
        "o_totalprice",
        F.when(
            (F.col("o_orderkey") % 10) == 0,
            F.col("o_totalprice") + F.lit(10.0),
        ).otherwise(F.col("o_totalprice")),
    )
    write_snapshot(spark, bumped, root)

    def agg(df: DataFrame, v: int) -> DataFrame:
        return df.agg(
            F.lit(v).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )

    return agg(read_snapshot(spark, root, 1), 1).unionByName(
        agg(read_snapshot(spark, root, 2), 2)
    )


def _q_s5_ddl(spark: SparkSession, sf: str) -> DataFrame:
    """S5: CREATE DATABASE IF NOT EXISTS (reference beam.py:141-150)."""
    ensure_database(spark, "food_orders")
    dbs = [r.namespace for r in spark.sql("SHOW DATABASES").collect()]
    return spark.range(1).select(
        F.lit(1).alias("ok"),
        F.lit("food_orders" in dbs).cast("int").alias("db_exists"),
    )


def _q_o6_conf(spark: SparkSession, sf: str) -> DataFrame:
    """O6: key=value conf-file loader (reference airflow_pipe.py:23-38)."""
    path = os.path.join(tempfile.gettempdir(), "spark_graft_conf.conf")
    with open(path, "w", encoding="utf-8") as f:
        f.write(
            "# engine config\n\nPROJECT_ID = demo-project\n"
            "BQ_DATASET=food_orders\nVERSION=v1\n"
            "URL=http://example.com/a=b\n"  # value containing '='
        )
    conf = load_conf(path)
    rows = [(k, v) for k, v in sorted(conf.items())]
    return spark.createDataFrame(rows, ["key", "value"])


# ----- analytics (M4) -----

def _tables(spark: SparkSession, sf: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf, n) for n in names}


def _q_q1(spark: SparkSession, sf: str) -> DataFrame:
    return A.q1_pricing_summary(load_table(spark, sf, "lineitem"))


def _q_q3(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "customer", "orders", "lineitem")
    out = A.q3_top_revenue_orders(t["customer"], t["orders"], t["lineitem"])
    return out.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "revenue",
    )


def _q_q5(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "customer", "orders", "lineitem", "nation", "region")
    return A.q5_nation_revenue(
        t["customer"], t["orders"], t["lineitem"], t["nation"], t["region"]
    )


def _q_q4(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "orders", "lineitem")
    return A.q4_order_priority(t["orders"], t["lineitem"])


def _q_q6(spark: SparkSession, sf: str) -> DataFrame:
    return A.q6_forecast_revenue(load_table(spark, sf, "lineitem"))


def _q_q10(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "customer", "orders", "lineitem", "nation")
    return A.q10_returned_items(
        t["customer"], t["orders"], t["lineitem"], t["nation"]
    )


def _q_q14(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "lineitem", "part")
    return A.q14_promo_revenue(t["lineitem"], t["part"])


def _q_q18(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "customer", "orders", "lineitem")
    return A.q18_large_volume_orders(t["customer"], t["orders"], t["lineitem"])


def _q_q19(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "lineitem", "part")
    return A.q19_discounted_revenue(t["lineitem"], t["part"])


def _q_q7(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "customer", "orders", "lineitem", "supplier", "nation")
    return A.q7_nation_trade(
        t["customer"], t["orders"], t["lineitem"], t["supplier"], t["nation"]
    )


def _q_q13(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "customer", "orders")
    return A.q13_order_count_distribution(t["customer"], t["orders"])


def _q_q15(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "lineitem", "supplier")
    return A.q15_top_supplier(t["lineitem"], t["supplier"])


def _q_q17(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "lineitem", "part")
    return A.q17_small_quantity_revenue(t["lineitem"], t["part"])


def _q_q22(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "customer", "orders")
    return A.q22_idle_rich_customers(t["customer"], t["orders"])


def _q_q8(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(
        spark, sf, "part", "supplier", "lineitem", "orders", "customer",
        "nation", "region",
    )
    return A.q8_market_share(
        t["part"], t["supplier"], t["lineitem"], t["orders"],
        t["customer"], t["nation"], t["region"],
    )


def _q_q9(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "part", "supplier", "lineitem", "orders", "nation")
    return A.q9_product_profit(
        t["part"], t["supplier"], t["lineitem"], t["orders"], t["nation"]
    )


def _q_q12(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "orders", "lineitem")
    return A.q12_ship_priority(t["orders"], t["lineitem"])


def _q_q21(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "supplier", "lineitem", "nation")
    return A.q21_last_shipper(t["supplier"], t["lineitem"], t["nation"])


def _q_q2(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "part", "supplier", "lineitem", "nation", "region")
    return A.q2_min_cost_supplier(
        t["part"], t["supplier"], t["lineitem"], t["nation"], t["region"]
    )


def _q_q11(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "lineitem", "supplier", "nation")
    return A.q11_important_stock(t["lineitem"], t["supplier"], t["nation"])


def _q_q16(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "part", "lineitem", "supplier")
    return A.q16_supplier_by_part_attrs(
        t["part"], t["lineitem"], t["supplier"]
    )


def _q_q20(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "part", "supplier", "lineitem", "nation")
    return A.q20_promo_part_suppliers(
        t["part"], t["supplier"], t["lineitem"], t["nation"]
    )


def _q_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-direction as-of: each click's closest purchase in time
    (either direction) by the same user; exact ties prefer the
    backward row — attribution when the conversion may precede OR
    follow the touchpoint."""
    from gcp_food_delivery_data_pipeline_spark.operators.joins import (
        asof_join,
    )

    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    out = asof_join(
        clicks,
        purchases,
        on="ts",
        by="user_id",
        right_value_cols=[],
        direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("ts_matched").alias("nearest_purchase_us"),
    )


def _q_bfs_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS over the strong co-occurrence graph: hop
    distance from the seed set (part ids <= 5 present in the graph)
    to every node within 4 hops — the reachability/blast-radius
    primitive of the iterative-graph family. Oracle: a depth-bounded
    recursive CTE taking min(dist) per node (level-synchronous BFS
    == min over all <=4-hop walks)."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        bfs_distances,
    )

    edges = _part_edges(spark, sf, symmetric=True, min_n=2)
    seeds = edges.select(F.col("src").alias("node")).filter(
        F.col("node") <= 5
    )
    return bfs_distances(edges, seeds, max_hops=4)


def _q_hourly_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Linear interpolation across hourly gaps per event type — the
    level-metric twin of q_hourly_gapfill's zero-fill. Two
    ignore-nulls struct-carry window passes; exact integer hour
    indexes + decimal-summed values keep the arithmetic
    bit-reproducible in the SQL oracle."""
    return A.q_hourly_interpolate(load_table(spark, sf, "events"))


def _q_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Common-neighbors link prediction over the strong co-occurrence
    graph: top-50 non-adjacent pairs by Jaccard coefficient — the
    classic missing-edge ranking. Candidates come from the wedge
    join (distance-2 support only), never all-pairs."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        link_prediction_scores,
    )

    return link_prediction_scores(
        _part_edges(spark, sf, symmetric=True, min_n=2), k=50
    )


def _q_zipf_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf rank-frequency fit per source: ln(freq)~ln(rank) OLS
    slope + r2 over each source's word-frequency table — the
    corpus-forensics signal that flags templated/synthetic text."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        zipf_profile,
    )

    return zipf_profile(load_table(spark, sf, "documents"))


def _q_distinctive_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source distinctive vocabulary by smoothed rate ratio
    (fightin'-words family): exact integer counts, one fixed-shape
    IEEE quotient — bit-reproducible ranking, no rounding step."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        distinctive_terms,
    )

    return distinctive_terms(load_table(spark, sf, "documents"))


def _q_anti(spark: SparkSession, sf: str) -> DataFrame:
    t = _tables(spark, sf, "customer", "orders")
    return A.q_customers_without_orders(t["customer"], t["orders"])


def _q_window_topk(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_top_customers_per_segment(load_table(spark, sf, "customer"))


def _q_window_running(spark: SparkSession, sf: str) -> DataFrame:
    out = A.q_customer_running_spend(load_table(spark, sf, "orders"))
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "running_spend",
    )


def _q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    out = A.q_events_hourly(load_table(spark, sf, "events"))
    return out.select(
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n_events",
        "sum_value",
    )


def _q_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_distinct_users(load_table(spark, sf, "events"))


def _q_props_extract(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_props_extract(load_table(spark, sf, "events"))


def _q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_rollup_revenue(load_table(spark, sf, "lineitem"))


def _q_cube(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_cube_events(load_table(spark, sf, "events"))


def _q_approx_users(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_approx_users(load_table(spark, sf, "events"))


def _q_top_words(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_top_words(load_table(spark, sf, "documents"))


def _q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_sessionize(load_table(spark, sf, "events"))


def _q_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Native ``session_window`` sessionization (the scale/streaming
    path; ``q_sessionize`` is the gaps-and-islands twin). The oracle
    states the same sessions in gaps-and-islands SQL: a session breaks
    when the gap is >= 30 min (Spark merges only strictly-overlapping
    windows), and session_end = last event + gap."""
    return _fmt_session_output(
        A.q_session_window(load_table(spark, sf, "events"))
    )


def _fmt_session_output(sessions: DataFrame) -> DataFrame:
    """Session rows with timestamps formatted for the hash compare."""
    return sessions.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
        "sum_value",
    )


def _q_intersect(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_custkeys_both_statuses(load_table(spark, sf, "orders"))


def _q_except(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_custkeys_only_open(load_table(spark, sf, "orders"))


def _q_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_balance_quartiles(load_table(spark, sf, "customer"))


# ----- text analysis (M5) -----

def _q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    )


def _q_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    out = quality_score(d.select("doc_id", "text"))
    return out.select(
        "doc_id",
        "n_chars_q",
        "n_tokens",
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        "quality_score",
    )


def _q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return language_id(d.select("doc_id", "text")).select("doc_id", "lang_pred")


def _q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("fp_md5"),
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias(
            "fp_norm"
        ),
    )


def _q_ntile(spark: SparkSession, sf: str) -> DataFrame:
    """NTILE(4) balance buckets per customer — the ranked-window family
    member the quartile (percentile) query doesn't cover: every row gets
    a bucket, deterministically via the (acctbal, custkey) tie-break.

    A bare ``ntile(4) OVER (ORDER BY ...)`` funnels the whole table
    through ONE task; instead the global rank comes from the
    distributed two-phase rank (range-repartition + local row_number +
    per-partition offsets) and the bucket is derived arithmetically
    with SQL-standard NTILE semantics: the first ``n % 4`` buckets get
    ``n // 4 + 1`` rows, the rest ``n // 4``.
    """
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        _global_ordered_rank_and_prefix,
    )

    c = load_table(spark, sf, "customer").select("c_acctbal", "c_custkey")
    ranked = _global_ordered_rank_and_prefix(
        c, ["c_acctbal", "c_custkey"], F.lit(0)
    )
    # Scalar row count from the BASE table: aggregating `ranked` would
    # evaluate the whole two-phase rank pipeline a second time just to
    # count rows the plain scan already knows.
    total = c.agg(F.count(F.lit(1)).alias("_n"))
    g = F.col("_grank")
    n = F.col("_n")
    q = F.floor(n / 4)
    r = n % 4
    bucket = (
        F.when(q == F.lit(0), g)
        .when(g <= r * (q + 1), F.ceil(g / (q + 1)))
        .otherwise(r + F.ceil((g - r * (q + 1)) / q))
    )
    buckets = ranked.crossJoin(F.broadcast(total)).select(
        F.col("c_acctbal").cast("decimal(18,2)").alias("_bal"),
        bucket.cast("int").alias("bal_quartile"),
    )
    return buckets.groupBy("bal_quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_bal").cast("double").alias("sum_bal"),
    )


def _q_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution: v1 files lack a column that v2 files carry;
    ``mergeSchema`` reads both generations as one table with NULLs for
    the missing column — the append-only evolution contract a long-lived
    partitioned table needs."""
    out = os.path.join(tempfile.gettempdir(), "spark_graft_evolve_check")
    ev = load_table(spark, sf, "events")
    v1 = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "value"
    )
    v2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value", F.col("user_id").alias("uid")
    )
    v1.write.mode("overwrite").parquet(out + "/gen=1")
    v2.write.mode("overwrite").parquet(out + "/gen=2")
    back = spark.read.option("mergeSchema", True).parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("uid").alias("n_with_uid"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _q_hourly_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_hourly_gapfill(load_table(spark, sf, "events"))


def _q_status_pivot(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_status_pivot(load_table(spark, sf, "orders"))


def _q_moving_window(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_value_moving_window(load_table(spark, sf, "events"))


def _q_corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass corpus profile: doc count + token-count distribution
    (exact percentiles) — the first query run against any new corpus."""
    d = load_table(spark, sf, "documents")
    toks = d.select(token_count("text").alias("n"))
    return toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n").alias("min_tokens"),
        F.max("n").alias("max_tokens"),
        F.round(F.avg("n"), 6).alias("avg_tokens"),
        F.round(F.expr("percentile(n, 0.5)"), 6).alias("p50_tokens"),
        F.round(F.expr("percentile(n, 0.95)"), 6).alias("p95_tokens"),
    )


def _q_events_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding 2h windows advancing hourly (each event lands in two
    windows) — the batch twin of streaming's sliding aggregation;
    ``F.window`` expands window membership map-side before one shuffle."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("win_start_sec"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _q_sentences(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.text import sentences

    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.posexplode(sentences("text")).alias("sentence_idx", "sentence"),
    )


def _q_bpe_tokens(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        bpe_token_count("text").alias("n_bpe"),
        token_count("text").alias("n_ws"),
    )


def _q_rolling_fp(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", rolling_fingerprint("text").alias("rolling_fp"))


def _q_embedding_dedup(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return embedding_dedup(e, threshold=0.35).select("vec_id", "label")


def _q_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return tf_idf_top_terms(d.select("doc_id", "text"), k=1)


# ----- dedup (M5) -----

def _q_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed co-located join, DRIVER-graded for result parity: both
    fact tables are persisted bucketed+sorted on the join key, then
    joined shuffle-free (the no-Exchange plan is pinned in
    tests/test_scale_ops.py; here the graded claim is that the bucketed
    path returns exactly the plain join's aggregate)."""
    from gcp_food_delivery_data_pipeline_spark.operators.scale import (
        bucketed_join,
        write_bucketed,
    )

    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    write_bucketed(orders, "drv_b_orders", "o_orderkey", num_buckets=8)
    write_bucketed(li, "drv_b_lineitem", "o_orderkey", num_buckets=8)
    j = bucketed_join(spark, "drv_b_orders", "drv_b_lineitem", "o_orderkey")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


def _q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Daily-ingest dedup: the newer half of the corpus (doc_id >=
    ceil-half of max id — the arrival surrogate) deduped against the
    older half via the banded MinHash join; kept new docs returned.
    bands=32/2-rows makes the banding effectively exhaustive (miss
    ~6e-15 at t=0.8), so the all-pairs SQL oracle is a fair judge."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        incremental_dedup,
    )

    d = load_table(spark, sf, "documents")
    cut = d.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    corpus = d.filter(F.col("doc_id") < cut)
    batch = d.filter(F.col("doc_id") >= cut)
    kept = incremental_dedup(corpus, batch, threshold=0.8, bands=32)
    return kept.select("doc_id", "lang", "source")


def _q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Arrival-order span novelty profile (k=8): which fraction of
    each doc's 8-token windows first occurred in an earlier doc."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        ngram_novelty,
    )

    d = load_table(spark, sf, "documents")
    return ngram_novelty(d, k=8)


def _q_sparse_nn(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical nearest neighbor by TF-IDF cosine via the inverted-
    index (postings) join — the sparse twin of v_topk_exact. Query
    side = the first 100 docs, corpus side = everything (idf and
    norms corpus-wide): this testdata's vocabulary is dense (all 31
    terms in ~80% of docs), where corpus-wide exact NN is inherently
    quadratic — the query-set form is the shape that stays linear at
    any corpus size (see sparse_nn_tfidf's docstring)."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        sparse_nn_tfidf,
    )

    d = load_table(spark, sf, "documents")
    return sparse_nn_tfidf(d, query_pred=F.col("_id") < 100)


def _q_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicated-span (k-token window) profile per document —
    the substring-granularity dedup audit (Lee et al. 2022) that
    whole-doc hashing and MinHash both miss. One shuffle for the
    corpus-wide span count, one for the per-doc rollup."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        span_dedup_profile,
    )

    d = load_table(spark, sf, "documents")
    return span_dedup_profile(d, k=8)


def _q_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """JL random projection 64 -> 16 dims with the ±1 sign matrix as
    plan literals, emitted as 16 SCALAR columns (proj_00..proj_15):
    the round-5 array<double> shape was the suite's only LIST-typed
    result and crashed the driver's pandas canonicalizer, so the
    graded shape is now wide-scalar (and the oracle type linter
    rejects LIST/STRUCT/MAP outright). The oracle regenerates the
    same md5-derived matrix into the same 0.0-seeded left-assoc
    chain, so every projected double is hash-checked bit-for-bit."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        random_project_cols,
    )

    e = load_table(spark, sf, "embeddings")
    return random_project_cols(e, in_dim=64, out_dim=16)


def _cms_oracle_sql(d: int = 4, w: int = 1024, k: int = 20) -> str:
    """Count-Min oracle: the identical row-salted md5 bucket grid and
    min-over-rows estimate, all integers — bit-exact by construction."""
    buckets = ", ".join(
        f"CAST(concat('0x', substr(md5(concat('{r}:', "
        f"CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % {w} AS _b{r}"
        for r in range(d)
    )
    sums = ", ".join(
        f"sum(n_exact) OVER (PARTITION BY _b{r})" for r in range(d)
    )
    return (
        "WITH keyed AS (SELECT user_id, CAST(count(*) AS BIGINT) "
        "AS n_exact FROM events GROUP BY user_id), "
        f"b AS (SELECT user_id, n_exact, {buckets} FROM keyed), "
        "e AS (SELECT user_id, n_exact, "
        f"least({sums}) AS n_est FROM b) "
        "SELECT user_id, n_exact, CAST(n_est AS BIGINT) AS n_est, "
        "n_est >= n_exact AS est_ok FROM e "
        f"ORDER BY n_exact DESC, user_id LIMIT {k}"
    )


def _rp_oracle_sql(out_dim: int = 16, in_dim: int = 64) -> str:
    """Generate the DuckDB twin of random_project_cols: same sign
    matrix, same 0.0-seeded left-assoc fold order (matching the
    aggregate() fold in _rp_components), same scale and rounding,
    one scalar column per component."""
    import math

    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        rp_sign_matrix,
    )

    signs = rp_sign_matrix(out_dim, in_dim)
    scale = repr(1.0 / math.sqrt(out_dim))
    comps = []
    for j in range(out_dim):
        chain = "0.0"
        for i in range(in_dim):
            term = f"CAST(embedding[{i + 1}] AS DOUBLE)"
            chain += (" + " if signs[j][i] > 0 else " - ") + term
        comps.append(f"round(({chain}) * {scale}, 6) AS proj_{j:02d}")
    return "SELECT vec_id, " + ", ".join(comps) + " FROM embeddings"


_PART_EDGES_MEMO: dict[tuple, DataFrame] = {}


def _part_edges(
    spark: SparkSession,
    sf: str,
    symmetric: bool = True,
    min_n: int = 1,
    keep_weight: bool = False,
) -> DataFrame:
    """Part co-occurrence edges from lineitem, shared by every graph
    key (one definition; its oracle twin is ``_part_edges_sql``):
    ``symmetric`` emits both directions (a != b) vs one canonical
    direction (a < b); ``min_n`` keeps only pairs co-ordered at least
    that often; ``keep_weight`` retains the co-order count as ``w``.

    MEMOIZED per (session, checkpoint mode, sf, params) as an eager
    ``materialize`` cut: eight graph keys derive from this same
    co-occurrence self-join — the first caller in a process pays the
    build, every later one reads the materialized edge table (the
    cluster equivalent is a shared bucketed edge table all graph jobs
    scan). The testdata is
    immutable, so the memo can never serve stale edges; the mode is
    part of the key, so a ``reliable`` session never reuses a local
    cut; entries of OTHER app ids are evicted only once their owning
    session has actually stopped (concurrently-live sessions keep
    theirs)."""
    key = (
        spark.sparkContext.applicationId,
        spark.conf.get(CONF_KEY, "local"),
        sf,
        symmetric,
        min_n,
        keep_weight,
    )
    hit = _PART_EDGES_MEMO.get(key)
    if hit is not None:
        return hit
    # Evict entries whose owning session has actually STOPPED before
    # inserting: a long-lived process cycling Spark sessions would
    # otherwise accumulate dead DataFrame references (and their
    # checkpoint block pins) forever. Liveness is checked on the
    # memoized frame's own context — two concurrently-live sessions
    # (distinct app ids) alternating calls must NOT evict each
    # other's entries, or the memo thrashes and both sessions
    # accumulate fresh checkpoint blocks every cycle. (Classic
    # PySpark allows one active SparkContext per process, so a
    # foreign app id today implies a stopped context and this check
    # degenerates to evict-all-foreign; probing the frame makes that
    # invariant explicit instead of assumed, and holds if a
    # multi-context runtime — e.g. Connect-backed sessions — ever
    # owns entries here.)
    app_id = key[0]

    def _dead(df: DataFrame) -> bool:
        try:
            jsc = df.sparkSession.sparkContext._jsc
            return jsc is None or jsc.sc().isStopped()
        except Exception:
            return True

    for stale in [
        k
        for k, v in _PART_EDGES_MEMO.items()
        if k[0] != app_id and _dead(v)
    ]:
        del _PART_EDGES_MEMO[stale]
    li = (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pair_cmp = (
        F.col("a.l_partkey") != F.col("b.l_partkey")
        if symmetric
        else F.col("a.l_partkey") < F.col("b.l_partkey")
    )
    g = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey")) & pair_cmp,
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    if min_n > 1:
        g = g.filter(F.col("w") >= min_n)
    out = materialize(g if keep_weight else g.select("src", "dst"))
    _PART_EDGES_MEMO[key] = out
    return out


def _part_edges_sql(
    name: str, symmetric: bool, min_n: int, weight: bool = False
) -> str:
    """The DuckDB twin of _part_edges for every graph oracle: the CTEs
    ``li`` and ``{name}(s, d[, w])``, both ``AS MATERIALIZED`` (each
    is read more than once, and DuckDB would otherwise re-run the
    self-join per reader), with the same ``symmetric`` / ``min_n``
    meaning; ``weight`` keeps the co-order count as a DOUBLE ``w``.
    The caller writes the ``WITH`` (or ``WITH RECURSIVE``)."""
    w = ", CAST(count(*) AS DOUBLE) AS w" if weight else ""
    having = f" HAVING count(*) >= {min_n}" if min_n > 1 else ""
    return (
        "li AS MATERIALIZED "
        "(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        f"{name} AS MATERIALIZED (SELECT a.l_partkey AS s, "
        f"b.l_partkey AS d{w} FROM li a JOIN li b "
        "ON a.l_orderkey = b.l_orderkey "
        f"AND a.l_partkey {'<>' if symmetric else '<'} b.l_partkey "
        f"GROUP BY 1, 2{having})"
    )


def _q_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic LPA communities over the strong co-occurrence
    graph: integer labels only — the iterative fixed point with ZERO
    float state, oracle-checked by unrolling 5 rounds of the same
    most-frequent-min-label rule in SQL."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    return label_propagation(
        _part_edges(spark, sf, symmetric=True, min_n=2), iterations=5
    )


def _q_lpa_stable(spark: SparkSession, sf: str) -> DataFrame:
    """Round-to-round movement probe for _q_label_propagation: the
    count of nodes whose label differs between rounds 5 and 6.

    Measured fact (rounds 2..15 at sf0.01): SYNCHRONOUS LPA on this
    co-occurrence graph never reaches a fixed point — ~1500-1900 of
    ~2000 labels keep flipping every round (the classic synchronous-
    update oscillation on densely bipartite-ish structures; Raghavan
    et al. §3 note the same and move to async updates). That is WHY
    the graded operator fixes the round count instead of running to
    convergence: with the deterministic min-label tie-break, round N
    is a pure function of the input — reproducible and oracle-
    checkable — whereas "run until stable" would never terminate
    here. This probe turns that caveat into graded evidence: the
    driver checks Spark and the unrolled SQL oracle agree EXACTLY on
    the oscillation magnitude."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    lp = label_propagation(
        _part_edges(spark, sf, symmetric=True, min_n=2),
        iterations=6,
        keep_prev=True,
    )
    return lp.filter(F.col("label") != F.col("prev_label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_changed")
    )


def _lpa_oracle_sql(iterations: int = 5, stability_probe: bool = False) -> str:
    """Unrolled-recursion DuckDB twin of _q_label_propagation.

    ASSUMES SYMMETRIC EDGES: the node CTE derives from edge SOURCES
    only and each round's labels are its winners alone, i.e. the
    nodes with an in-edge. The operator's labels are those winners
    unioned with the source-only nodes, which keep their own label;
    because _part_edges(symmetric=True) emits every edge in both
    directions (see _part_edges), no node is source-only and the two
    agree. Re-pointing this key at a directed/asymmetric edge
    definition requires unioning each round's winners with the
    sources that are never a destination, labelled by themselves
    (as the operator does); tests/test_graph.py grades that directed
    case against a pure-Python model."""
    ctes = [
        "WITH " + _part_edges_sql("e", symmetric=True, min_n=2),
        "n AS (SELECT DISTINCT s AS node FROM e)",
        "l0 AS (SELECT node, node AS label FROM n)",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"c{t} AS (SELECT e.d AS node, l{t - 1}.label, "
            f"count(*) AS cnt FROM e JOIN l{t - 1} "
            f"ON e.s = l{t - 1}.node GROUP BY e.d, l{t - 1}.label)"
        )
        ctes.append(
            f"l{t} AS (SELECT node, label FROM ("
            "SELECT node, label, row_number() OVER ("
            "PARTITION BY node ORDER BY cnt DESC, label) AS rn "
            f"FROM c{t}) WHERE rn = 1)"
        )
    if stability_probe:
        return (
            ", ".join(ctes)
            + f" SELECT CAST(count(*) AS BIGINT) AS n_changed "
            f"FROM l{iterations} a JOIN l{iterations - 1} b "
            "ON a.node = b.node WHERE a.label <> b.label"
        )
    return (
        ", ".join(ctes)
        + f" SELECT node, label FROM l{iterations}"
    )


def _q_revenue_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Closed-form OLS trend per priority (regr_slope/intercept/r2) —
    one single-pass mergeable-moment aggregation, no iteration."""
    return A.q_revenue_trend(load_table(spark, sf, "orders"))


def _q_order_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-purchase cadence per customer (keyed lag window +
    exact median)."""
    return A.q_order_intervals(load_table(spark, sf, "orders"))


def _q_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    """Daily new-vs-returning user split (growth accounting)."""
    return A.q_new_vs_returning(load_table(spark, sf, "events"))


def _q_session_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k in-session event-type n-grams (sequence mining over the
    30-minute-gap sessionization)."""
    return A.q_session_paths(load_table(spark, sf, "events"))


def _q_pareto_front(spark: SparkSession, sf: str) -> DataFrame:
    """Smallest part set reaching 80% of revenue (two-phase
    distributed rank + broadcast total; deterministic tie-break)."""
    return A.q_pareto_front(load_table(spark, sf, "lineitem"), share=0.8)


def _q_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini concentration of part revenue via the sorted-rank closed
    form — one distributed rank + one aggregation, never O(n^2)."""
    return A.q_gini_revenue(load_table(spark, sf, "lineitem"))


def _q_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group winsorization audit: exact [p1, p99] clip band, tail
    clip counts, mean before/after."""
    return A.q_winsorize(load_table(spark, sf, "events"))


def _q_benford(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals vs the
    log10(1 + 1/d) expectation — the fabricated-data smell test."""
    return A.q_benford_audit(load_table(spark, sf, "orders"))


def _q_entropy_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Shannon entropy (bits) of categorical columns — distribution
    profiling that flags constant-ish and id-like columns."""
    return A.q_entropy_profile(load_table(spark, sf, "events"))


def _q_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 validity intervals from each user's event stream (one
    lead window partitioned by key); the oracle rebuilds the same
    intervals, per-row."""
    from gcp_food_delivery_data_pipeline_spark.operators.joins import (
        scd2_intervals,
    )

    ev = load_table(spark, sf, "events")
    out = scd2_intervals(
        ev, key_col="user_id", ts_col="ts", tiebreak_col="event_id"
    )
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    )


def _q_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle participation over the STRONG co-occurrence
    graph (part pairs co-ordered >= 2 times): wedge-close with
    id-ordered orientation, all keyed equi-joins — never an
    all-pairs pass."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        triangle_count,
    )

    return triangle_count(
        _part_edges(spark, sf, symmetric=False, min_n=2)
    )


def _q_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-round k-core peel (k=3, 12 rounds) over the strong
    symmetric co-occurrence graph — the graph family's
    degree-threshold fourth member, integer-only like LPA.

    12 rounds reaches the TRUE k-core on the graded data (measured:
    the peel is stable after round 11 at sf0.01 and round 3 at
    sf0.1/sf0.001), and `g_kcore_stable` grades that claim — a 13th
    round removes 0 nodes."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import kcore

    return kcore(
        _part_edges(spark, sf, symmetric=True, min_n=2), k=3, rounds=12
    )


def _q_kcore_stable(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-point evidence for _q_kcore: the survivors' degrees ARE
    their degrees within the surviving subgraph, so the count of
    survivors below k is exactly the node count one more peel round
    would remove. Must be 0 — the 12-round peel is the true k-core,
    not a truncation artifact."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import kcore

    kc = kcore(
        _part_edges(spark, sf, symmetric=True, min_n=2), k=3, rounds=12
    )
    return kc.filter(F.col("degree") < 3).agg(
        F.count(F.lit(1)).cast("long").alias("n_unstable")
    )


def _kcore_oracle_sql(
    k: int = 3, rounds: int = 5, stability_probe: bool = False
) -> str:
    """Unrolled peel twin of _q_kcore (symmetric strong edges); with
    ``stability_probe`` the final select counts survivors whose
    degree is below k (what one more round would remove) instead of
    returning the survivor degrees."""
    # AS MATERIALIZED is load-bearing: each e{t} references its
    # predecessor THREE times (FROM + two IN-subqueries), so default
    # CTE inlining re-evaluates the whole chain 3^rounds times — at
    # sf0.1 that spilled DuckDB past 80 GB of temp before failing.
    ctes = ["WITH " + _part_edges_sql("e0", symmetric=True, min_n=2)]
    prev = "e0"
    for t in range(1, rounds + 1):
        ctes.append(
            f"k{t} AS MATERIALIZED (SELECT s FROM {prev} GROUP BY s "
            f"HAVING count(*) >= {k})"
        )
        ctes.append(
            f"e{t} AS MATERIALIZED (SELECT p.s, p.d FROM {prev} p "
            f"WHERE p.s IN (SELECT s FROM k{t}) "
            f"AND p.d IN (SELECT s FROM k{t}))"
        )
        prev = f"e{t}"
    if stability_probe:
        return (
            ", ".join(ctes)
            + f" SELECT CAST(count(*) AS BIGINT) AS n_unstable FROM "
            f"(SELECT s FROM {prev} GROUP BY s "
            f"HAVING count(*) < {k}) u"
        )
    return (
        ", ".join(ctes)
        + f" SELECT s AS node, CAST(count(*) AS BIGINT) AS degree "
        f"FROM {prev} GROUP BY s"
    )


def _q_sample_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic negative sampling (customer x part): md5-slot
    candidates mod the part count, dense-ranked item mapping, positives
    anti-joined out — every emitted (user, slot, item) is reproduced by
    the oracle's identical hash arithmetic."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        sample_negatives,
    )

    orders = load_table(spark, sf, "orders").select("o_custkey", "o_orderkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    positives = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item"),
        )
        .distinct()
    )
    parts = load_table(spark, sf, "part").select(
        F.col("p_partkey").alias("item")
    )
    return sample_negatives(positives, parts, n_neg=4)


def _q_temporal_split(spark: SparkSession, sf: str) -> DataFrame:
    """Time-based train/test split with an embargo band (purged
    forward-chaining eval): the cutoff is the exact 0.8 time-quantile
    and a 1-day band below it is excluded from train — the
    leakage-prevention twin of the hash split, per-row labeled so the
    oracle checks every assignment."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        temporal_split,
    )

    ev = load_table(spark, sf, "events")
    return temporal_split(
        ev, test_frac=0.2, embargo_seconds=86400
    ).select("event_id", "split")


def _q_pagerank_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted PageRank over the part co-occurrence graph (edges =
    parts ordered together, weight = co-order count, symmetric): a
    Python-loop iterative fixed point with a lineage cut per round.
    Fixed 10 iterations make the result a pure function of the input,
    so the oracle is the SAME recursion UNROLLED into 10 SQL
    stages — iterative != unverifiable."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        pagerank,
    )

    edges = _part_edges(
        spark, sf, symmetric=True, min_n=1, keep_weight=True
    )
    pr = pagerank(edges, damping=0.85, iterations=10, weight="w")
    return pr.select(
        F.col("node").alias("part"), F.round("rank", 8).alias("rank")
    )


def _pagerank_oracle_sql(iterations: int, seed_mod: int | None = None) -> str:
    """The unrolled DuckDB twin of both rank keys: _q_pagerank_parts
    and, with ``seed_mod``, _q_ppr (seeds: the nodes with
    ``node % seed_mod = 0``). Same edges and fractions; a node table
    ``(node, base, r0)`` holding the teleport base (1.0 - 0.85)/|S| and
    start 1/|S| on seeds, 0.0 elsewhere; one round shape,
    ``base + 0.85 * coalesce(in-flow, 0)``; and the operator's drop of
    exactly-0 rows. PageRank's seed set is every node, so every base is
    positive and the drop keeps every row.

    ASSUMES SYMMETRIC EDGES (see _lpa_oracle_sql): the node CTE derives
    from edge sources only, which equals the operator's src-union-dst
    universe because every co-occurrence edge is emitted in both
    directions."""
    seed = "true" if seed_mod is None else f"node % {seed_mod} = 0"
    teleport = "CASE WHEN sd.node IS NOT NULL THEN {} / sc.ns ELSE 0.0 END"
    ctes = [
        "WITH "
        + _part_edges_sql("p", symmetric=True, min_n=1, weight=True),
        "o AS (SELECT s, sum(w) AS ow FROM p GROUP BY s)",
        "e AS (SELECT p.s, p.d, p.w / o.ow AS frac FROM p JOIN o "
        "ON p.s = o.s)",
        "n0 AS (SELECT DISTINCT s AS node FROM p)",
        f"sd AS (SELECT node FROM n0 WHERE {seed})",
        "sc AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM sd)",
        "n AS (SELECT n0.node, "
        f"{teleport.format('(1.0 - 0.85)')} AS base, "
        f"{teleport.format('1.0')} AS r0 "
        "FROM n0 CROSS JOIN sc LEFT JOIN sd ON sd.node = n0.node)",
        "r0 AS (SELECT node, r0 AS rank FROM n)",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"r{t} AS (SELECT n.node, n.base "
            "+ 0.85 * coalesce(c.acc, 0.0) AS rank FROM n LEFT JOIN ("
            f"SELECT e.d AS node, sum(e.frac * r{t - 1}.rank) AS acc "
            f"FROM e JOIN r{t - 1} ON e.s = r{t - 1}.node "
            "GROUP BY e.d) c ON n.node = c.node)"
        )
    return (
        ", ".join(ctes)
        + f" SELECT node AS part, round(rank, 8) AS rank FROM r{iterations} "
        "WHERE rank > 0.0"
    )


def _q_part_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket co-occurrence top-k with lift — the self-join is
    co-partitioned on the order key, blow-up bounded by basket size
    squared."""
    return A.q_part_pairs(load_table(spark, sf, "lineitem"), k=20)


def _q_ols_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-priority OLS revenue trend from exact sufficient statistics
    (integer day index, decimal sums); the fit is one fixed-shape IEEE
    double expression — bit-reproducible with no rounding step."""
    return A.q_ols_trend(load_table(spark, sf, "orders"))


def _q_holt_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Holt double-exponential smoothing of each customer's order
    amounts (level+trend state pair folded over the ordered
    sequence) — the trend-aware upgrade of the EWMA fold, reproduced
    by a recursive-CTE oracle (DuckDB's list_reduce mis-folds struct
    state — see the oracle comment). alpha=0.4 on purpose: 0.5 keeps
    2-decimal money on the terminating-decimal lattice (pure
    halvings), which lands levels EXACTLY on .xxxxxx5 rounding
    boundaries where the engines' round() implementations disagree;
    an inexact-binary coefficient leaves the lattice and the
    boundary has measure ~0."""
    return A.q_holt_linear(load_table(spark, sf, "orders"))


def _q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary per customer,
    scored 1-4 against exact quartile cuts (single-row broadcast
    joins); the oracle recomputes cuts and scores with quantile_cont."""
    return A.q_rfm_segments(load_table(spark, sf, "orders"))


def _q_time_to_convert(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user conversion latency (first view -> first at-or-after
    purchase) in integer microseconds — engine-exact time math, two
    keyed mins + one user_id join."""
    return A.q_time_to_convert(load_table(spark, sf, "events"))


def _q_ewma_value(spark: SparkSession, sf: str) -> DataFrame:
    """Order-dependent per-user EWMA folded JVM-side over the sorted
    event stream; the DuckDB list_reduce oracle folds the same order
    with the same double arithmetic, so the recurrence is hash-checked
    bit-for-bit."""
    return A.q_ewma_value(load_table(spark, sf, "events"), alpha=0.3)


def _q_span_removed(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring REMOVAL (the companion of d_span_dedup's
    profile): later verbatim copies of every duplicated k-token span
    are cut out, global-first occurrence kept; the oracle rebuilds the
    cleaned text with the same window + cover logic in SQL, so token
    order, boundary overlap, and the keep-first rule are all
    hash-checked."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        drop_duplicate_spans,
    )

    d = load_table(spark, sf, "documents")
    return drop_duplicate_spans(d, k=8)


def _q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents").withColumn("fp", F.md5("text"))
    kept = dedup_exact(d, "fp")
    return kept.select("doc_id", "lang", "source")


def _q_dedup_groups(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


def _q_dup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive near-dup clusters: LSH pairs at jaccard>=0.8 → min-label
    propagation to a fixpoint (DuckDB oracle: recursive CTE closure)."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    d = load_table(spark, sf, "documents")
    pairs = lsh_candidate_pairs(d, "text", "doc_id", num_hashes=64, bands=32)
    strong = pairs.filter(F.col("jaccard") >= 0.8)
    return connected_components(strong, d.select("doc_id"))


def _q_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    # bands=32 (2 rows/band): miss probability at jaccard 0.8 is
    # (1-0.8^2)^32 ≈ 6e-15, so the LSH output is effectively exhaustive
    # and safe to compare against the all-pairs DuckDB oracle even if
    # the testdata is regenerated with threshold-adjacent pairs.
    pairs = lsh_candidate_pairs(d, "text", "doc_id", num_hashes=64, bands=32)
    return pairs.filter(F.col("jaccard") >= 0.8)


def _q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.scale import (
        ensure_min_partitions,
    )

    d = load_table(spark, sf, "documents")
    src = ensure_min_partitions(d.select("doc_id", "text"))
    return with_simhash(src).select("doc_id", "simhash")


def _q_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label centroid of the embedding column, one row per (label,
    dimension). ``posexplode`` + group-avg: the shuffle carries (label,
    dim, value) triples which partial-aggregate map-side — the
    array-typed aggregation path (k-means update step, class prototype
    computation) without any UDF."""
    e = load_table(spark, sf, "embeddings")
    return (
        e.select(
            "label", F.posexplode("embedding").alias("dim", "v")
        )
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg("v"), 6).alias("centroid_v"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


def _q_embedding_pairs(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return embedding_near_dup_pairs(e, threshold=0.35)


def _q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join_backward(
        clicks, purchases, on="ts", by="user_id", right_value_cols=["value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("ts_matched").alias("purchase_us"),
        F.col("value_matched").alias("purchase_value"),
    )


def _q_asof_forward(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of: each click's NEXT purchase by the same user —
    the time-to-conversion primitive."""
    from gcp_food_delivery_data_pipeline_spark.operators.joins import asof_join

    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    out = asof_join(
        clicks,
        purchases,
        on="ts",
        by="user_id",
        right_value_cols=[],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("ts_matched").alias("next_purchase_us"),
    )


def _q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = range_join_within(
        clicks, purchases, on="ts", by="user_id", window_seconds=3600
    )
    return out.select(
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        "user_id",
        (
            F.abs(
                F.col("l_ts").cast("long") - F.col("r_ts").cast("long")
            )
        ).alias("dt_s"),
    )


# ----- similarity (M5) -----

def _q_topk_exact(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return topk_exact(e, e.filter(F.col("vec_id") < 5), k=10)


def _q_topk_ann(spark: SparkSession, sf: str) -> DataFrame:
    """LSH ANN graded by RECALL, not by its (approximate) neighbor
    list: the query computes LSH top-k AND exact top-k in the same
    plan, joins them, and returns corpus-level mean recall@10 ≥ 0.5 —
    which the oracle pins to TRUE alongside the query count. Converts
    the one inherently non-SQL-checkable similarity query into a
    driver-graded row (pytest pins the same bound per run)."""
    e = load_table(spark, sf, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 5)
    ann = lsh_bucketed_topk(e, queries_df, _lsh_tables(), k=10)
    return _recall_vs_exact(e, queries_df, ann, 0.5)


def _recall_vs_exact(
    e: DataFrame, queries_df: DataFrame, ann: DataFrame, floor: float
) -> DataFrame:
    """``(n_queries, recall_ok)``: ``recall_ok`` is mean recall@10 of the
    ANN top-10 ``ann`` (its query_id, neighbor_id) against the exact
    top-10 >= ``floor``. The exact list feeds both the hits join and the
    per-query totals, so it is the one lineage cut; ``ann`` is consumed
    once and is not cut (the wide-literal compile cost that once
    justified cutting plans early is gone since dense_lit,
    OPTIMIZATION_r15.md #1/#3)."""
    ann = ann.select("query_id", "neighbor_id")
    exact = materialize(
        topk_exact(e, queries_df, k=10).select(
            "query_id", F.col("neighbor_id").alias("_exact_nb")
        )
    )
    hits = ann.join(
        exact,
        (ann["query_id"] == exact["query_id"])
        & (ann["neighbor_id"] == exact["_exact_nb"]),
    )
    per_q = exact.groupBy(exact["query_id"]).count().agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("count").alias("_n_exact"),
    )
    n_hits = hits.agg(F.count(F.lit(1)).alias("_n_hits"))
    return per_q.crossJoin(n_hits).select(
        "n_queries",
        (F.col("_n_hits") / F.col("_n_exact") >= floor).alias("recall_ok"),
    )


def _q_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF with n_probe == n_clusters: exhaustive probing reproduces
    the exact top-k, so this one IS oracle-checkable (the index changes
    which pairs are scored, never their scores)."""
    e = load_table(spark, sf, "embeddings")
    return ivf_topk(
        e, e.filter(F.col("vec_id") < 5), n_clusters=16, n_probe=16, k=10
    )


def _q_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN graded by RECALL against the exact
    top-k computed in the same plan (the v_topk_ann pattern): the
    oracle pins (n_queries, recall_ok) where recall_ok asserts mean
    recall@10 >= 0.7 (measured, deterministic per SF: 0.90 at sf0.01
    and 0.76 at sf0.1 with rerank=250 over 8x16 codebooks — the
    synthetic embeddings are near-uniform, the hard case for PQ)."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        pq_topk,
    )

    e = load_table(spark, sf, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 5)
    ann = pq_topk(e, queries_df, k=10, rerank=250)
    return _recall_vs_exact(e, queries_df, ann, 0.7)


def _q_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ composite ANN (FAISS `IVF16,PQ8x16` shape) graded by
    RECALL vs the in-plan exact top-k: probe 8 of 16 cells, ADC-prune
    to 250, exact re-rank. recall_ok pins mean recall@10 >= 0.6
    (measured, deterministic per SF: 0.94 at sf0.01, 0.74 at sf0.1 —
    cells + codes compound the near-uniform-embedding hard case)."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        ivf_pq_topk,
    )

    e = load_table(spark, sf, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 5)
    ann = ivf_pq_topk(e, queries_df, n_probe=8, k=10, rerank=250)
    return _recall_vs_exact(e, queries_df, ann, 0.6)


def _q_topk_truncated(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka truncated retrieval: exact cosine top-k over the
    first 16 of 64 dims — the cheap first stage of adaptive retrieval.
    Deterministic, so the oracle checks the neighbor lists themselves
    (list-slice + cosine in SQL), unlike the recall-bounded ANN keys."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        truncated_topk,
    )

    e = load_table(spark, sf, "embeddings")
    return truncated_topk(
        e, e.filter(F.col("vec_id") < 5), prefix_dim=16, k=10
    )


def _q_bitq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-quantization retrieval: 1-bit sign packing to two BIGINT
    words, XOR+popcount hamming prune to 50, exact cosine re-rank to
    top-10. Deterministic (hamming/neighbor_id, then cosine/
    neighbor_id tie-breaks), so the oracle checks the neighbor lists
    themselves — the fourth quantization tier beside int8, PQ, and
    Matryoshka truncation."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        binary_topk,
    )

    e = load_table(spark, sf, "embeddings")
    return binary_topk(
        e, e.filter(F.col("vec_id") < 5), dim=64, k=10, rerank=50
    )


def _q_embedding_dims(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return e.select("vec_id", F.size("embedding").alias("dim"), "label")


# ----- multimodal (M5) -----

def _q_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    mm = filter_by_meta(attach_fake_payload(d), formats=["png"], min_width=10)
    return mm.select(
        "doc_id",
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


def _q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    feats = extract_features(attach_fake_payload(d), dim=16)
    return feats.select(
        "doc_id", "n_bytes", F.size("features").alias("feat_dim")
    )


def _q_multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf, "documents")
    rs = resize_payload(attach_fake_payload(d), width=32, height=24)
    flat = rs.select(
        "doc_id",
        "payload",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )

    # checksum the RESIZED bytes (sum mod 2^31-1) so the oracle checks
    # content, not just shape — the docs are ASCII so the SQL side can
    # recompute the byte-cycled sum from the text
    def summarize(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "n_bytes": pdf["n_bytes"],
                    "checksum": [
                        sum(bytes(p)) % 2147483647 for p in pdf["payload"]
                    ],
                }
            )

    return flat.mapInPandas(
        summarize,
        "doc_id long, width int, height int, n_bytes long, checksum long",
    )


def _q_multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    fr = sample_frames(attach_fake_payload(d), n_frames=4)
    return fr.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").cast("long").alias("n_frame_bytes"),
    )


def _q_stats_profile(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_stats_profile(load_table(spark, sf, "lineitem"))


def _q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    return A.q_grouping_sets_revenue(load_table(spark, sf, "lineitem"))


def _q_fuzzy_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        fuzzy_name_pairs,
    )

    return fuzzy_name_pairs(
        load_table(spark, sf, "part"), "p_partkey", "p_name", max_dist=3
    )


# ----- streaming parity (M5, streaming/events.py) -----

def _stage_events_stream_dir(sf: str, name: str) -> tuple[str, str]:
    """Copy the events table into a fresh streaming input dir and return
    (input_dir, checkpoint_dir). Streaming sources read directories;
    the checkpoint must be new per run so the drain re-processes."""
    import shutil

    base = os.path.join(tempfile.gettempdir(), f"spark_graft_{name}")
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    shutil.copy(os.path.join(sf, "events.parquet"), in_dir)
    return in_dir, os.path.join(base, "ckpt")


def _q_stream_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static dimension enrichment, DRIVER-graded: replay the
    events table as a stream, left-join the static customer dim
    (broadcast, stateless) per micro-batch, and return every enriched
    row; the oracle is the equivalent batch left join — stream ==
    batch for the join itself, not just an aggregate of it."""
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_stream_enrich,
    )

    in_dir, ckpt = _stage_events_stream_dir(sf, "stream_enrich")
    dim = load_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    q = run_stream_enrich(
        spark, in_dir, dim, ckpt, query_name="drv_stream_enrich"
    )
    q.awaitTermination()
    return spark.table("drv_stream_enrich")


def _q_stream_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming per-hour heavy hitters, DRIVER-graded: append-mode
    (window, user) counts finalize exactly once per cell (sentinel
    flush pushes the watermark past every real window), then the batch
    post-pass ranks the finalized cells top-3 per hour; the oracle is
    the equivalent batch SQL — stream == batch on both the counts and
    the ranking."""
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        append_watermark_flush,
        run_window_topk_stream,
        window_topk,
    )

    in_dir, ckpt = _stage_events_stream_dir(sf, "stream_topk")
    out_dir = os.path.join(os.path.dirname(ckpt), "out")
    append_watermark_flush(spark, in_dir)
    q = run_window_topk_stream(spark, in_dir, ckpt, out_dir)
    q.awaitTermination()
    cells = spark.read.parquet(out_dir).filter(F.col("user_id") >= 0)
    return window_topk(cells, k=3)


def _q_stream_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming parity, DRIVER-graded (not just pytest):
    replay the events table through the watermarked tumbling-window
    rollup (availableNow drain, complete mode) and return the final
    result; the oracle is the equivalent batch SQL, so this asserts
    stream == batch under the driver's own hash compare."""
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_events_hourly_stream,
    )

    in_dir, ckpt = _stage_events_stream_dir(sf, "stream_hourly")
    q = run_events_hourly_stream(
        spark, in_dir, ckpt, query_name="drv_stream_hourly"
    )
    q.awaitTermination()
    return spark.table("drv_stream_hourly").select(
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n_events",
        "sum_value",
    )


def _q_stream_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming session_window parity, DRIVER-graded: replay events
    through the append-mode sessionize stream. Append mode only emits
    a session once the watermark passes its close, so the replay ends
    with a far-future sentinel event (strictly later file mtime →
    last micro-batch; its own still-open session never emits) that
    flushes every real session to the sink; the sentinel user is
    excluded from the result and the oracle is the batch
    gaps-and-islands SQL over the events table alone."""
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        append_watermark_flush,
        run_sessionize_stream,
    )

    in_dir, ckpt = _stage_events_stream_dir(sf, "stream_sessions")
    out_dir = os.path.join(os.path.dirname(ckpt), "out")
    append_watermark_flush(spark, in_dir)
    q = run_sessionize_stream(
        spark, in_dir, ckpt, out_dir, watermark="1 minute"
    )
    q.awaitTermination()
    return _fmt_session_output(
        spark.read.parquet(out_dir).filter(F.col("user_id") >= 0)
    )


def _q_compact_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction, DRIVER-graded for row fidelity: events
    land as 3 micro-batches x 8 files in the pipeline's
    (ingest_date, batch_id) layout, ``compact_table`` rewrites them to
    one file per date partition via the (date, hash-bucket) shuffle
    (no single-task funnel) with an atomic swap — and the oracle pins
    the per-type counts, so a lost or duplicated row in the rewrite is
    a hash mismatch. The file count collapse (24 -> per-date singles)
    is asserted in tests/test_writers.py; here the graded claim is
    data fidelity."""
    import glob as _g
    import shutil

    from gcp_food_delivery_data_pipeline_spark.sources.writers import (
        compact_table,
        write_status_table,
    )

    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_compactq_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    path = os.path.join(base, "events_table")
    ev = load_table(spark, sf, "events")
    for b in range(3):
        write_status_table(
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == b)
            .repartition(8),
            path,
            batch_id=b,
        )
    n_before = len(_g.glob(os.path.join(path, "**", "*.parquet"),
                           recursive=True))
    compact_table(spark, path, target_files_per_partition=1)
    n_after = len(_g.glob(os.path.join(path, "**", "*.parquet"),
                          recursive=True))
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_id").alias("n_distinct_ids"),
        )
        .withColumn("compacted_fewer_files", F.lit(n_after < n_before))
    )


def _q_stream_user_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState)
    parity: per-user running totals after draining the replay equal the
    batch aggregation — the oracle checks the stateful path end-to-end."""
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_user_totals_stream,
    )

    in_dir, ckpt = _stage_events_stream_dir(sf, "stream_totals")
    q = run_user_totals_stream(
        spark, in_dir, ckpt, query_name="drv_stream_totals"
    )
    q.awaitTermination()
    return spark.table("drv_stream_totals")


def _q_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-batch streaming dedup, DRIVER-graded: the events file is
    staged TWICE (two files, identical rows — an at-least-once source
    re-delivering a whole batch), drained with maxFilesPerTrigger=1 so
    the re-delivery arrives in a LATER micro-batch. Every re-delivered
    row is eliminated either by dropDuplicatesWithinWatermark state
    (keys inside the watermark horizon) or by the late-row filter
    (keys behind it — late duplicates, correctly dropped), so the sink
    holds each event exactly once and the oracle is the plain batch
    aggregation over the events table: a doubled count or sum is a
    hash mismatch."""
    import shutil

    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_stream_dedup,
    )

    in_dir, ckpt = _stage_events_stream_dir(sf, "stream_dedup")
    shutil.copy(
        os.path.join(sf, "events.parquet"),
        os.path.join(in_dir, "events_redelivered.parquet"),
    )
    out_dir = os.path.join(os.path.dirname(ckpt), "out")
    q = run_stream_dedup(spark, in_dir, ckpt, out_dir)
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_id").alias("n_keys"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def _q_stream_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stream-stream self-join, DRIVER-graded: purchases
    attributed to same-user clicks within the preceding hour. The
    replay is a single micro-batch (one staged file), so the watermark
    never outruns the data and the emitted pairs are exactly the batch
    range join's — which is the oracle. The watermark's job here is
    state eviction at scale, proven separately by
    tests/test_streaming_events.py's late-drop test."""
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_click_attribution_stream,
    )

    in_dir, ckpt = _stage_events_stream_dir(sf, "stream_attr")
    out_dir = os.path.join(os.path.dirname(ckpt), "out")
    q = run_click_attribution_stream(
        spark, in_dir, ckpt, out_dir, horizon_seconds=3600
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "purchase_id",
        "click_id",
        "p_user",
        F.round("purchase_value", 2).alias("purchase_value"),
    )


def _q_stream_left_join(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join, DRIVER-graded: every
    purchase emits — joined to same-user clicks in the preceding hour
    or as a NULL-click row once the watermark proves no match can
    still arrive. The flush sentinel (far-future event appended to the
    replay dir) advances the watermark past the data's tail so those
    null rows actually emit in a bounded drain; the oracle is the
    equivalent batch LEFT JOIN, so state-expiry-driven null emission
    is hash-checked against relational semantics."""
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        append_watermark_flush,
        run_click_attribution_left_stream,
    )

    in_dir, ckpt = _stage_events_stream_dir(sf, "stream_left_join")
    # typed sentinels: this query filters click/purchase BEFORE its
    # watermark nodes, so a 'flush'-typed row would never advance them
    append_watermark_flush(spark, in_dir, event_types=("click", "purchase"))
    out_dir = os.path.join(os.path.dirname(ckpt), "out")
    # TWO drains on one checkpoint with a second, later flush sentinel
    # between them: outer-join null rows are emitted in a micro-batch
    # that runs AFTER the watermark advance expiring their state — the
    # first drain's last batch (sentinel 1) still executes under the
    # pre-sentinel watermark, and an availableNow restart with no new
    # files runs no batch at all. Sentinel 2 gives drain 2 one real
    # batch, which executes under sentinel 1's far-future watermark and
    # therefore evicts + emits every real unmatched purchase. In
    # production nothing special is needed — data keeps arriving and
    # each batch flushes the previous watermark's expiries.
    for i in range(2):
        q = run_click_attribution_left_stream(
            spark, in_dir, ckpt, out_dir, horizon_seconds=3600
        )
        q.awaitTermination()
        if i == 0:
            append_watermark_flush(
                spark, in_dir, event_types=("click", "purchase")
            )
    return spark.read.parquet(out_dir).filter(
        F.col("p_user") != -1  # drop the sentinel purchase's own row
    ).select(
        "purchase_id",
        "click_id",
        "p_user",
        F.round("purchase_value", 2).alias("purchase_value"),
    )


def _q_stream_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming data-quality monitor, DRIVER-graded: the declarative
    constraint set evaluates on the replayed micro-batch and appends
    per-(batch, rule) audit rows; the oracle recomputes each rule's
    violation count in SQL over the events table, so a wrong count in
    the streaming path is a hash mismatch. in_range(0..50) is chosen
    to produce a NONZERO violation count (sf-independent shape) so the
    key can't pass vacuously."""
    from gcp_food_delivery_data_pipeline_spark.operators.quality import (
        in_range,
        not_null,
        unique,
    )
    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_stream_quality,
    )

    in_dir, ckpt = _stage_events_stream_dir(sf, "stream_quality")
    out_dir = os.path.join(os.path.dirname(ckpt), "audit")
    q = run_stream_quality(
        spark,
        in_dir,
        ckpt,
        out_dir,
        rules=[
            not_null("event_id"),
            unique("event_id"),
            in_range("value", 0.0, 50.0),
        ],
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .dropDuplicates(["batch_id", "rule"])
        .select("rule", "column", "n_violations", "pass")
    )


def _q_stream_cdc_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming CDC upsert, DRIVER-graded: batch 1 delivers the full
    events table, batch 2 delivers an update file (every event_id
    divisible by 10 re-arrives with value+1000 and a 10-day-later ts —
    a deterministic change-stream). foreachBatch MERGEs each batch
    into the parquet target by key, so the final table must hold
    exactly one row per key with the update applied; the oracle
    recomputes that end state from the events table alone. File mtimes
    are pinned so the change order is deterministic (CDC applies
    changes in order)."""
    import time

    from gcp_food_delivery_data_pipeline_spark.streaming.events import (
        run_stream_upsert,
    )

    in_dir, ckpt = _stage_events_stream_dir(sf, "stream_cdc")
    base_file = os.path.join(in_dir, "events.parquet")
    upd_dir = os.path.join(os.path.dirname(ckpt), "upd")
    ev = load_table(spark, sf, "events")
    (
        ev.filter(F.col("event_id") % 10 == 0)
        .withColumn("value", F.col("value") + F.lit(1000.0))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(upd_dir)
    )
    import glob as _g
    import shutil

    upd_file = _g.glob(os.path.join(upd_dir, "*.parquet"))[0]
    shutil.copy(upd_file, os.path.join(in_dir, "updates.parquet"))
    now = time.time()
    os.utime(base_file, (now - 100, now - 100))
    os.utime(os.path.join(in_dir, "updates.parquet"), (now, now))
    target = os.path.join(os.path.dirname(ckpt), "target")
    q = run_stream_upsert(spark, in_dir, ckpt, target)
    q.awaitTermination()
    return (
        spark.read.parquet(target)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("event_id").alias("n_keys"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ----- corpus preparation (M5, operators/corpus.py) -----

def _q_chunks(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        chunk_documents,
    )

    d = load_table(spark, sf, "documents")
    return chunk_documents(d, chunk_tokens=64, overlap=8)


def _q_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        redact_pii,
    )

    # The synthetic docs carry no PII; append a deterministic
    # email+IP+phone tail so every row exercises all three passes.
    d = load_table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0.0.7 or +1 (555) 010-"),
            F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return redact_pii(d).select("doc_id", "text_redacted", "pii_hits")


def _q_split_assign(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        assign_split,
    )

    d = load_table(spark, sf, "documents")
    return assign_split(d, val_pct=10, test_pct=10).select("doc_id", "split")


def _q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        ngram_contamination,
    )

    d = load_table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 0)
    corpus = d.filter(F.col("doc_id") % 20 != 0)
    return ngram_contamination(corpus, bench, n=3)


def _q_pack(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        pack_sequences,
    )

    d = load_table(spark, sf, "documents")
    return pack_sequences(d, context_tokens=256)


_BM25_QUERY = ["hash", "join", "vector"]


def _q_bm25(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        bm25_scores,
    )

    d = load_table(spark, sf, "documents")
    return bm25_scores(d, _BM25_QUERY)


def _q_prep_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """END-TO-END corpus prep, the composition a training-data team
    actually runs: exact dedup (keep-first by content hash) → near-dup
    drop (``near_dedup``: LSH pairs at jaccard ≥ 0.8, keep lowest id) →
    quality floor (≥ 10 tokens) → token-window chunking →
    deterministic split assignment → per-split corpus stats. Every
    stage is the same
    library operator graded individually; this query grades their
    COMPOSITION against one CTE-chain oracle."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        assign_split,
        chunk_documents,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        near_dedup,
    )

    d = load_table(spark, sf, "documents").withColumn("fp", F.md5("text"))
    exact = dedup_exact(d, "fp").select("doc_id", "text")
    near = near_dedup(exact, "text", "doc_id", threshold=0.8, bands=32)
    quality = near.filter(token_count(F.col("text")) >= 10)
    chunks = chunk_documents(quality, chunk_tokens=128, overlap=16)
    split = assign_split(chunks, id_col="doc_id")
    return split.groupBy("split").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


def _q_shuffle_rank(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        global_shuffle_rank,
    )

    d = load_table(spark, sf, "documents").select("doc_id")
    return global_shuffle_rank(d)


def _q_phash(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash image dedup end-to-end: real PNG payloads are
    DECODED (full codec path) and average-hashed on a 7x7 sample grid
    with an all-integer above-mean rule. The oracle derives each hash
    in closed form from doc_id (the gradient pixel model makes the
    base shade cancel out of the comparison exactly), so a hash match
    proves decode + sampling + bit packing — not a lookup."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        attach_png_payload,
        phash_png,
    )

    d = load_table(spark, sf, "documents")
    return phash_png(attach_png_payload(d)).select(
        "doc_id", "width", "height", "phash"
    )


def _phash_oracle_sql() -> str:
    """Closed-form twin of phash_png over the gradient payloads:
    sample(i,j) = c + (i*w)//7 + (j*h)//7 with c = id%200; the
    integer bit rule 49*sample > sum cancels c, leaving
    7*(x_i + y_j) > (sum_x + sum_y) — pure integer arithmetic."""
    xs = [f"(({i} * w) // 7)" for i in range(7)]
    ys = [f"(({j} * h) // 7)" for j in range(7)]
    sx = " + ".join(xs)
    sy = " + ".join(ys)
    bits = []
    for i in range(7):
        for j in range(7):
            k = 7 * i + j
            bits.append(
                f"(CASE WHEN 7 * ({xs[i]} + {ys[j]}) > s THEN {1 << k} "
                "ELSE 0 END)"
            )
    return (
        "WITH g AS (SELECT doc_id, doc_id % 16 + 1 AS w, "
        "doc_id % 12 + 1 AS h FROM documents), "
        f"t AS (SELECT doc_id, w, h, {sx} + {sy} AS s FROM g) "
        "SELECT doc_id, CAST(w AS INTEGER) AS width, "
        "CAST(h AS INTEGER) AS height, "
        "CAST(" + " + ".join(bits) + " AS BIGINT) AS phash FROM t"
    )


def _q_decode_png(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode end-to-end: synthesize standards-compliant
    PNG payloads (gradient grayscale, geometry derived from doc_id),
    then decode them — chunk parse, CRC check, zlib inflate, all five
    PNG filter reconstructions — and emit per-image stats. The oracle
    pins the stats arithmetically from doc_id, so a hash match proves
    the codec round-trip, not a fake."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        attach_png_payload,
        decode_png_stats,
    )

    d = load_table(spark, sf, "documents")
    stats = decode_png_stats(attach_png_payload(d))
    return stats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_px", 6).alias("mean_px"),
    )


def _q_decode_wav(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode end-to-end: synthesize standards-compliant
    mono PCM16 WAV payloads (ramp waveform, geometry derived from
    doc_id), decode them through the stdlib RIFF/wave reader, and emit
    per-clip stats the oracle pins arithmetically — the audio twin of
    m_decode_png."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        attach_wav_payload,
        decode_wav_stats,
    )

    d = load_table(spark, sf, "documents")
    return decode_wav_stats(attach_wav_payload(d))


def _q_audio_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Short-time-energy framing over REAL WAV decode: per clip the
    count of full 16-sample frames plus max/total integer frame
    energy — the VAD/silence-trim primitive. The oracle regenerates
    the deterministic ramp samples relationally (range + zip-unnest)
    and aggregates the same integer sums, so the decode+DSP path is
    pinned bit-for-bit."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        attach_wav_payload,
        audio_frame_features,
    )

    d = load_table(spark, sf, "documents")
    return audio_frame_features(attach_wav_payload(d))


def _q_decode_gif(spark: SparkSession, sf: str) -> DataFrame:
    """REAL multi-frame (video-shaped) decode end-to-end: synthesize
    standards-compliant animated GIFs (frame count/geometry/content
    derived from doc_id), decode EVERY frame through the stdlib LZW
    codec (functions/gif.py), and emit per-clip stats the oracle pins
    in closed form — the moving-picture sibling of m_decode_png /
    m_decode_wav, and the REAL form of the frame-sampling stub."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        attach_gif_payload,
        decode_gif_stats,
    )

    d = load_table(spark, sf, "documents")
    stats = decode_gif_stats(attach_gif_payload(d))
    return stats.select(
        "doc_id",
        "n_frames",
        "width",
        "height",
        F.round("mean_px", 6).alias("mean_px"),
    )


def _q_decode_png_rgb(spark: SparkSession, sf: str) -> DataFrame:
    """REAL truecolor decode end-to-end: synthesize standards-compliant
    RGB PNGs (color type 2; gradient channels, geometry derived from
    doc_id), decode them — chunk parse, CRC check, zlib inflate, all
    five filter reconstructions at bpp=3 — and emit per-channel means
    the oracle pins arithmetically. Lifts the last documented codec
    gate (functions/png.py grayscale-only) flagged in round 4."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        attach_png_rgb_payload,
        decode_png_rgb_stats,
    )

    d = load_table(spark, sf, "documents")
    stats = decode_png_rgb_stats(attach_png_rgb_payload(d))
    return stats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def _q_skew_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-mitigated dimension join: events has ~5 hot event_type
    keys (each ~20% of the table — exactly the shape that stalls a
    plain shuffle join on its hottest reducer); ``salted_join``
    scatters each hot key over 8 sub-keys and replicates the 5-row dim
    8×. The oracle is the PLAIN join — proving salting changes the
    distribution, never the result."""
    from gcp_food_delivery_data_pipeline_spark.operators.scale import (
        salted_join,
    )

    ev = load_table(spark, sf, "events").select("event_type", "value")
    weights = spark.createDataFrame(
        [
            ("click", 1.0),
            ("view", 0.5),
            ("purchase", 10.0),
            ("signup", 5.0),
            ("error", 0.0),
        ],
        "event_type string, weight double",
    )
    joined = salted_join(ev, weights, "event_type", salt=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
            "weighted_value"
        ),
    )


def _q_approx_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile sketch (GK / percentile_approx) next to the exact
    percentile in one aggregation pass — the HLL pattern applied to
    order statistics. The sketch guarantees rank error ≤ 1/accuracy
    (1e-4 here), so asserting the estimate lands between the exact
    45th and 55th percentiles is a 500× margin: data regeneration
    cannot trip it, a broken sketch will."""
    ev = load_table(spark, sf, "events")
    approx = F.expr("approx_percentile(value, 0.5, 10000)")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        (
            (approx >= F.expr("percentile(value, 0.45)"))
            & (approx <= F.expr("percentile(value, 0.55)"))
        ).alias("approx_ok"),
    )


def _q_latest_event(spark: SparkSession, sf: str) -> DataFrame:
    """Latest event per user via ``max_by`` over a (ts, event_id)
    struct — one partial-aggregable shuffle instead of the
    window-sort-then-filter idiom (the oracle states it as the window
    form; same rows). The struct tie-break makes it deterministic:
    event_id is unique."""
    ev = load_table(spark, sf, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", key).alias("last_type"),
        F.round(F.max_by("value", key), 6).alias("last_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling: per-segment keep-rates via
    the engine-stable md5 bucket (``split_bucket``), the training-data
    mixture-weighting primitive — downsample overrepresented sources
    at a reproducible, content-independent rate. A pure projection +
    filter: no shuffle, no rand(), same rows on every engine and every
    rerun."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        split_bucket,
    )

    c = load_table(spark, sf, "customer")
    rate = (
        F.when(F.col("c_mktsegment") == "BUILDING", 50)
        .when(F.col("c_mktsegment") == "AUTOMOBILE", 25)
        .when(F.col("c_mktsegment") == "MACHINERY", 10)
        .otherwise(5)
    )
    return c.filter(split_bucket("c_custkey") < rate).select(
        "c_custkey", "c_mktsegment"
    )


_ZORDER_BITS = 8


def _q_zorder_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Morton-key layout probe: interleave the low 8 bits of
    (o_custkey, o_orderkey) and aggregate per top-8-bit z-bucket. The
    bucket (min, max) ranges are what parquet min/max stats would hold
    after ``cluster_by_zorder`` — tight in BOTH dims, the multi-column
    data-skipping layout. Bit interleave = pure shift/and arithmetic
    with disjoint bit positions, so the oracle restates it as a sum."""
    from gcp_food_delivery_data_pipeline_spark.operators.scale import (
        zorder_key,
    )

    o = load_table(spark, sf, "orders")
    z = zorder_key(
        F.pmod(F.col("o_custkey"), F.lit(256)),
        F.pmod(F.col("o_orderkey"), F.lit(256)),
        bits=_ZORDER_BITS,
    )
    return (
        o.select(z.alias("zval"))
        .groupBy(F.shiftright(F.col("zval"), 8).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
        )
    )


def _q_key_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitter report on the lineitem supplier key — the
    pre-flight check that decides between a plain, salted, or
    AQE-skew join."""
    from gcp_food_delivery_data_pipeline_spark.operators.scale import (
        key_skew_report,
    )

    li = load_table(spark, sf, "lineitem")
    return key_skew_report(li.select("l_suppkey"), "l_suppkey", top_n=10)


def _q_approx_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-based heavy hitters (``approx_top_k``): one
    constant-memory pass instead of the full groupBy+sort — the
    streaming-friendly form of q_key_skew's exact report. With far
    fewer distinct keys than the sketch tracks (5 vs 10k) the estimate
    is EXACT, so the oracle is the plain exact top-3 — a hash match
    proves the sketch path end-to-end with no tolerance band. The
    sketch is asked for MORE items than exist and the final top-3 is
    cut with an explicit (count DESC, item ASC) sort: the sketch's own
    tie order is arbitrary, and an exact-count tie at the rank-3/4
    boundary must break the same way the oracle breaks it."""
    ev = load_table(spark, sf, "events")
    return (
        ev.select(F.expr("inline(approx_top_k(event_type, 10))"))
        .select(
            F.col("item").alias("event_type"),
            F.col("count").alias("n_events"),
        )
        .orderBy(F.col("n_events").desc(), F.col("event_type"))
        .limit(3)
    )


def _q_variant_props(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 VariantType semi-structured path (parse once, typed
    variant_get extraction) — the scale twin of q_props_extract."""
    return A.q_variant_props(load_table(spark, sf, "events"))


def _q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long reshaping (``DataFrame.unpivot`` / SQL UNPIVOT, the
    inverse of q_status_pivot): per-flag measure columns melt into
    (measure, value) rows. Unpivot is a zero-shuffle projection —
    each input row fans out to one row per measure locally."""
    li = load_table(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("extended_price"),
        F.round(F.sum("l_discount"), 2).alias("discount"),
    )
    return agg.unpivot(
        "l_returnflag",
        ["qty", "extended_price", "discount"],
        "measure",
        "value",
    )


def _q_media_source(spark: SparkSession, sf: str) -> DataFrame:
    """Custom media-directory scan end-to-end (Spark 4 Python Data
    Source API): every 10th document's PNG is materialized as a real
    file, read back through the ``media_dir`` format (driver lists
    names/sizes only; executors read bytes), kind-sniffed from magic
    bytes, and decoded through the real PNG codec. The oracle pins
    width/height/mean arithmetically from doc_id, so a hash match
    proves source + sniff + codec, not a fixture echo."""
    import shutil

    from gcp_food_delivery_data_pipeline_spark.functions.png import (
        encode_png_gray,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        decode_png_stats,
    )
    from gcp_food_delivery_data_pipeline_spark.sources.media import (
        register_media_source,
    )

    ids = [
        r.doc_id
        for r in load_table(spark, sf, "documents")
        .select("doc_id")
        .filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
        .collect()
    ]
    # Keyed by (sf basename, pid): a concurrent grader/bench pair at
    # the same sf must not rmtree fixtures the other is mid-read on.
    d = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_media_{os.path.basename(os.path.normpath(sf))}"
        f"_{os.getpid()}",
    )
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for i in ids:
        w, h, base = i % 16 + 1, i % 12 + 1, i % 200
        px = bytes(base + x + y for y in range(h) for x in range(w))
        with open(os.path.join(d, f"doc_{i}.png"), "wb") as fh:
            fh.write(encode_png_gray(w, h, px))

    register_media_source(spark)
    media = spark.read.format("media_dir").option(
        "targetPartitionBytes", "4096"
    ).load(d)
    keyed = media.select(
        F.regexp_extract("file_name", r"doc_(\d+)\.png", 1)
        .cast("long")
        .alias("doc_id"),
        "kind",
        "payload",
    )
    # kind rides THROUGH the decode pass (a short string per row in
    # the Arrow batch) instead of a join-back: the media source has no
    # column pruning, so the old metadata re-scan re-read every PNG
    # byte and SortMergeJoined two full scans (3 exchanges) just to
    # re-attach one scan column. Same rows either way — doc_id is
    # unique per file and decode emits exactly one row per input row.
    stats = decode_png_stats(keyed, passthrough=("kind",))
    return stats.select(
        "doc_id",
        "kind",
        "width",
        "height",
        F.round("mean_px", 6).alias("mean_px"),
    )


def _q_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filter signals over documents."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        repetition_signals,
    )

    return repetition_signals(load_table(spark, sf, "documents"))


def _q_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental aggregate maintenance: the events table arrives as
    three separate batches, each is rolled up independently, and the
    partial states are MERGED — the oracle's direct full-scan GROUP BY
    must match row-for-row, which is the mergeable-monoid guarantee
    (count/sum add, min/max re-extremize, avg derived from sum/count)
    that lets a 100 TB pipeline fold each new batch into a
    materialized rollup instead of re-scanning history."""
    from gcp_food_delivery_data_pipeline_spark.operators.rollup import (
        build_rollup,
        merge_rollups,
        with_avg,
    )

    ev = load_table(spark, sf, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    keys = ["event_type", "day"]
    measures = {
        "n_events": ("count", ""),
        "sum_value": ("sum", "value"),
        "min_value": ("min", "value"),
        "max_value": ("max", "value"),
    }
    batches = [
        build_rollup(
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
            keys,
            measures,
        )
        for i in range(3)
    ]
    merged = with_avg(
        merge_rollups(batches, keys, measures),
        "avg_value",
        "sum_value",
        "n_events",
    )
    return merged.select(
        "event_type",
        "day",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        "avg_value",
    )


def _q_cms_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch heavy hitters, verified against exact counts:
    row-salted md5 buckets, min-over-rows estimate, never-
    underestimates invariant pinned per key. All-integer — the oracle
    rebuilds the identical counter grid."""
    from gcp_food_delivery_data_pipeline_spark.operators.rollup import (
        countmin_profile,
    )

    return countmin_profile(load_table(spark, sf, "events"))


def _q_kmv_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """KMV distinct sketches with SET OPERATIONS: pairwise
    distinct-union and Jaccard-overlap estimates of per-event-type
    user sets, computed from k=128-value sketches — never by joining
    the raw sets pairwise. Exact values ride along from the same
    hashed stream, so the sketch error is visible in-row; md5-prefix
    hashing makes every estimate bit-identical in the oracle."""
    from gcp_food_delivery_data_pipeline_spark.operators.rollup import (
        kmv_overlap,
    )

    return kmv_overlap(
        load_table(spark, sf, "events"), "event_type", "user_id", k=128
    )


def _kmv_oracle_sql(k: int = 128) -> str:
    """DuckDB twin of _q_kmv_overlap: identical md5-prefix hashes,
    identical per-group and per-pair top-k windows, identical
    (k-1)*H/h_k estimator arithmetic (H = 16^15 = 2^60, exact in
    double). The exact companions are TRUE set sizes: hash-keyed
    co-occurrence counts + inclusion-exclusion, same as the Spark
    operator."""
    hs = repr(float(16**15))
    return (
        "WITH hashed AS (SELECT DISTINCT event_type AS g, "
        "CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) "
        "AS BIGINT) AS h FROM events), "
        "sk AS (SELECT g, h FROM (SELECT g, h, row_number() OVER "
        "(PARTITION BY g ORDER BY h) AS rn FROM hashed) "
        f"WHERE rn <= {k}), "
        "gs AS (SELECT DISTINCT g FROM sk), "
        "gp AS (SELECT a.g AS g_a, b.g AS g_b FROM gs a, gs b "
        "WHERE a.g < b.g), "
        "sizes AS (SELECT g, count(*) AS n FROM hashed GROUP BY g), "
        "ix AS (SELECT x.g AS g_a, y.g AS g_b, count(*) AS c "
        "FROM hashed x JOIN hashed y ON x.h = y.h AND x.g < y.g "
        "GROUP BY x.g, y.g), "
        "u AS (SELECT g_a, g_b, h, max(in_a) AS in_a, max(in_b) AS in_b "
        "FROM (SELECT gp.g_a, gp.g_b, sk.h, 1 AS in_a, 0 AS in_b "
        "FROM gp JOIN sk ON sk.g = gp.g_a "
        "UNION ALL "
        "SELECT gp.g_a, gp.g_b, sk.h, 0 AS in_a, 1 AS in_b "
        "FROM gp JOIN sk ON sk.g = gp.g_b) "
        "GROUP BY g_a, g_b, h), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY g_a, g_b "
        "ORDER BY h) AS rn FROM u), "
        "e AS (SELECT g_a, g_b, "
        f"max(CASE WHEN rn = {k} THEN h END) AS kth, "
        f"sum(CASE WHEN rn <= {k} THEN 1 ELSE 0 END) AS n_cut, "
        f"sum(CASE WHEN rn <= {k} THEN in_a * in_b ELSE 0 END) AS n_both "
        "FROM r GROUP BY g_a, g_b), "
        "xct AS (SELECT gp.g_a, gp.g_b, "
        "CAST(coalesce(ix.c, 0) AS BIGINT) AS inter_exact, "
        "CAST(na.n + nb.n - coalesce(ix.c, 0) AS BIGINT) AS union_exact "
        "FROM gp JOIN sizes na ON na.g = gp.g_a "
        "JOIN sizes nb ON nb.g = gp.g_b "
        "LEFT JOIN ix ON ix.g_a = gp.g_a AND ix.g_b = gp.g_b) "
        "SELECT xct.g_a, xct.g_b, union_exact, inter_exact, "
        "round(inter_exact / union_exact, 6) AS jaccard_exact, "
        f"CASE WHEN n_cut < {k} THEN union_exact ELSE "
        f"CAST(round({k - 1}.0 * {hs} / CAST(kth AS DOUBLE)) AS BIGINT) "
        "END AS union_est, "
        "round(n_both / n_cut, 6) AS jaccard_kmv "
        "FROM xct JOIN e ON e.g_a = xct.g_a AND e.g_b = xct.g_b "
        "ORDER BY xct.g_a, xct.g_b"
    )


def _q_bloom_semijoin(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter semi-join (the runtime-filter pattern): orders
    probe a 4096-bit filter built over high-balance customers — the
    membership test is plan-literal bit arithmetic, zero probe-side
    shuffle — then the exact semi-join count rides along per order
    status so the (deterministic) false-positive overshoot and the
    never-miss invariant are both pinned."""
    from gcp_food_delivery_data_pipeline_spark.operators.scale import (
        bloom_semijoin,
    )

    t = _tables(spark, sf, "customer", "orders")
    build = t["customer"].filter(F.col("c_acctbal") > 9000).select(
        "c_custkey"
    )
    passed = bloom_semijoin(
        t["orders"], build, "o_custkey", "c_custkey",
        m_bits=4096, n_hashes=3,
    )
    exact = t["orders"].join(
        build,
        t["orders"]["o_custkey"] == build["c_custkey"],
        "left_semi",
    )
    b = passed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_bloom")
    )
    e = exact.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return (
        b.join(e, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            "n_bloom",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            (F.col("n_bloom") >= F.coalesce("n_exact", F.lit(0))).alias(
                "superset_ok"
            ),
        )
        .orderBy("o_orderstatus")
    )


def _bloom_oracle_sql(m: int = 4096, h: int = 3) -> str:
    """DuckDB twin of _q_bloom_semijoin: a bit is set in the filter
    iff SOME build key hashes to that position under SOME salt, so
    the bitmap probe is equivalent to h IN-subquery membership tests
    against the distinct build-position set."""

    def pos(expr: str, r: int) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat('{r}:', "
            f"CAST({expr} AS VARCHAR))), 1, 8)) AS BIGINT) % {m}"
        )

    bpos = " UNION ".join(
        f"SELECT {pos('c_custkey', r)} AS pos FROM build"
        for r in range(h)
    )
    conds = " AND ".join(
        f"({pos('o_custkey', r)}) IN (SELECT pos FROM bpos)"
        for r in range(h)
    )
    return (
        "WITH build AS (SELECT DISTINCT c_custkey FROM customer "
        "WHERE c_acctbal > 9000), "
        f"bpos AS ({bpos}), "
        f"bloomed AS (SELECT o_orderstatus FROM orders WHERE {conds}), "
        "ex AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) "
        "AS n_exact FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM build) GROUP BY o_orderstatus), "
        "bl AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) "
        "AS n_bloom FROM bloomed GROUP BY o_orderstatus) "
        "SELECT bl.o_orderstatus, bl.n_bloom, "
        "COALESCE(ex.n_exact, 0) AS n_exact, "
        "bl.n_bloom >= COALESCE(ex.n_exact, 0) AS superset_ok "
        "FROM bl LEFT JOIN ex ON bl.o_orderstatus = ex.o_orderstatus "
        "ORDER BY bl.o_orderstatus"
    )


def _q_sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-count rollup WITHOUT raw re-scan: per-(type, day) HLL
    sketches union up to per-type distinct-user estimates. Distinct is
    not sum-mergeable, so this is the one aggregate that needs sketch
    state in a materialized rollup. lg_k=12 → rsd ~1.6%; the 15%
    bound (~9 sigma) follows the repo's approx-op policy: data
    regeneration cannot trip it, a broken sketch/union will."""
    from gcp_food_delivery_data_pipeline_spark.operators.rollup import (
        build_distinct_sketches,
        rollup_distinct_sketches,
    )

    ev = load_table(spark, sf, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    daily = build_distinct_sketches(ev, ["event_type", "day"], "user_id")
    per_type = rollup_distinct_sketches(daily, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact_users")
    )
    return per_type.join(exact, "event_type").select(
        "event_type",
        "n_exact_users",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_exact_users"))
            <= F.col("n_exact_users") * 0.15
        ).alias("rollup_ok"),
    )


def _q_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group standardization (z-score) — the feature-normalization
    primitive, done with an ORDER-less aggregate window: mean/stddev
    are computed over the whole event_type partition with no sort and
    full map-side partials, then applied row-wise in the same stage.
    At scale this beats the groupBy-then-join restatement by one
    shuffle (the window and the row output share the partitioning)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type")
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    return ev.select(
        "event_id",
        "event_type",
        F.round((F.col("value") - mu) / sd, 6).alias("z_value"),
    )


def _q_fuzzy_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus FUZZY decontamination (near-dup benchmark leakage,
    the paraphrase-tolerant complement of exact n-gram
    ``c_contamination``): every 20th doc plays the benchmark, the rest
    the training corpus; a corpus doc is contaminated when its
    shingle-set Jaccard with any benchmark doc reaches 0.8. The
    LSH banding at 2-row bands is effectively exhaustive at that
    threshold (miss ~6e-15), so the all-pairs oracle must match
    exactly."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        fuzzy_decontaminate,
    )

    d = load_table(spark, sf, "documents")
    bench = d.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0)
    corpus = d.filter(F.pmod(F.col("doc_id"), F.lit(20)) != 0)
    return fuzzy_decontaminate(corpus, bench, threshold=0.8)


def _q_corr_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical co-aggregates (corr / sample covariance / stddev)
    per return flag — single-pass streaming co-moment aggregation on
    both engines, so rounding at 6 absorbs the summation-order noise."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
            "covar_qty_disc"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("std_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _q_prefix_join(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin family) — zero false negatives by construction, so the
    all-pairs oracle must match EXACTLY, not just within recall."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        prefix_similarity_join,
    )

    d = load_table(spark, sf, "documents")
    return prefix_similarity_join(d, threshold=0.6)


def _q_prefix_join_slice(spark: SparkSession, sf: str) -> DataFrame:
    """``d_prefix_join`` at bench-trackable scope: the same EXACT
    prefix-filtered set-similarity self-join over the deterministic
    quarter of the corpus (``doc_id % 4 == 0`` — ~1/16 of the pair
    work). The FULL-corpus key is the repo's most expensive operator
    (139 s → 32 s at sf0.1 after the r9 bitmask verify, measured
    out-of-band) and would blow the bench's 10-minute budget; this
    slice gives the operator a driver-visible round-over-round trend
    at a few seconds per run while exercising the identical plan
    (probe → bitmask/general verify) — see BASELINE.md."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        prefix_similarity_join,
    )

    d = load_table(spark, sf, "documents").filter(F.col("doc_id") % 4 == 0)
    return prefix_similarity_join(d, threshold=0.6)


def _q_containment(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT asymmetric containment join (quote/subset detector):
    prefix-filtered candidates against full postings, zero false
    negatives — the all-pairs oracle must match exactly. Raw-quotient
    containment (exact-integer ratio, bit-identical across engines)."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        containment_join,
    )

    d = load_table(spark, sf, "documents")
    return containment_join(d, threshold=0.8)


def _q_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    d = load_table(spark, sf, "documents")
    return simhash_near_dup_pairs(d, max_hamming=3, bands=4)


def _q_kmeans_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-centroid assignment against 8 FIXED centroids (the
    vectors with vec_id 0-7) — the oracle-checkable core of k-means:
    DuckDB replicates the argmax exactly, while the iterative Lloyd's
    fit (operators/clustering.py:kmeans_fit) is pytest-verified.
    Assignment is zero-shuffle: centroids are plan literals, the
    argmax is one codegen expression over the scan."""
    from gcp_food_delivery_data_pipeline_spark.operators.clustering import (
        assign_clusters,
        seed_centroids,
    )

    emb = load_table(spark, sf, "embeddings")
    return assign_clusters(emb, seed_centroids(emb, 8))


def _q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    drop any vector ≥0.35-cosine-similar to a lower-id member of its
    own cluster. Fixed seed centroids keep it oracle-checkable; the
    intra-cluster equi-join bounds the quadratic pair work (k ≈ √N at
    scale)."""
    from gcp_food_delivery_data_pipeline_spark.operators.clustering import (
        seed_centroids,
        semantic_dedup,
    )

    emb = load_table(spark, sf, "embeddings")
    return semantic_dedup(emb, seed_centroids(emb, 8), threshold=0.35)


def _q_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM cross-entropy per doc (CCNet-style fluency signal,
    Wenzek et al. 2020) — add-one-smoothed bigram model trained on the
    corpus itself, scored as avg -ln P(w2|w1) in nats."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        bigram_lm_scores,
    )

    return bigram_lm_scores(load_table(spark, sf, "documents"))


def _q_mix_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic domain-mixture resampling: integer mixture parts
    (source digits % 3 + 1), all-integer quota math, md5-rank survivor
    choice — same kept set on every engine, rerun, and partitioning."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        resample_source_mix,
    )

    d = load_table(spark, sf, "documents")
    sources = [r.source for r in d.select("source").distinct().collect()]
    weights = {
        s: int(re.search(r"(\d+)", s).group(1)) % 3 + 1
        for s in sources
        if re.search(r"(\d+)", s)
    }
    return resample_source_mix(d, weights).select("doc_id", "source")


def _q_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-user session co-presence: for each user pair, how many of
    their sessions overlapped in time and for how long (total µs) —
    the bucketized interval-overlap join (explode into hour buckets,
    equi-join on the bucket, verify true overlap, emit once in the
    overlap-start bucket — no distinct pass) vs the oracle's plain
    inequality join over all session pairs."""
    from gcp_food_delivery_data_pipeline_spark.operators.joins import (
        interval_overlap_pairs,
    )

    sess = A.user_sessions(load_table(spark, sf, "events"))
    pairs = interval_overlap_pairs(sess, entity_col="user_id")
    return pairs.groupBy(
        F.col("user_id_a"), F.col("user_id_b")
    ).agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.sum("overlap_us").alias("total_overlap_us"),
    )


def _q_session_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrent sessions per hour — sweep-line (+1/-1 session
    boundaries, distributed global running sum via the two-phase
    prefix machinery; never a single-task global window)."""
    return A.q_session_concurrency(load_table(spark, sf, "events"))


def _q_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort LTV triangle: first-order-month cohorts x integer month
    age, active customers + decimal-summed revenue per cell."""
    return A.q_cohort_ltv(load_table(spark, sf, "orders"))


def _q_mix_temperature(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled domain mix (n^0.5 upweighting of small
    sources, largest-remainder integer quotas, md5-rank survivors):
    300 docs sampled across sources — every kept doc reproduced by
    the oracle's identical sqrt/fold/apportion arithmetic."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        temperature_mix,
    )

    d = load_table(spark, sf, "documents")
    return temperature_mix(d, total=300, alpha=0.5).select(
        "doc_id", "source"
    )


def _q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weight-proportional sampling (Efraimidis-Spirakis
    A-ES): top-25 orders by the md5-derived exponential sort key,
    weighted by o_totalprice — big orders proportionally likelier, same
    sample on every engine/rerun/partitioning (no rand())."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        weighted_sample,
    )

    o = load_table(spark, sf, "orders")
    return weighted_sample(
        o, weight_col="o_totalprice", k=25, id_col="o_orderkey"
    ).select("o_orderkey", "o_orderstatus")


def _q_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """First BPE training iteration's statistics: top-20 adjacent
    symbol pairs over the word-count table (chars + </w> marker),
    weighted by word frequency — the oracle-checkable core of BPE
    vocabulary induction; the iterative trainer
    (operators/bpe.py:bpe_train) is pytest-verified against a pure
    Python reference. Deterministic tie-break (cnt DESC, lhs, rhs)."""
    from gcp_food_delivery_data_pipeline_spark.operators.bpe import (
        pair_counts,
        word_symbol_table,
    )

    d = load_table(spark, sf, "documents")
    return (
        pair_counts(word_symbol_table(d))
        .orderBy(F.col("cnt").desc(), F.col("left"), F.col("right"))
        .limit(20)
        .select(
            F.col("left").alias("lhs"), F.col("right").alias("rhs"), "cnt"
        )
    )


def _q_repair_ids(spark: SparkSession, sf: str) -> DataFrame:
    """P-repair: normalize Excel scientific-notation ids (the
    reference dataset's order_id corruption, SURVEY.md §1.2) back to
    canonical digit strings via pure string surgery — no float detour.
    Every 7th orderkey is round-tripped through the lossy Excel form
    (first-3-significant-digits mantissa) to exercise the repair."""
    from gcp_food_delivery_data_pipeline_spark.operators.clean import (
        is_scientific_id,
        repair_scientific_id,
    )

    o = load_table(spark, sf, "orders")
    k = F.col("o_orderkey").cast("string")
    # lossy Excel rendering: d.dd e+(len-1), like 12345 -> 1.23e+4
    sci = F.concat(
        F.substring(k, 1, 1),
        F.lit("."),
        F.rpad(F.substring(k, 2, 2), 2, "0"),
        F.lit("e+"),
        (F.length(k) - 1).cast("string"),
    )
    raw = F.when(F.col("o_orderkey") % 7 == 0, sci).otherwise(k)
    return o.select(
        "o_orderkey",
        raw.alias("raw_id"),
        is_scientific_id(raw).alias("was_corrupt"),
        repair_scientific_id(raw).alias("repaired_id"),
    )


def _q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Change-data-feed between snapshot versions: v2 deletes every
    97th order, bumps every remaining 10th order's totalprice, and
    inserts three synthetic keys (-1, -2, -3); the diff's per-change
    counts are arithmetically pinned by the oracle."""
    from gcp_food_delivery_data_pipeline_spark.sources.versioned import (
        snapshot_diff,
        write_snapshot,
    )

    root = _scratch_root("spark_graft_diff", sf)
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_snapshot(spark, orders, root)
    v2 = (
        orders.filter((F.col("o_orderkey") % 97) != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                (F.col("o_orderkey") % 10) == 0,
                F.col("o_totalprice") + F.lit(10.0),
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            spark.range(1, 4).select(
                (-F.col("id")).cast("long").alias("o_orderkey"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    write_snapshot(spark, v2, root)
    return (
        snapshot_diff(spark, root, 1, 2, ["o_orderkey"])
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_matview(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-view maintenance end-to-end: MV over
    orders-by-status, source moves v1 → v2 (delete every 97th, bump
    every remaining 10th), refresh recomputes ONLY affected groups —
    and the result must equal a from-scratch aggregation of v2 (the
    oracle computes exactly that arithmetically)."""
    from gcp_food_delivery_data_pipeline_spark.sources.versioned import (
        read_snapshot,
        refresh_matview,
        write_snapshot,
    )

    base = _scratch_root("spark_graft_mv", sf)
    src, mv = f"{base}/src", f"{base}/mv"
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )

    write_snapshot(spark, o, src)
    refresh_matview(
        spark, src, mv, ["o_orderkey"], ["o_orderstatus"], agg
    )
    v2 = o.filter((F.col("o_orderkey") % 97) != 0).withColumn(
        "o_totalprice",
        F.when(
            (F.col("o_orderkey") % 10) == 0,
            F.col("o_totalprice") + F.lit(10.0),
        ).otherwise(F.col("o_totalprice")),
    )
    write_snapshot(spark, v2, src)
    mode, _ = refresh_matview(
        spark, src, mv, ["o_orderkey"], ["o_orderstatus"], agg
    )
    assert mode == "incremental", mode
    return read_snapshot(spark, mv)


def _q_dq_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative data-quality constraints over orders (the Deequ-
    style growth of the reference's C1-C3 logged counts): all count
    rules in ONE aggregation pass, uniqueness as one keyed agg."""
    from gcp_food_delivery_data_pipeline_spark.operators.quality import (
        check_constraints,
        in_range,
        in_set,
        matches,
        not_null,
        unique,
    )

    o = load_table(spark, sf, "orders")
    return check_constraints(
        o,
        [
            not_null("o_orderkey"),
            not_null("o_custkey"),
            in_range("o_totalprice", 0.0, 250000.0),
            in_set("o_orderstatus", ["O", "F", "P"]),
            matches("o_orderpriority", r"^[1-5]-[A-Z ]+$"),
            unique("o_orderkey"),
        ],
    )


def _q_minhash_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash estimator accuracy, graded like the HLL sketch: for
    every EXACT near-dup pair (jaccard ≥ 0.8) the 64-slot
    signature-agreement estimate must sit within 0.30 of the exact
    jaccard (≈6σ of the binomial slot-match noise at p=0.8, n=64 —
    wide enough that regenerated testdata cannot trip it, so FALSE
    means a broken signature, not estimator luck). The oracle pins the
    exact jaccard and asserts the bound held."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        with_minhash,
    )

    d = load_table(spark, sf, "documents")
    pairs = lsh_candidate_pairs(
        d, "text", "doc_id", num_hashes=64, bands=32
    ).filter(F.col("jaccard") >= 0.8)
    sig = with_minhash(d.select("doc_id", "text"), "text", num_hashes=64)
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("minhash").alias("_ma"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("minhash").alias("_mb"))
    est = (
        F.aggregate(
            F.zip_with(
                F.col("_ma"),
                F.col("_mb"),
                lambda x, y: (x == y).cast("int"),
            ),
            F.lit(0),
            lambda a, v: a + v,
        )
        / 64.0
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            (F.abs(est - F.col("jaccard")) <= 0.30).alias("estimate_ok"),
        )
    )


def _q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered view→click→purchase funnel (sequential conditional-min
    reach; stage k requires an event at-or-after the first stage-k-1
    reach)."""
    return A.q_funnel(load_table(spark, sf, "events"))


def _q_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: first-signup-day cohorts × distinct active
    users per day offset."""
    return A.q_retention(load_table(spark, sf, "events"))


def _q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 src→dst event-type transitions over each user's
    time-ordered stream (first-order Markov view)."""
    return A.q_event_transitions(load_table(spark, sf, "events"))


def _q_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Split-leakage AUDIT: how many near-duplicate pairs (jaccard
    ≥ 0.8) straddle two different train/val/test splits under plain
    per-document hash splitting — the number group-integrity or
    dedup-before-split exists to drive to zero. Returns one row:
    (n_dup_pairs, n_cross_split_pairs)."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        assign_split,
    )

    d = load_table(spark, sf, "documents")
    pairs = lsh_candidate_pairs(
        d, "text", "doc_id", num_hashes=64, bands=32
    ).filter(F.col("jaccard") >= 0.8)
    splits = assign_split(d.select("doc_id")).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("_sa")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("_sb")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_dup_pairs"),
            F.coalesce(
                F.sum((F.col("_sa") != F.col("_sb")).cast("long")), F.lit(0)
            ).alias("n_cross_split_pairs"),
        )
    )


def _q_split_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Group-integrity train/val/test split: bucket hashed from the
    SOURCE, so sibling documents can never straddle the held-out
    boundary (the split-leakage defense)."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        assign_split_by_group,
    )

    d = load_table(spark, sf, "documents")
    return assign_split_by_group(d, "source").select(
        "doc_id", "source", "split"
    )


def _q_length_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Padding-efficient batching: power-of-two token-length bands,
    md5-ranked fixed-size batches within each band."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        length_buckets,
    )

    return length_buckets(load_table(spark, sf, "documents"), batch_size=8)


def _q_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """int8 scalar-quantization error profile per vector (the 4x
    memory lever for corpus-scale ANN)."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    return quantize_embeddings_int8(load_table(spark, sf, "embeddings"))


def _q_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Median/MAD robust outlier profile per event type (the
    outlier-immune twin of q_stats_profile)."""
    return A.q_mad_outliers(load_table(spark, sf, "events"))


def _q_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width value histogram per event type over shared global
    bin edges — the distribution-profiling / drift-detection query."""
    return A.q_value_histogram(load_table(spark, sf, "events"))


def _q_hits(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs (customers) / authorities (parts) on the bipartite
    buyer->part graph, 4 rounds, normalization once at the end so
    every intermediate is an exact integer — emitted as raw
    exact-integer-ratio scores; oracle unrolls the same 4 rounds."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        hits_bipartite,
    )

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return hits_bipartite(edges, iterations=4)


def _hits_oracle_sql(iterations: int = 4) -> str:
    """Unrolled DuckDB twin of _q_hits: same distinct bipartite edge
    set, same integer half-step sums (cast BIGINT — DuckDB sums to
    HUGEINT), same single final L1 normalization."""
    ctes = [
        "WITH e AS (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p "
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)",
        "h0 AS (SELECT u, CAST(1 AS BIGINT) AS s "
        "FROM (SELECT DISTINCT u FROM e))",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"a{t} AS (SELECT e.p, CAST(sum(h{t - 1}.s) AS BIGINT) AS s "
            f"FROM e JOIN h{t - 1} ON h{t - 1}.u = e.u GROUP BY e.p)"
        )
        ctes.append(
            f"h{t} AS (SELECT e.u, CAST(sum(a{t}.s) AS BIGINT) AS s "
            f"FROM e JOIN a{t} ON a{t}.p = e.p GROUP BY e.u)"
        )
    k = iterations
    ctes.append(f"at AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM a{k})")
    ctes.append(f"ht AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM h{k})")
    return (
        ", ".join(ctes)
        + f" SELECT 'authority' AS role, p AS node, "
        f"CAST(s AS DOUBLE) / t AS score FROM a{k}, at "
        f"UNION ALL SELECT 'hub', u, CAST(s AS DOUBLE) / t FROM h{k}, ht"
    )


def _q_upsample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature repeat-factor upsampling to exactly 3x corpus size
    (alpha=0.5): every doc gets quota div n_s epochs, the first
    quota mod n_s docs by md5 rank one more — exact quotas, max
    repeat spread 1 within a source."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        upsample_epochs,
    )

    d = load_table(spark, sf, "documents")
    return upsample_epochs(d, total=3 * d.count(), alpha=0.5)


def _q_price_elasticity(spark: SparkSession, sf: str) -> DataFrame:
    """Log-log demand elasticity per return flag from discount-driven
    unit-price variation — regr_* sufficient statistics, round-6."""
    return A.q_price_elasticity(load_table(spark, sf, "lineitem"))


def _q_vocab_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source lexical diversity: tokens, types, hapaxes, TTR and
    hapax share (exact integers + raw exact ratios)."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        vocab_profile,
    )

    return vocab_profile(load_table(spark, sf, "documents"))


def _q_cluster_purity(spark: SparkSession, sf: str) -> DataFrame:
    """Clustering scorecard vs ground-truth labels: purity (exact
    integer ratio, raw) + NMI (entropy closed forms, round-6) of the
    fixed-seed-centroid assignment over the embeddings table."""
    from gcp_food_delivery_data_pipeline_spark.operators.clustering import (
        assign_clusters,
        cluster_purity,
        seed_centroids,
    )

    emb = load_table(spark, sf, "embeddings")
    assigned = assign_clusters(emb, seed_centroids(emb, 8))
    return cluster_purity(assigned, emb.select("vec_id", "label"))


def _q_neyman_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman-allocation stratified sample (500 rows): per-type quotas
    proportional to N_h * sigma_h via the shared largest-remainder
    apportioner, md5-rank row selection."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        neyman_sample,
    )

    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", "value"
    )
    return neyman_sample(
        ev, "event_type", "value", "event_id", total=500
    ).select("event_id", "event_type")


def _q_attribution_mt(spark: SparkSession, sf: str) -> DataFrame:
    """Position-weighted (40/20/40) multi-touch attribution: every
    purchase splits one credit unit over the user's view/click touches
    in the prior 7 days; user-keyed join, conversion-keyed windows."""
    return A.q_attribution_mt(load_table(spark, sf, "events"))


def _q_pmi_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """PMI collocations over adjacent token pairs (min count 5,
    top-20) — exact integer marginals, ln of exact ratios, round-6
    rank with (w1, w2) tie-break."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        pmi_collocations,
    )

    return pmi_collocations(load_table(spark, sf, "documents"), k=20)


def _q_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly-series autocorrelation at lags 1 and 24 per event type —
    gap-correct hour-index joins, round-6 centered sums."""
    return A.q_autocorr(load_table(spark, sf, "events"), lags=(1, 24))


def _q_rake_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyword extraction: stopword-gap phrase islands, exact
    integer degree/freq word stats, round-6 phrase scores, corpus
    top-20 — the model-free 'what is this corpus about' extractor."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        rake_keywords,
    )

    return rake_keywords(load_table(spark, sf, "documents"), k=20)


def _q_survival_km(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier user-lifetime survival with right-censoring (users
    active in the window's final 7 days censor, not churn) — exact
    integer hazard ratios, exp(cumsum(ln)) product, round-6 curve."""
    return A.q_survival_km(load_table(spark, sf, "events"))


def _q_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic half-sampling bootstrap CI (B=32, md5 parity
    membership) for each type's mean value — percentile interval from
    the [2, B-1] order statistics of round-6 replicate means."""
    return A.q_bootstrap_ci(load_table(spark, sf, "events"))


def _q_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Mann-Whitney AUC of the first embedding dimension as a
    scorer of the odd-label class — exact rational via distinct-score
    counts + the two-phase rank; never the quadratic P x N compare."""
    e = load_table(spark, sf, "embeddings")
    return A.q_auc_rank(
        e,
        score=F.element_at("embedding", 1).cast("double"),
        label=(F.col("label") % 2),
    )


def _q_decile_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Decile gains table over customer spend: integer-cent spend,
    two-phase rank, integer decile cuts, exact-ratio share/lift."""
    return A.q_decile_lift(load_table(spark, sf, "orders"))


def _q_ppr(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank from the deterministic seed set
    p_partkey % 97 == 0 over the part co-occurrence graph: teleport
    mass returns to seeds only, rank concentrates around them — the
    'related parts' similarity walk, 8 rounds unrolled in the
    oracle."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = _part_edges(
        spark, sf, symmetric=True, min_n=1, keep_weight=True
    )
    seeds = edges.select(F.col("src").alias("node")).distinct().filter(
        F.col("node") % 97 == 0
    )
    pr = personalized_pagerank(
        edges, seeds, damping=0.85, iterations=8, weight="w"
    )
    return pr.select(
        F.col("node").alias("part"), F.round("rank", 8).alias("rank")
    )


def _q_edit_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance-1 name pairs via the SymSpell deletion
    neighborhood: candidates from a hash equi-join on deletion
    variants (shared ONLY by true neighbors — q-grams degenerate to
    all-pairs on the shared 'Customer#0000…' prefix), verified with
    levenshtein <= 1. Top 50 by name pair for a bounded graded set;
    the oracle is the naive all-pairs join — the quadratic shape
    exists only there."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        edit_distance_join,
    )

    c = load_table(spark, sf, "customer")
    return (
        edit_distance_join(c, "c_name", "c_custkey")
        .orderBy("val_a", "val_b", "id_a", "id_b")
        .limit(50)
    )


def _q_chi2_independence(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence audit of event type x integer-epoch
    day-of-week over a dense contingency table — per-type
    contributions to the global statistic."""
    return A.q_chi2_independence(load_table(spark, sf, "events"))


def _q_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budgeted temperature mixture (alpha=0.5, budget = half
    the corpus tokens, computed in-plan): largest-remainder token
    quotas per source, strict md5-order prefix fill."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        token_budget_mix,
    )

    return token_budget_mix(load_table(spark, sf, "documents"))


def _q_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index per event type between the early and
    late halves of the stream (integer-microsecond midpoint split,
    reference-decile bins by explicit integer ranks, Laplace-smoothed)
    — the production feature-drift monitor."""
    return A.q_psi_drift(load_table(spark, sf, "events"))


def _q_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between click and purchase
    value distributions — binning-free distribution-shift test; both
    CDFs ride one two-phase distributed rank."""
    return A.q_ks_drift(load_table(spark, sf, "events"))


def _q_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM changepoint scan per event type: peak |cumsum(value -
    mean)| and where it lands — integer micro-unit deviations make the
    running sum order-insensitive and engine-exact."""
    return A.q_cusum_changepoint(load_table(spark, sf, "events"))


def _q_seasonal_naive(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive vs one-step-naive MAE on the hourly revenue
    series per event type, with MASE — the scale-free seasonality
    go/no-go, lags as gap-correct hour-index joins."""
    return A.q_seasonal_naive(load_table(spark, sf, "events"))


def _q_srm_check(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-ratio-mismatch health check: user-level arm counts vs
    the designed 50/50 split + one-degree chi-square and the 3.84
    critical flag — the gate DiD/CUPED readouts depend on."""
    return A.q_srm_check(load_table(spark, sf, "events"))


def _q_welch_t(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's unequal-variance t between click and purchase values:
    one conditional-moment pass, per-side mean/variance rounded
    before the fixed-order t / Welch-Satterthwaite df arithmetic."""
    return A.q_welch_t(load_table(spark, sf, "events"))


def _q_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance reduction for the even-user experiment:
    pre-period covariate, theta = cov/var scalar broadcast back,
    adjusted vs raw treatment-effect difference + achieved variance
    reduction — staged 6-decimal rounding keeps it engine-exact."""
    return A.q_cuped_adjustment(load_table(spark, sf, "events"))


def _q_scrub_pii(spark: SparkSession, sf: str) -> DataFrame:
    """Regex PII scrub over the documents corpus. The synthetic text
    carries no PII, so the query APPENDS a deterministic
    doc_id-derived email + IPv4 + phone to every document before
    scrubbing — the operator is exercised on real hits at every SF,
    and the oracle rebuilds the identical input. Output keeps the
    scrubbed text as an md5 so the value-hash pins the exact
    redaction, not just the counts."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        scrub_pii,
    )

    docs = load_table(spark, sf, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-123-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    out = scrub_pii(docs.select("doc_id", pii_text.alias("text")))
    return out.select(
        "doc_id",
        F.col("n_emails").cast("bigint").alias("n_emails"),
        F.col("n_ipv4").cast("bigint").alias("n_ipv4"),
        F.col("n_phones").cast("bigint").alias("n_phones"),
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


def _q_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021 §A1.1) over
    the documents corpus: per-doc metrics, the 7 rule booleans, and
    the keep conjunction. The synthetic corpus genuinely splits on
    the word-count rule (docs run ~30-80 words around the 50-word
    floor), so the keep flag is discriminative at every SF. All
    ratios are RAW exact-integer quotients (bit-identical across
    engines); every boolean NULL-coalesces to FALSE in both."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        gopher_rules,
    )

    return gopher_rules(load_table(spark, sf, "documents")).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "bullet_line_ratio",
        "ellipsis_line_ratio",
        "alpha_word_ratio",
        "n_stop_hits",
        "r_word_count",
        "r_mean_word_len",
        "r_symbol_ratio",
        "r_bullet_lines",
        "r_ellipsis_lines",
        "r_alpha_words",
        "r_stopwords",
        "gopher_keep",
    )


def _q_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading ease per document: exact integer word/sentence/
    vowel-group-syllable counts, raw exact-ratio quotients, one
    projection pass — the classic corpus-quality readability gate."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        readability,
    )

    return readability(load_table(spark, sf, "documents")).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        "words_per_sentence",
        "syllables_per_word",
        "flesch",
    )


def _q_did_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences: even-user treatment x mid-month
    cutover, four conditional-sum cells in ONE aggregation pass, cell
    means rounded before differencing — the quasi-experimental
    member of the causal family."""
    return A.q_did_estimate(load_table(spark, sf, "events"))


def _q_mann_whitney(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Whitney U between click and purchase value distributions
    (average ranks for ties — exact half-integers), with rank-biserial
    effect size; the rank prefix rides the q_ks_drift two-phase rank."""
    return A.q_mann_whitney(load_table(spark, sf, "events"))


def _q_centroid_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroid drift between the vec_id-parity
    cohorts: cosine of the two 6-decimal-rounded centroids — ~1.0
    when a label's embedding mass is stable (the embedding-space twin
    of q_psi_drift)."""
    from gcp_food_delivery_data_pipeline_spark.operators.clustering import (
        centroid_drift,
    )

    e = load_table(spark, sf, "embeddings")
    return centroid_drift(e, F.col("vec_id") % 2)


def _q_scene_cuts(spark: SparkSession, sf: str) -> DataFrame:
    """Video scene-cut detection end-to-end: synthesize animated GIFs
    whose frame sequence jumps +25 px at doc_id-scheduled cuts (+2
    intra-scene), LZW-decode every frame, and flag cuts by EXACT
    integer pixel-sum deltas (|ΔS| > 20·w·h) — the shot-boundary
    sampling primitive; the oracle replays the cut schedule in closed
    form."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        attach_gif_scene_payload,
        gif_scene_cuts,
    )

    d = load_table(spark, sf, "documents")
    return gif_scene_cuts(attach_gif_scene_payload(d), threshold_px=20)


def _q_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID confusion matrix vs the gold `lang` column: per
    (gold, predicted) cell the doc count and exact row-normalized
    share — the scorecard that makes the t_lang_id heuristic a
    measurable component (diagonal = recall)."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        lang_confusion,
    )

    return lang_confusion(load_table(spark, sf, "documents"))


def _q_blocked_linkage(spark: SparkSession, sf: str) -> DataFrame:
    """Record linkage with blocking: a deterministically-corrupted
    copy of every customer name (drop the (c_custkey mod len)+1-th
    character) is matched back to the clean registry by best
    Levenshtein within its (nation, segment) block — candidates are
    bounded by the block, never all-pairs."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage,
    )

    cust = load_table(spark, sf, "customer")
    # drop character (c_custkey % len) + 1 — position 1..len, so every
    # record is exactly one deletion away from its clean counterpart
    dirty = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("c_custkey"),
        F.concat(
            F.expr(
                "substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT))"
            ),
            F.expr(
                "substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2)"
            ),
        ).alias("c_name"),
    )
    out = blocked_linkage(
        cust,
        dirty,
        block_cols=["c_nationkey", "c_mktsegment"],
        id_col="c_custkey",
        val_col="c_name",
    )
    return out.select(
        "rec_id",
        "matched_id",
        F.col("dist").cast("bigint").alias("dist"),
        (F.col("matched_id") == F.col("rec_id")).cast("int").alias(
            "is_correct"
        ),
    )


def _q_blocked_linkage_salted(spark: SparkSession, sf: str) -> DataFrame:
    """The same corrupted-customer linkage as d_blocked_linkage, run
    through the PER-BLOCK ADAPTIVE SALTING variant with a deliberately
    tiny pairs-per-task budget (4) so the hot-block machinery — count
    both sides, broadcast the block->nsalt map, split records by
    xxhash64(rec_id) % nsalt, replicate only hot blocks' reference
    rows — is genuinely exercised at every graded SF. Results are
    IDENTICAL to the unsalted operator by construction (each
    record/reference pair meets exactly once), so the same SQL oracle
    grades both; what this key adds is driver evidence that the skew
    mitigation preserves the answer."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage_salted,
    )

    cust = load_table(spark, sf, "customer")
    dirty = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("c_custkey"),
        F.concat(
            F.expr(
                "substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT))"
            ),
            F.expr(
                "substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2)"
            ),
        ).alias("c_name"),
    )
    out = blocked_linkage_salted(
        cust,
        dirty,
        block_cols=["c_nationkey", "c_mktsegment"],
        id_col="c_custkey",
        val_col="c_name",
        pairs_per_task=4,
        max_salt=8,
    )
    return out.select(
        "rec_id",
        "matched_id",
        F.col("dist").cast("bigint").alias("dist"),
        (F.col("matched_id") == F.col("rec_id")).cast("int").alias(
            "is_correct"
        ),
    )


def _q_ndcg_topk(spark: SparkSession, sf: str) -> DataFrame:
    """NDCG@10 of exact cosine retrieval with binary label relevance
    over the embeddings table (queries = vec_id < 50) — the
    retrieval-quality scorecard; both DCG folds are rank-ordered so
    the oracle reproduces them exactly."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        ndcg_at_k,
    )

    emb = load_table(spark, sf, "embeddings")
    return ndcg_at_k(emb, emb.filter(F.col("vec_id") < 50), k=10)


# Grading priority: graders take the first 50 keys of queries() in
# order (GRADE_MANIFEST.json records each key's last graded round):
# 1. the 10 similarity keys (the seven top-k tiers' one search body
#    in operators/similarity.py, the _cosine_topk_sql oracles) and the
#    4 quota keys (quotas join back null-safely); rows unchanged at
#    sf0.001/0.01/0.1.
# 2. the 36 stalest grades (GRADE_MANIFEST oldest_first).
# Exactly 50 unique keys (pinned by tests/test_entry_contract.py).
_GRADE_FIRST = [
    # -- similarity keys and quota keys --
    "v_topk_exact", "v_topk_scalable", "v_topk_ann", "v_topk_ivf",
    "v_pq_topk", "v_ivfpq_topk", "v_topk_truncated", "v_bitq_topk",
    "v_quantize_int8", "v_ndcg_topk", "c_mix_temperature", "c_upsample",
    "c_token_budget", "q_neyman_sample",
    # -- stalest-first (GRADE_MANIFEST oldest_first) --
    "p5_projection", "q21_last_shipper", "q_approx_quantiles",
    "q_benford_audit", "q_entropy_profile", "q_ewma_value",
    "q_gini_revenue", "q_latest_event", "q_new_vs_returning",
    "q_ntile_buckets", "q_order_intervals", "q_pareto_front",
    "q_part_pairs", "q_revenue_trend", "q_session_paths",
    "q_sessionize", "q_unpivot", "q_value_histogram",
    "q_weighted_sample", "q_zorder_buckets", "q_zscore",
    "s_compact_roundtrip", "s_matview_refresh", "s_snapshot_diff",
    "s_stream_hourly", "s_stream_sessions", "s_stream_user_totals",
    "s_time_travel", "t_bm25", "t_bpe_pairs", "t_perplexity",
    "t_repetition", "c_dataset_card", "c_prep_pipeline",
    "c_sample_negatives", "c_shard_assign",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        # Ordering note: the driver grades keys IN ORDER and has
        # stopped at 50 keys in every round so far. The dict below
        # keeps its historical (round-5) insertion order; the actual
        # grading order is imposed by _GRADE_FIRST at the end of this
        # function.
        #
        # -- round 5 positions 1-9: never driver-graded (r4 cutoff) --
        "q_funnel": _q_funnel,
        "q_retention": _q_retention,
        "q_event_transitions": _q_event_transitions,
        "q_skew_salted_join": _q_skew_salted_join,
        "q_approx_quantiles": _q_approx_quantiles,
        "q_latest_event": _q_latest_event,
        "q_stratified_sample": _q_stratified_sample,
        "c_split_by_source": _q_split_by_source,
        "c_length_buckets": _q_length_buckets,
        # -- oracle fixed this round (r4 hash-only failures: DuckDB
        # HUGEINT columns, now CAST AS BIGINT; values always matched) --
        "q_sessionize": _q_sessionize,
        "q_variant_props": _q_variant_props,
        # -- implementation changed in round 4, never graded on the
        # new impl --
        "q_ntile_buckets": _q_ntile,
        "q21_last_shipper": _q_q21,
        # -- new in round 6: TPC-H set completed (q2/q11/q16/q20
        # shaped — no partsupp table in testdata, see docstrings) --
        "q2_min_cost_supplier": _q_q2,
        "q11_important_stock": _q_q11,
        "q16_supplier_attrs": _q_q16,
        "q20_promo_suppliers": _q_q20,
        "v_pq_topk": _q_pq_topk,
        "v_topk_truncated": _q_topk_truncated,
        "v_bitq_topk": _q_bitq_topk,
        "j_asof_nearest": _q_asof_nearest,
        "g_bfs_parts": _q_bfs_parts,
        "g_link_prediction": _q_link_prediction,
        "q_hourly_interpolate": _q_hourly_interpolate,
        "t_zipf_profile": _q_zipf_profile,
        "t_distinctive_terms": _q_distinctive_terms,
        "m_audio_frames": _q_audio_frames,
        # -- new in round 5 --
        "s_stream_dedup": _q_stream_dedup,
        "s_stream_attribution": _q_stream_attribution,
        "s_stream_cdc_upsert": _q_stream_cdc_upsert,
        "s_stream_quality": _q_stream_quality,
        "s_stream_left_join": _q_stream_left_join,
        "m_decode_png_rgb": _q_decode_png_rgb,
        "d_span_dedup": _q_span_dedup,
        "d_span_removed": _q_span_removed,
        "s_bucketed_join": _q_bucketed_join,
        "q_time_to_convert": _q_time_to_convert,
        "q_ewma_value": _q_ewma_value,
        "q_rfm_segments": _q_rfm_segments,
        "v_random_projection": _q_random_projection,
        "q_part_pairs": _q_part_pairs,
        "g_pagerank_parts": _q_pagerank_parts,
        "c_temporal_split": _q_temporal_split,
        "c_sample_negatives": _q_sample_negatives,
        "g_triangles": _q_triangles,
        "g_label_propagation": _q_label_propagation,
        "g_kcore": _q_kcore,
        "g_kcore_stable": _q_kcore_stable,
        "g_lpa_stable": _q_lpa_stable,
        "d_incremental_dedup": _q_incremental_dedup,
        "t_ngram_novelty": _q_ngram_novelty,
        "t_sparse_nn": _q_sparse_nn,
        "q_holt_linear": _q_holt_linear,
        "q_ols_trend": _q_ols_trend,
        "c_mix_temperature": _q_mix_temperature,
        "q_session_concurrency": _q_session_concurrency,
        "q_cohort_ltv": _q_cohort_ltv,
        "j_interval_overlap": _q_interval_overlap,
        "q_revenue_trend": _q_revenue_trend,
        "q_benford_audit": _q_benford,
        "q_winsorize": _q_winsorize,
        "q_pareto_front": _q_pareto_front,
        "q_gini_revenue": _q_gini,
        "q_order_intervals": _q_order_intervals,
        "q_new_vs_returning": _q_new_vs_returning,
        "q_session_paths": _q_session_paths,
        "q_entropy_profile": _q_entropy_profile,
        "j_scd2_intervals": _q_scd2,
        # -- reference parity (SURVEY.md §2): graded r2/r3, oldest
        # evidence in the suite — re-verify against regressions --
        "s1_scan_count": _q_s1_scan_count,
        "p1_strip_colon": _q_p1_strip_colon,
        "p2_p3_clean": _q_p2_p3_clean,
        "p4_constant": _q_p4_constant,
        "p5_projection": _q_p5_projection,
        "clean_chain": _q_clean_chain,
        "f1_delivered": _q_f1_delivered,
        "f2_other": _q_f2_other,
        "c1_c3_counts": _q_c1_c3_counts,
        "s3_write_readback": _q_s3_write_readback,
        "s5_ddl": _q_s5_ddl,
        "o6_conf": _q_o6_conf,
        # -- r2-graded core analytics / sources: next-oldest evidence --
        "s_json_roundtrip": _q_json_roundtrip,
        "s_avro_roundtrip": _q_avro_roundtrip,
        "q_sql_api_twin": _q_sql_api_twin,
        "c_dataset_card": _q_dataset_card,
        "q_hilbert_buckets": _q_hilbert_buckets,
        "c_shard_assign": _q_shard_assign,
        "s_merge_upsert": _q_merge_upsert,
        "q_hash_sample": _q_hash_sample,
        "s_orc_roundtrip": _q_orc_roundtrip,
        "s_schema_evolution": _q_schema_evolution,
        "q_value_moving_1h": _q_moving_window,
        "q_stats_profile": _q_stats_profile,
        "q_grouping_sets": _q_grouping_sets,
        "d_fuzzy_pairs": _q_fuzzy_pairs,
        "q1_pricing_summary": _q_q1,
        "q3_top_revenue": _q_q3,
        "q5_nation_revenue": _q_q5,
        "q4_order_priority": _q_q4,
        "q6_forecast_revenue": _q_q6,
        "q10_returned_items": _q_q10,
        "q14_promo_revenue": _q_q14,
        "q18_large_volume": _q_q18,
        "q19_discounted_revenue": _q_q19,
        "q7_nation_trade": _q_q7,
        "q13_order_counts": _q_q13,
        "q15_top_supplier": _q_q15,
        "q17_small_qty_revenue": _q_q17,
        "q22_idle_rich": _q_q22,
        "q8_market_share": _q_q8,
        # ---- ~50-key budget line; below here: r2-r4 green, freshest
        # evidence last ----
        "q9_product_profit": _q_q9,
        "q12_ship_priority": _q_q12,
        "q_customers_no_orders": _q_anti,
        "q_top3_per_segment": _q_window_topk,
        "q_running_spend": _q_window_running,
        "q_events_hourly": _q_events_hourly,
        "q_distinct_users": _q_distinct_users,
        "q_props_extract": _q_props_extract,
        "q_rollup_revenue": _q_rollup,
        "q_cube_events": _q_cube,
        "q_top_words": _q_top_words,
        "q_custkeys_both": _q_intersect,
        "q_custkeys_only_open": _q_except,
        "q_balance_quartiles": _q_quartiles,
        "q_status_pivot": _q_status_pivot,
        "q_hourly_gapfill": _q_hourly_gapfill,
        # text analysis (M5) — r3 green
        "t_token_count": _q_token_count,
        "t_quality": _q_quality,
        "t_lang_id": _q_lang_id,
        "t_fingerprint": _q_fingerprint,
        "t_bpe_tokens": _q_bpe_tokens,
        "t_sentences": _q_sentences,
        "t_corpus_stats": _q_corpus_stats,
        "q_events_sliding": _q_events_sliding,
        "t_rolling_fp": _q_rolling_fp,
        "t_tfidf_top_term": _q_tfidf,
        # dedup (M5) — r3 green
        "d_dedup_exact": _q_dedup_exact,
        "d_dedup_groups": _q_dedup_groups,
        "d_near_dup_pairs": _q_near_dup_pairs,
        "d_dup_components": _q_dup_components,
        "d_simhash": _q_simhash,
        "d_embedding_dedup": _q_embedding_dedup,
        "v_embedding_pairs": _q_embedding_pairs,
        # joins Spark lacks natively (M5) — r3 green
        "j_asof_click_purchase": _q_asof_join,
        "j_asof_forward": _q_asof_forward,
        "j_range_click_purchase": _q_range_join,
        # similarity (M5) — r3 green
        "v_topk_exact": _q_topk_exact,
        "v_topk_scalable": _q_topk_exact,  # the same plan since r16
        "v_topk_ann": _q_topk_ann,
        "v_topk_ivf": _q_topk_ivf,
        "v_embedding_dims": _q_embedding_dims,
        "v_label_centroids": _q_label_centroids,
        # multimodal (M5) — r3 green
        "m_meta_filter": _q_multimodal_meta,
        "m_features": _q_multimodal_features,
        # r4 green (freshest evidence — last)
        "v_kmeans_assign": _q_kmeans_assign,
        "d_semantic_dedup": _q_semantic_dedup,
        "t_perplexity": _q_perplexity,
        "c_mix_sources": _q_mix_sources,
        "q_weighted_sample": _q_weighted_sample,
        "t_bpe_pairs": _q_bpe_pairs,
        "q_mad_outliers": _q_mad_outliers,
        "p_repair_ids": _q_repair_ids,
        "s_time_travel": _q_time_travel,
        "s_snapshot_diff": _q_snapshot_diff,
        "s_matview_refresh": _q_matview,
        "m_decode_gif": _q_decode_gif,
        "q_value_histogram": _q_histogram,
        "q_psi_drift": _q_psi_drift,
        "q_ks_drift": _q_ks_drift,
        "q_cusum_changepoint": _q_cusum_changepoint,
        "q_seasonal_naive": _q_seasonal_naive,
        "g_hits": _q_hits,
        "c_upsample": _q_upsample,
        "q_chi2_independence": _q_chi2_independence,
        "c_token_budget": _q_token_budget,
        "d_edit_pairs": _q_edit_pairs,
        "g_ppr": _q_ppr,
        "s_stream_topk": _q_stream_topk,
        "v_auc_rank": _q_auc,
        "q_decile_lift": _q_decile_lift,
        "q_bootstrap_ci": _q_bootstrap_ci,
        "q_survival_km": _q_survival_km,
        "t_rake_keywords": _q_rake_keywords,
        "t_pmi_pairs": _q_pmi_pairs,
        "q_autocorr": _q_autocorr,
        "q_attribution_mt": _q_attribution_mt,
        "q_neyman_sample": _q_neyman_sample,
        "v_cluster_purity": _q_cluster_purity,
        "t_vocab_profile": _q_vocab_profile,
        "q_price_elasticity": _q_price_elasticity,
        "c_split_leakage": _q_split_leakage,
        "d_minhash_estimate": _q_minhash_estimate,
        "q_dq_orders": _q_dq_orders,
        "v_quantize_int8": _q_quantize_int8,
        "m_resize": _q_multimodal_resize,
        "m_frames": _q_multimodal_frames,
        "s_stream_hourly": _q_stream_hourly,
        "s_stream_enrich": _q_stream_enrich,
        "s_stream_user_totals": _q_stream_user_totals,
        "s_stream_sessions": _q_stream_sessions,
        "s_compact_roundtrip": _q_compact_roundtrip,
        "d_prefix_join": _q_prefix_join,
        "d_prefix_join_slice": _q_prefix_join_slice,
        "d_containment": _q_containment,
        "q_corr_stats": _q_corr_stats,
        "d_fuzzy_decontam": _q_fuzzy_decontam,
        "q_zscore": _q_zscore,
        "c_chunks": _q_chunks,
        "c_redact_pii": _q_redact_pii,
        "c_split_assign": _q_split_assign,
        "c_contamination": _q_contamination,
        "c_pack_sequences": _q_pack,
        "c_shuffle_rank": _q_shuffle_rank,
        "c_prep_pipeline": _q_prep_pipeline,
        "t_bm25": _q_bm25,
        "d_simhash_pairs": _q_simhash_pairs,
        "q_approx_users": _q_approx_users,
        "q_session_window": _q_session_window,
        "q_zorder_buckets": _q_zorder_buckets,
        "q_key_skew": _q_key_skew,
        "q_incremental_rollup": _q_incremental_rollup,
        "q_sketch_rollup": _q_sketch_rollup,
        "q_cms_counts": _q_cms_counts,
        "q_kmv_overlap": _q_kmv_overlap,
        "q_bloom_semijoin": _q_bloom_semijoin,
        "t_repetition": _q_repetition,
        "s_media_source": _q_media_source,
        "q_unpivot": _q_unpivot,
        "q_approx_topk": _q_approx_topk,
        "m_decode_png": _q_decode_png,
        "m_phash": _q_phash,
        "m_decode_wav": _q_decode_wav,
        # -- new in round 8 --
        "t_lang_confusion": _q_lang_confusion,
        "d_blocked_linkage": _q_blocked_linkage,
        "d_blocked_linkage_salted": _q_blocked_linkage_salted,
        "v_ndcg_topk": _q_ndcg_topk,
        "m_scene_cuts": _q_scene_cuts,
        "q_mann_whitney": _q_mann_whitney,
        "v_centroid_drift": _q_centroid_drift,
        "q_did_estimate": _q_did_estimate,
        "v_ivfpq_topk": _q_ivfpq_topk,
        "t_readability": _q_readability,
        "t_scrub_pii": _q_scrub_pii,
        "t_gopher_rules": _q_gopher_rules,
        "q_cuped": _q_cuped,
        "q_welch_t": _q_welch_t,
        "q_srm_check": _q_srm_check,
    }
    # The driver grades the FIRST 50 keys each round; _GRADE_FIRST
    # (below) is this round's priority list — keys with changed
    # results/shape, never-graded keys, then the stalest grades from
    # GRADE_MANIFEST.json (r2/r3-era). Everything else keeps its
    # insertion order after the priority block.
    front = [k for k in _GRADE_FIRST if k in q]
    front_set = set(front)
    return {k: q[k] for k in front} | {
        k: v for k, v in q.items() if k not in front_set
    }


# ---------------------------------------------------------------------------
# DuckDB oracles. Note DuckDB regexp_replace needs the 'g' flag (Spark's
# replaces all matches by default); rounding mirrors the Spark side.
# ---------------------------------------------------------------------------

_STOPWORDS_SQL = "['the','a','of','and','to','in','is','it','that','for']"
# Mirror operators/text.py:tokens — split yields [''] on empty text, so
# filter phantom empty tokens out on the oracle side too.
_TOKENS = (
    r"list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')"
)
_NTOK = f"len({_TOKENS})"


def _lang_hits(words: list[str]) -> str:
    lst = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return (
        r"len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), "
        f"x -> list_contains({lst}, x)))"
    )


_LANGS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "es": ["el", "la", "de", "y", "los", "las", "un", "una", "del", "es"],
    "de": ["der", "die", "das", "und", "den", "von", "zu", "mit", "ist", "ein"],
}

_SHINGLES = (
    r"list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1), "
    r"i -> array_to_string(toks[i:i+2], ' ')))"
)


def _simhash_sql(bits: int = 32) -> str:
    """32-bit SimHash in DuckDB: same md5-derived token hashes, same
    sign-sum per bit as operators/dedup.py:with_simhash."""
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(th, "
        f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return (
        f"SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM ("
        "SELECT doc_id, list_transform("
        f"{_TOKENS}, "
        "t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)) AS th "
        "FROM documents)"
    )


_SESSION_ORACLE = (
    "WITH o AS (SELECT user_id, ts, event_id, value, "
    "CASE WHEN lag(ts) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id) IS NULL OR epoch(ts) - "
    "epoch(lag(ts) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id)) >= 1800 THEN 1 ELSE 0 END AS new_s "
    "FROM events), "
    "s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid "
    "FROM o) "
    "SELECT user_id, "
    "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, "
    "strftime(max(ts) + INTERVAL 30 MINUTE, "
    "'%Y-%m-%d %H:%M:%S') AS session_end, "
    "count(*) AS n_events, round(sum(value), 2) AS sum_value "
    "FROM s GROUP BY user_id, sid"
)


def _zorder_sql(a: str, b: str, bits: int) -> str:
    """Morton interleave of two SQL int expressions as a sum of
    disjoint-bit terms — the DuckDB restatement of
    operators/scale.py:zorder_key (OR == + when bit positions are
    disjoint)."""
    terms = []
    for j in range(bits):
        terms.append(f"((({a} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({b} >> {j}) & 1) << {2 * j + 1})")
    return "(" + " + ".join(terms) + ")"


def _quota_sql(src: str, key: str, share: str, rows: str, total: str) -> str:
    """The DuckDB twin of operators/corpus.py:_apportion: the CTEs
    ``sh, tot, t, b, lo, r, q`` split ``total`` over ``src`` (one row
    per ``key``) into integer quotas. ``share`` and ``rows`` are
    per-row expressions over ``src``; ``total`` is a constant or an
    aggregate over it. Same key-ordered left-fold normalizer
    (list_reduce seeds with the first share; the Spark fold's 0.0
    seed is bit-neutral), same fall-back to ``rows``-proportional
    targets when every share is 0, same (rem DESC, key) remainder
    order, a NULL key first in both orders. ``q`` holds ``key``,
    ``nr`` (the rows value) and ``quota``; join it back with
    ``IS NOT DISTINCT FROM`` so a NULL key keeps its quota."""
    return (
        f"sh AS (SELECT *, {rows} AS nr, {share} AS s FROM {src}), "
        f"tot AS (SELECT list_reduce(list(s ORDER BY {key} NULLS FIRST), "
        "(a, b) -> a + b) AS big_s, CAST(sum(nr) AS BIGINT) AS nn, "
        f"{total} AS total FROM sh), "
        f"t AS (SELECT {key}, nr, total, CASE WHEN big_s > 0 THEN "
        "CAST(total AS DOUBLE) * s / big_s ELSE "
        "CAST(total AS DOUBLE) * nr / nn END AS tgt FROM sh, tot), "
        f"b AS (SELECT {key}, nr, total, CAST(floor(tgt) AS BIGINT) "
        "AS base, tgt - floor(tgt) AS rem FROM t), "
        "lo AS (SELECT any_value(total) - CAST(sum(base) AS BIGINT) "
        "AS lft FROM b), "
        f"r AS (SELECT {key}, nr, base, row_number() OVER ("
        f"ORDER BY rem DESC, {key} NULLS FIRST) AS rr FROM b), "
        f"q AS (SELECT {key}, nr, base + CASE WHEN "
        "rr <= (SELECT lft FROM lo) THEN 1 ELSE 0 END AS quota FROM r)"
    )


def _stable_rank_sql(part: str, id_col: str, agg: str = "row_number()") -> str:
    """The DuckDB twin of operators/corpus.py:_stable_order: ``agg``
    over the per-``part`` engine-stable ``(md5(id), id)`` row order —
    the stable rank by default, or a running aggregate (the order is
    unique, so the default frame ends at the current row)."""
    return (
        f"{agg} OVER (PARTITION BY {part} ORDER BY "
        f"md5(CAST({id_col} AS VARCHAR)), {id_col})"
    )


def _cosine_topk_sql(prefix: str = "") -> str:
    """The DuckDB twin of operators/similarity.py:_probe + _rank_topk:
    exact cosine top-10 of every ``embeddings`` row for the queries
    ``vec_id < 5``, self-matches dropped, (cosine DESC, neighbor_id)
    order. ``prefix`` slices both vectors first (``[1:16]`` is
    ``truncated_topk``'s 16-dim prefix)."""
    return (
        "WITH q AS (SELECT vec_id AS query_id, "
        f"CAST(embedding{prefix} AS DOUBLE[]) AS qv "
        "FROM embeddings WHERE vec_id < 5), "
        "c AS (SELECT vec_id AS neighbor_id, "
        f"CAST(embedding{prefix} AS DOUBLE[]) AS cv FROM embeddings) "
        "SELECT query_id, rank, neighbor_id, round(sim, 6) AS cosine_sim FROM ("
        "SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim, "
        "row_number() OVER (PARTITION BY query_id ORDER BY "
        "list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank "
        "FROM q, c WHERE neighbor_id <> query_id) WHERE rank <= 10"
    )


# The recall-bounded ANN keys (v_topk_ann, v_pq_topk, v_ivfpq_topk)
# compute their mean recall@10 against the in-plan exact top-k and
# return (n_queries, recall_ok); the oracle pins both.
_RECALL_OK_SQL = (
    "SELECT count(*) AS n_queries, TRUE AS recall_ok "
    "FROM embeddings WHERE vec_id < 5"
)


def oracle_sql() -> dict[str, str]:
    hits = {lang: _lang_hits(ws) for lang, ws in _LANGS.items()}
    best = "greatest(" + ",".join(f"h_{lang}" for lang in _LANGS) + ")"
    lang_case = (
        "CASE "
        + " ".join(
            f"WHEN h_{lang} = {best} AND {best} > 0 THEN '{lang}'"
            for lang in _LANGS
        )
        + " ELSE 'und' END"
    )
    sql = {
        "s1_scan_count": "SELECT count(*) AS n_rows FROM lineitem",
        "p1_strip_colon": (
            "SELECT doc_id, regexp_replace(source || ':', ':$', '') AS items_one, "
            "regexp_replace(source || '::', ':$', '') AS items_two FROM documents"
        ),
        "p2_p3_clean": (
            "SELECT c_custkey, regexp_replace(lower(c_name), '[?%&]', '', 'g') AS name_clean, "
            "regexp_replace(lower(c_mktsegment), '[?%&]', '', 'g') AS segment_clean FROM customer"
        ),
        "p4_constant": "SELECT o_orderkey, '1' AS new_col FROM orders",
        "p5_projection": (
            "SELECT event_id AS id, event_type AS kind, value FROM events "
            "WHERE props IS NOT NULL"
        ),
        "clean_chain": (
            "SELECT doc_id, regexp_replace(lower(regexp_replace(text || ':', ':$', '')), "
            "'[?%&]', '', 'g') AS cleaned, '1' AS new_col FROM documents"
        ),
        "f1_delivered": (
            "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
            "WHERE o_orderstatus = 'F'"
        ),
        "f2_other": (
            "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
            "WHERE o_orderstatus <> 'F' OR o_orderstatus IS NULL"
        ),
        "c1_c3_counts": (
            "SELECT count(*) AS total, "
            "count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS delivered, "
            "count(CASE WHEN o_orderstatus <> 'F' OR o_orderstatus IS NULL THEN 1 END) AS other "
            "FROM orders"
        ),
        "s3_write_readback": (
            "SELECT o_orderstatus AS status, count(*) AS n, "
            "round(sum(o_totalprice), 2) AS sum_price FROM orders GROUP BY o_orderstatus"
        ),
        "c_shard_assign": (
            "WITH r AS (SELECT doc_id, n_chars, "
            "row_number() OVER (ORDER BY -n_chars, doc_id) - 1 AS r0 "
            "FROM documents) "
            "SELECT doc_id, n_chars, CAST(CASE WHEN (r0 // 8) % 2 = 0 "
            "THEN r0 % 8 ELSE 7 - r0 % 8 END AS INT) AS shard FROM r"
        ),
        # The SAME per-level rotate-and-accumulate recurrence as the
        # Spark fold, unrolled by recursion (UNION ALL — identical
        # (x,y) rows must each keep flowing). All-integer, bit-exact.
        "q_hilbert_buckets": (
            "WITH RECURSIVE pts AS (SELECT o_custkey % 256 AS x, "
            "o_orderkey % 256 AS y FROM orders), "
            "h(x, y, d, lvl) AS ("
            "SELECT x, y, CAST(0 AS BIGINT), 7 FROM pts "
            "UNION ALL "
            "SELECT "
            "CASE WHEN ((y >> lvl) & 1) = 0 THEN ("
            "CASE WHEN ((x >> lvl) & 1) = 1 "
            "THEN (1 << lvl) - 1 - y ELSE y END) ELSE x END, "
            "CASE WHEN ((y >> lvl) & 1) = 0 THEN ("
            "CASE WHEN ((x >> lvl) & 1) = 1 "
            "THEN (1 << lvl) - 1 - x ELSE x END) ELSE y END, "
            "d + (1 << lvl) * (1 << lvl) * "
            "xor(3 * ((x >> lvl) & 1), (y >> lvl) & 1), "
            "lvl - 1 FROM h WHERE lvl >= 0) "
            "SELECT d >> 8 AS h_bucket, count(*) AS n_rows, "
            "min(d) AS h_min, max(d) AS h_max "
            "FROM h WHERE lvl = -1 GROUP BY d >> 8"
        ),
        # One 1-row aggregate unpivoted; every value is an exact count
        # or an exact ratio of counts — engine-reproducible by design.
        "c_dataset_card": (
            "WITH a AS (SELECT count(*) AS n, "
            "count(DISTINCT source) AS src, "
            "count(DISTINCT lang) AS lg, "
            "count(DISTINCT md5(text)) AS uq, "
            "count(CASE WHEN lang = 'en' THEN 1 END) AS en, "
            "sum(n_chars) AS ch FROM documents) "
            "SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value FROM a "
            "UNION ALL SELECT 'n_sources', CAST(src AS DOUBLE) FROM a "
            "UNION ALL SELECT 'n_langs', CAST(lg AS DOUBLE) FROM a "
            "UNION ALL SELECT 'exact_dup_rate', "
            "1.0 - CAST(uq AS DOUBLE) / n FROM a "
            "UNION ALL SELECT 'en_share', CAST(en AS DOUBLE) / n FROM a "
            "UNION ALL SELECT 'mean_chars', CAST(ch AS DOUBLE) / n FROM a"
        ),
        "q_sql_api_twin": (
            "SELECT r.r_name AS region, count(*) AS n_orders, "
            "CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) "
            "AS DOUBLE) AS revenue "
            "FROM orders o "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "JOIN region r ON n.n_regionkey = r.r_regionkey "
            "WHERE o.o_orderstatus = 'F' GROUP BY r.r_name"
        ),
        # Avro readback parity: decimal-exact value sums + integer
        # microsecond timestamps, so codec loss would hash-mismatch.
        "s_avro_roundtrip": (
            "SELECT event_type, count(*) AS n, "
            "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) "
            "AS sum_value, "
            "max(epoch_us(ts)) AS max_ts_us "
            "FROM events GROUP BY event_type"
        ),
        "s_json_roundtrip": (
            "SELECT event_type, count(*) AS n, "
            "round(sum(value), 2) AS sum_value, "
            "max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts_sec "
            "FROM events GROUP BY event_type"
        ),
        "q_hash_sample": (
            "SELECT o_orderstatus, count(*) AS n, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
            "FROM orders WHERE CAST(concat('0x', "
            "substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 20 = 0 "
            "GROUP BY o_orderstatus"
        ),
        "s_merge_upsert": (
            "SELECT o_orderstatus, count(*) AS n, "
            "CAST(sum(CAST(CASE WHEN o_orderkey % 10 = 0 "
            "THEN o_totalprice + 10.0 ELSE o_totalprice END "
            "AS DECIMAL(18,2))) AS DOUBLE) AS total "
            "FROM orders GROUP BY o_orderstatus"
        ),
        "s_orc_roundtrip": (
            "SELECT c_mktsegment, count(*) AS n, "
            "round(sum(c_acctbal), 2) AS sum_bal "
            "FROM customer GROUP BY c_mktsegment"
        ),
        "s5_ddl": "SELECT 1 AS ok, 1 AS db_exists",
        "o6_conf": (
            "SELECT 'BQ_DATASET' AS key, 'food_orders' AS value "
            "UNION ALL SELECT 'PROJECT_ID', 'demo-project' "
            "UNION ALL SELECT 'URL', 'http://example.com/a=b' "
            "UNION ALL SELECT 'VERSION', 'v1'"
        ),
        "q1_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(sum(l_extendedprice*(1-l_discount)), 2) AS sum_disc_price, "
            "round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)), 2) AS sum_charge, "
            "round(avg(l_quantity), 6) AS avg_qty, "
            "round(avg(l_discount), 6) AS avg_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "q3_top_revenue": (
            "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, "
            "round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "GROUP BY o_orderkey, o_orderdate "
            "ORDER BY revenue DESC, o_orderkey LIMIT 10"
        ),
        "q5_nation_revenue": (
            "SELECT n_name, round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue, "
            "count(*) AS n_lineitems "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' GROUP BY n_name"
        ),
        "q4_order_priority": (
            "SELECT o_orderpriority, count(*) AS order_count FROM orders "
            "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey) "
            "GROUP BY o_orderpriority"
        ),
        "q6_forecast_revenue": (
            "SELECT round(sum(l_extendedprice*l_discount), 2) AS revenue, "
            "count(*) AS n_items FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
        ),
        "q10_returned_items": (
            "SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, n_name, revenue "
            "FROM (SELECT o_custkey, "
            "CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))), 2) "
            "AS DOUBLE) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE l_returnflag = 'R' "
            "AND o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-04-01' "
            "GROUP BY o_custkey) "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "ORDER BY revenue DESC, c_custkey LIMIT 20"
        ),
        "q14_promo_revenue": (
            "SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' "
            "THEN l_extendedprice*(1-l_discount) ELSE 0 END) "
            "/ sum(l_extendedprice*(1-l_discount)), 6) AS promo_pct, "
            "count(*) AS n_items "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1996-02-01'"
        ),
        "q18_large_volume": (
            "SELECT c_custkey, c_name, o_orderkey, "
            "strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, "
            "round(o_totalprice, 2) AS o_totalprice, total_qty "
            "FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty "
            "FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) "
            "JOIN orders ON o_orderkey = l_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "ORDER BY total_qty DESC, o_orderkey LIMIT 50"
        ),
        "q19_discounted_revenue": (
            "SELECT round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue, "
            "count(*) AS n_items "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 "
            "AND l_quantity BETWEEN 1 AND 20) "
            "OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30 "
            "AND l_quantity BETWEEN 10 AND 30) "
            "OR (p_brand = 'Brand#17' AND p_size BETWEEN 20 AND 50 "
            "AND l_quantity BETWEEN 20 AND 40)"
        ),
        "q7_nation_trade": (
            "SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, "
            "year(l_shipdate) AS ship_year, "
            "CAST(round(sum(CAST(l_extendedprice*(1-l_discount) "
            "AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue "
            "FROM lineitem "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation sn ON s_nationkey = sn.n_nationkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation cn ON c_nationkey = cn.n_nationkey "
            "WHERE sn.n_name IN ('NATION_3', 'NATION_7') "
            "AND cn.n_name IN ('NATION_3', 'NATION_7') "
            "AND sn.n_name <> cn.n_name "
            "GROUP BY 1, 2, 3"
        ),
        "q13_order_counts": (
            "SELECT c_count, count(*) AS custdist FROM ("
            "SELECT c_custkey, count(o_custkey) AS c_count "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
            "GROUP BY c_custkey) GROUP BY c_count"
        ),
        "q15_top_supplier": (
            "WITH r AS (SELECT l_suppkey, "
            "CAST(round(sum(CAST(l_extendedprice*(1-l_discount) "
            "AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) "
            "SELECT s_suppkey, s_name, total_revenue "
            "FROM r JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE total_revenue = (SELECT max(total_revenue) FROM r)"
        ),
        "q17_small_qty_revenue": (
            "WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand = 'Brand#4'), "
            "a AS (SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty "
            "FROM li GROUP BY l_partkey) "
            "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))) "
            "/ 7.0, 2) AS DOUBLE) AS avg_yearly, count(*) AS n_items "
            "FROM li JOIN a ON l_partkey = pk "
            "WHERE l_quantity < 0.2 * avg_qty"
        ),
        "q22_idle_rich": (
            "SELECT c_nationkey, count(*) AS numcust, "
            "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal "
            "FROM customer c WHERE c_acctbal > "
            "(SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0) "
            "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey "
            "AND o_orderdate >= TIMESTAMP '2001-01-01') "
            "GROUP BY c_nationkey"
        ),
        "q8_market_share": (
            "SELECT year(o_orderdate) AS order_year, "
            "round(CAST(sum(CASE WHEN n2.n_name = 'NATION_7' THEN "
            "CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) "
            "ELSE CAST(0 AS DECIMAL(18,4)) END) "
            "/ sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) "
            "AS DOUBLE), 6) AS mkt_share "
            "FROM lineitem "
            "JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO' "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation n2 ON s_nationkey = n2.n_nationkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n1 ON c_nationkey = n1.n_nationkey "
            "JOIN region ON n1.n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' GROUP BY 1"
        ),
        "q9_product_profit": (
            "SELECT n_name AS nation, year(o_orderdate) AS o_year, "
            "CAST(round(sum(CAST(l_extendedprice*(1-l_discount) "
            "AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit "
            "FROM lineitem "
            "JOIN part ON l_partkey = p_partkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "WHERE p_name LIKE '%widget%' GROUP BY 1, 2"
        ),
        "q12_ship_priority": (
            "SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 "
            "THEN 'fast' ELSE 'slow' END AS ship_bucket, "
            "count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') "
            "THEN 1 END) AS high_line_count, "
            "count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') "
            "THEN 1 END) AS low_line_count "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY 1"
        ),
        "q21_last_shipper": (
            "WITH per_supp AS ("
            "SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last "
            "FROM lineitem GROUP BY 1, 2), "
            "staged AS ("
            "SELECT l_orderkey, l_suppkey, supp_last, "
            "count(*) OVER (PARTITION BY l_orderkey) AS n_supps, "
            "max(supp_last) OVER (PARTITION BY l_orderkey) AS order_last "
            "FROM per_supp), "
            "flagged AS ("
            "SELECT l_orderkey, l_suppkey FROM ("
            "SELECT *, count(CASE WHEN supp_last = order_last THEN 1 END) "
            "OVER (PARTITION BY l_orderkey) AS n_latest FROM staged) "
            "WHERE n_supps > 1 AND n_latest = 1 AND supp_last = order_last) "
            "SELECT s_name, count(*) AS numwait "
            "FROM flagged "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE n_name = 'NATION_3' "
            "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"
        ),
        "q2_min_cost_supplier": (
            "WITH cost AS ("
            "SELECT l_partkey, l_suppkey, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) "
            "/ CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
            "AS supply_cost "
            "FROM lineitem GROUP BY 1, 2), "
            "supp AS ("
            "SELECT s_suppkey, s_name, s_acctbal, n_name "
            "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'EUROPE'), "
            "cheapest AS ("
            "SELECT * FROM ("
            "SELECT cost.*, supp.*, "
            "min(supply_cost) OVER (PARTITION BY l_partkey) AS min_cost "
            "FROM cost JOIN supp ON l_suppkey = s_suppkey) "
            "WHERE supply_cost = min_cost) "
            "SELECT s_acctbal, s_name, n_name, p_partkey, p_size, "
            "supply_cost "
            "FROM cheapest JOIN part ON l_partkey = p_partkey "
            "WHERE p_type = 'LARGE' AND p_size >= 10 "
            "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"
        ),
        "q11_important_stock": (
            "WITH per_part AS ("
            "SELECT l_partkey, "
            "sum(CAST(l_extendedprice * (1 - l_discount) "
            "AS DECIMAL(18,4))) AS part_value_dec "
            "FROM lineitem WHERE l_suppkey IN ("
            "SELECT s_suppkey FROM supplier "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE n_name = 'NATION_2') "
            "GROUP BY 1) "
            "SELECT l_partkey, "
            "CAST(round(part_value_dec, 2) AS DOUBLE) AS part_value "
            "FROM per_part "
            "WHERE CAST(part_value_dec AS DOUBLE) > "
            "(SELECT CAST(sum(part_value_dec) AS DOUBLE) / count(*) "
            "FROM per_part) * 2.0"
        ),
        "q16_supplier_attrs": (
            "WITH links AS ("
            "SELECT DISTINCT p_brand, p_type, p_size, l_suppkey "
            "FROM lineitem "
            "JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand <> 'Brand#1' "
            "AND p_type NOT IN ('PROMO', 'ECONOMY') "
            "AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34) "
            "AND l_suppkey NOT IN ("
            "SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) "
            "SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt "
            "FROM links GROUP BY 1, 2, 3 "
            "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"
        ),
        "q20_promo_suppliers": (
            "WITH per_supp AS ("
            "SELECT l_suppkey, "
            "sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec "
            "FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '2000-01-01' "
            "AND l_shipdate < TIMESTAMP '2001-01-01' "
            "AND l_partkey IN ("
            "SELECT p_partkey FROM part WHERE p_name LIKE 'red%') "
            "GROUP BY 1), "
            "avg_q AS (SELECT CAST(sum(qty_dec) AS DOUBLE) / count(*) "
            "AS avg_qty FROM per_supp) "
            "SELECT s_name, s_acctbal "
            "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
            "WHERE n_name = 'NATION_8' AND s_suppkey IN ("
            "SELECT l_suppkey FROM per_supp, avg_q "
            "WHERE CAST(qty_dec AS DOUBLE) > avg_qty * 0.5) "
            "ORDER BY s_name"
        ),
        "q_stats_profile": (
            "SELECT l_returnflag, count(*) AS n_lines, "
            "round(corr(CAST(l_quantity AS DOUBLE), "
            "CAST(l_extendedprice AS DOUBLE)), 6) AS corr_qty_price, "
            "round(covar_pop(CAST(l_quantity AS DOUBLE), "
            "CAST(l_extendedprice AS DOUBLE)), 4) AS covar_qty_price, "
            "round(stddev_pop(CAST(l_quantity AS DOUBLE)), 6) AS stddev_qty, "
            "round(var_pop(CAST(l_extendedprice AS DOUBLE)), 2) AS var_price, "
            "round(avg(CAST(l_quantity AS DOUBLE)), 6) AS avg_qty "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "q_grouping_sets": (
            "SELECT l_returnflag, l_linestatus, "
            "GROUPING(l_returnflag, l_linestatus) AS level_id, "
            "CAST(round(sum(CAST(l_extendedprice*(1-l_discount) "
            "AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue, "
            "count(*) AS n_lines "
            "FROM lineitem GROUP BY GROUPING SETS "
            "((l_returnflag, l_linestatus), (l_returnflag), ())"
        ),
        "d_fuzzy_pairs": (
            "WITH base AS (SELECT p_partkey AS fid, p_name AS fname, "
            r"regexp_split_to_array(trim(p_name), '\s+')[-1] AS fblock "
            "FROM part) "
            "SELECT a.fid AS id_a, b.fid AS id_b, "
            "a.fname AS name_a, b.fname AS name_b, "
            "levenshtein(a.fname, b.fname) AS edit_dist "
            "FROM base a JOIN base b "
            "ON a.fblock = b.fblock AND a.fid < b.fid "
            "WHERE levenshtein(a.fname, b.fname) <= 3"
        ),
        "q_customers_no_orders": (
            "SELECT c_custkey, c_name, c_mktsegment FROM customer "
            "WHERE NOT EXISTS (SELECT 1 FROM orders "
            "WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)"
        ),
        "q_top3_per_segment": (
            "SELECT c_mktsegment, rank_in_segment, c_custkey, c_name, c_acctbal FROM ("
            "SELECT c_mktsegment, c_custkey, c_name, c_acctbal, "
            "row_number() OVER (PARTITION BY c_mktsegment "
            "ORDER BY c_acctbal DESC, c_custkey) AS rank_in_segment FROM customer) "
            "WHERE rank_in_segment <= 3"
        ),
        "q_running_spend": (
            "SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, "
            "round(sum(o_totalprice) OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderdate, o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend "
            "FROM orders"
        ),
        "q_events_hourly": (
            "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, "
            "event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value "
            "FROM events GROUP BY date_trunc('hour', ts), event_type"
        ),
        "q_distinct_users": (
            "SELECT event_type, count(DISTINCT user_id) AS n_users, "
            "count(*) AS n_events FROM events GROUP BY event_type"
        ),
        "q_props_extract": (
            "SELECT event_id, event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k "
            "FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50"
        ),
        "q_rollup_revenue": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue, "
            "count(*) AS n_items FROM lineitem "
            "GROUP BY ROLLUP(l_returnflag, l_linestatus)"
        ),
        "q_cube_events": (
            "SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
            "count(*) AS n_events, round(sum(value), 2) AS sum_value "
            "FROM events GROUP BY CUBE(event_type, strftime(ts, '%Y-%m-%d'))"
        ),
        # q_approx_users: HLL sketch — engine-specific, no SQL oracle;
        # accuracy vs exact pinned in tests/test_analytics_extra.py.
        "q_top_words": (
            "SELECT word, count(*) AS n FROM ("
            f"SELECT unnest({_TOKENS}) AS word "
            "FROM documents) GROUP BY word ORDER BY n DESC, word LIMIT 20"
        ),
        # Oracle is the PLAIN inequality join over all session pairs
        # — bucketing must be result-invariant (like salting); sum of
        # BIGINT overlaps cast back from HUGEINT.
        "j_interval_overlap": (
            "WITH o AS (SELECT user_id, ts, event_id, "
            "CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
            "OR CAST(floor(epoch(ts)) AS BIGINT) "
            "- lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) > 1800 "
            "THEN 1 ELSE 0 END AS is_new FROM events), "
            "s AS (SELECT user_id, ts, sum(is_new) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid "
            "FROM o), "
            "g AS (SELECT user_id, epoch_us(min(ts)) AS st, "
            "epoch_us(max(ts)) AS en FROM s GROUP BY user_id, sid) "
            "SELECT a.user_id AS user_id_a, b.user_id AS user_id_b, "
            "count(*) AS n_overlaps, "
            "CAST(sum(least(a.en, b.en) - greatest(a.st, b.st)) "
            "AS BIGINT) AS total_overlap_us "
            "FROM g a JOIN g b ON a.user_id < b.user_id "
            "AND a.st <= b.en AND b.st <= a.en "
            "GROUP BY a.user_id, b.user_id"
        ),
        # Sweep-line concurrency: same gaps-and-islands sessions as
        # q_sessionize, boundaries +1/-1, running sum ordered
        # (t, +1-before--1); hourly max is permutation-invariant
        # under equal-(t,delta) ties, so both engines agree exactly.
        "q_session_concurrency": (
            "WITH o AS (SELECT user_id, ts, event_id, "
            "CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
            "OR CAST(floor(epoch(ts)) AS BIGINT) "
            "- lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) > 1800 "
            "THEN 1 ELSE 0 END AS is_new FROM events), "
            "s AS (SELECT user_id, ts, sum(is_new) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid "
            "FROM o), "
            "g AS (SELECT epoch_us(min(ts)) AS st, epoch_us(max(ts)) AS en "
            "FROM s GROUP BY user_id, sid), "
            "b AS (SELECT st AS t, CAST(1 AS BIGINT) AS d FROM g "
            "UNION ALL SELECT en, CAST(-1 AS BIGINT) FROM g), "
            "p AS (SELECT t, sum(d) OVER (ORDER BY t, d DESC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc "
            "FROM b) "
            "SELECT t // 3600000000 AS hour_bucket, "
            "CAST(max(conc) AS BIGINT) AS max_concurrency, "
            "count(*) AS n_boundaries FROM p GROUP BY t // 3600000000"
        ),
        # Integer month index (year*12+month) keeps cohort/age exact;
        # revenue decimal-summed before the 2-decimal round.
        "q_cohort_ltv": (
            "WITH om AS (SELECT o_custkey, o_totalprice, "
            "year(CAST(o_orderdate AS DATE)) * 12 "
            "+ month(CAST(o_orderdate AS DATE)) AS m FROM orders), "
            "f AS (SELECT o_custkey, min(m) AS cohort FROM om "
            "GROUP BY o_custkey) "
            "SELECT CAST(cohort AS BIGINT) AS cohort_month_idx, "
            "CAST(om.m - f.cohort AS BIGINT) AS age_months, "
            "CAST(count(DISTINCT om.o_custkey) AS BIGINT) "
            "AS n_active_customers, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) "
            "AS DOUBLE) AS revenue "
            "FROM om JOIN f ON om.o_custkey = f.o_custkey "
            "GROUP BY cohort, om.m - f.cohort"
        ),
        "q_sessionize": (
            "SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, "
            "count(*) AS n_events FROM ("
            "SELECT user_id, sum(is_new) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id "
            "FROM (SELECT user_id, ts, event_id, "
            "CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
            "OR CAST(floor(epoch(ts)) AS BIGINT) "
            "- lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) > 1800 "
            "THEN 1 ELSE 0 END AS is_new FROM events)) "
            "GROUP BY user_id"
        ),
        "q_custkeys_both": (
            "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' "
            "INTERSECT "
            "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'"
        ),
        "q_custkeys_only_open": (
            "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' "
            "EXCEPT "
            "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'"
        ),
        "q_balance_quartiles": (
            "SELECT c_mktsegment, "
            "round(quantile_cont(c_acctbal, 0.25), 6) AS p25, "
            "round(quantile_cont(c_acctbal, 0.5), 6) AS p50, "
            "round(quantile_cont(c_acctbal, 0.75), 6) AS p75, "
            "count(*) AS n_customers FROM customer GROUP BY c_mktsegment"
        ),
        "q_ntile_buckets": (
            "SELECT bal_quartile, count(*) AS n, "
            "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal "
            "FROM (SELECT c_acctbal, "
            "ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS bal_quartile "
            "FROM customer) GROUP BY bal_quartile"
        ),
        "s_schema_evolution": (
            "SELECT event_type, count(*) AS n, "
            "count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_with_uid, "
            "round(sum(value), 2) AS sum_value "
            "FROM events GROUP BY event_type"
        ),
        "q_hourly_gapfill": (
            "WITH obs AS (SELECT event_type, date_trunc('hour', ts) AS hour, "
            "count(*) AS n_events, round(sum(value), 2) AS sum_value "
            "FROM events GROUP BY 1, 2), "
            "spine AS (SELECT event_type, unnest(generate_series("
            "date_trunc('hour', min(ts)), date_trunc('hour', max(ts)), "
            "INTERVAL 1 HOUR)) AS hour FROM events GROUP BY event_type) "
            "SELECT s.event_type, CAST(floor(epoch(s.hour)) AS BIGINT) AS hour_sec, "
            "COALESCE(o.n_events, 0) AS n_events, "
            "COALESCE(o.sum_value, 0.0) AS sum_value "
            "FROM spine s LEFT JOIN obs o "
            "ON s.event_type = o.event_type AND s.hour = o.hour"
        ),
        # Same struct-free shape via IGNORE NULLS window carries; hour
        # indexes are exact integers and values exact decimal sums, so
        # the interpolation expression is bit-identical across engines.
        "q_hourly_interpolate": (
            "WITH obs AS (SELECT event_type, date_trunc('hour', ts) AS hour, "
            "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val "
            "FROM events GROUP BY 1, 2), "
            "spine AS (SELECT event_type, unnest(generate_series("
            "date_trunc('hour', min(ts)), date_trunc('hour', max(ts)), "
            "INTERVAL 1 HOUR)) AS hour FROM events GROUP BY event_type), "
            "filled AS (SELECT s.event_type, "
            "CAST(epoch_us(s.hour) // 3600000000 AS BIGINT) AS hour_idx, "
            "o.val FROM spine s LEFT JOIN obs o "
            "ON s.event_type = o.event_type AND s.hour = o.hour), "
            "carried AS (SELECT event_type, hour_idx, val, "
            "last_value(CASE WHEN val IS NOT NULL THEN hour_idx END "
            "IGNORE NULLS) OVER wb AS pi, "
            "last_value(CASE WHEN val IS NOT NULL THEN val END "
            "IGNORE NULLS) OVER wb AS pv, "
            "first_value(CASE WHEN val IS NOT NULL THEN hour_idx END "
            "IGNORE NULLS) OVER wf AS ni, "
            "first_value(CASE WHEN val IS NOT NULL THEN val END "
            "IGNORE NULLS) OVER wf AS nv "
            "FROM filled WINDOW "
            "wb AS (PARTITION BY event_type ORDER BY hour_idx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
            "wf AS (PARTITION BY event_type ORDER BY hour_idx "
            "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) "
            "SELECT event_type, hour_idx, val IS NOT NULL AS observed, "
            "CASE WHEN val IS NOT NULL THEN val "
            "WHEN pi IS NULL THEN nv "
            "WHEN ni IS NULL THEN pv "
            "ELSE pv + (nv - pv) * (hour_idx - pi) / (ni - pi) END "
            "AS value_filled FROM carried"
        ),
        "q_status_pivot": (
            "SELECT o_orderpriority, "
            "count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f, "
            "count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o, "
            "count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p "
            "FROM orders GROUP BY o_orderpriority"
        ),
        "q_value_moving_1h": (
            "SELECT event_id, user_id, "
            "CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, "
            "round(sum(value) OVER w, 2) AS value_1h, "
            "count(*) OVER w AS n_events_1h "
            "FROM events WINDOW w AS (PARTITION BY user_id "
            "ORDER BY CAST(floor(epoch(ts)) AS BIGINT) "
            "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"
        ),
        "t_token_count": (
            f"SELECT doc_id, CAST({_NTOK} AS BIGINT) AS n_tokens FROM documents"
        ),
        "t_quality": (
            "SELECT doc_id, n_chars_q, n_tokens, "
            "round(mean_token_len, 6) AS mean_token_len, "
            "round(punct_ratio, 6) AS punct_ratio, "
            "round(stopword_ratio, 6) AS stopword_ratio, "
            "round(least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.4 "
            " + (1.0 - least(punct_ratio*5.0, 1.0))*0.3 "
            " + least(stopword_ratio*5.0, 1.0)*0.3, 6) AS quality_score "
            "FROM ("
            "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_q, "
            f"CAST({_NTOK} AS BIGINT) AS n_tokens, "
            rf"CASE WHEN {_NTOK} > 0 THEN CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)/{_NTOK} ELSE 0.0 END AS mean_token_len, "
            r"CASE WHEN length(text)=0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE)/length(text) END AS punct_ratio, "
            f"CASE WHEN {_NTOK} > 0 THEN CAST({_lang_hits(_LANGS['en'])} AS DOUBLE)/{_NTOK} ELSE 0.0 END AS stopword_ratio "
            "FROM documents)"
        ),
        "t_lang_id": (
            f"SELECT doc_id, {lang_case} AS lang_pred FROM ("
            "SELECT doc_id, "
            + ", ".join(f"{hits[lang]} AS h_{lang}" for lang in _LANGS)
            + " FROM documents)"
        ),
        # Same stopword-hit argmax as t_lang_id; gold_frac is a raw
        # exact-integer quotient (bit-identical, no rounding).
        "t_lang_confusion": (
            "WITH p AS (SELECT lang AS lang_gold, "
            f"{lang_case} AS lang_pred FROM ("
            "SELECT lang, "
            + ", ".join(f"{hits[lang]} AS h_{lang}" for lang in _LANGS)
            + " FROM documents)), "
            "c AS (SELECT lang_gold, lang_pred, "
            "CAST(count(*) AS BIGINT) AS n_docs FROM p GROUP BY 1, 2) "
            "SELECT lang_gold, lang_pred, n_docs, "
            "CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER ("
            "PARTITION BY lang_gold) AS DOUBLE) AS gold_frac FROM c"
        ),
        # Blocked 1-NN record linkage: same one-deletion corruption,
        # same (nation, segment) blocks, same (dist, id) argmin.
        "d_blocked_linkage": (
            "WITH dirty AS (SELECT c_nationkey, c_mktsegment, "
            "c_custkey AS rec_id, "
            "substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT)) || "
            "substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2) "
            "AS dn FROM customer), "
            "cand AS (SELECT d.rec_id, c.c_custkey AS matched_id, "
            "levenshtein(d.dn, c.c_name) AS dist, "
            "row_number() OVER (PARTITION BY d.rec_id ORDER BY "
            "levenshtein(d.dn, c.c_name), c.c_custkey) AS rn "
            "FROM dirty d JOIN customer c "
            "ON d.c_nationkey = c.c_nationkey "
            "AND d.c_mktsegment = c.c_mktsegment) "
            "SELECT rec_id, matched_id, CAST(dist AS BIGINT) AS dist, "
            "CAST(CASE WHEN matched_id = rec_id THEN 1 ELSE 0 END "
            "AS INT) AS is_correct FROM cand WHERE rn = 1"
        ),
        # Same vowel-group syllable heuristic; ratios are raw
        # exact-integer quotients, the linear combination applies the
        # same literals in the same order — bit-identical, unrounded.
        "t_readability": (
            "WITH b AS (SELECT doc_id, "
            f"CAST({_NTOK} AS BIGINT) AS n_words, "
            "CAST(len(list_filter(list_transform("
            "string_split(text, '.'), p -> trim(p)), x -> x <> '')) "
            "AS BIGINT) AS n_sentences, "
            f"CAST(list_sum(list_prepend(0, list_transform({_TOKENS}, "
            "t -> greatest(1, len(regexp_extract_all(lower(t), "
            "'[aeiouy]+')))))) AS BIGINT) AS n_syllables "
            "FROM documents) "
            "SELECT doc_id, n_words, n_sentences, n_syllables, "
            "CASE WHEN n_sentences > 0 THEN "
            "CAST(n_words AS DOUBLE) / n_sentences END "
            "AS words_per_sentence, "
            "CASE WHEN n_words > 0 THEN "
            "CAST(n_syllables AS DOUBLE) / n_words END "
            "AS syllables_per_word, "
            "206.835 - 1.015 * (CASE WHEN n_sentences > 0 THEN "
            "CAST(n_words AS DOUBLE) / n_sentences END) "
            "- 84.6 * (CASE WHEN n_words > 0 THEN "
            "CAST(n_syllables AS DOUBLE) / n_words END) AS flesch "
            "FROM b"
        ),
        "t_fingerprint": (
            "SELECT doc_id, md5(text) AS fp_md5, "
            r"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_norm "
            "FROM documents"
        ),
        "t_bpe_tokens": (
            "SELECT doc_id, len(regexp_extract_all(text, "
            r"'''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9'']+|\s+'"
            f")) AS n_bpe, {_NTOK} AS n_ws FROM documents"
        ),
        "t_corpus_stats": (
            "SELECT count(*) AS n_docs, min(n) AS min_tokens, "
            "max(n) AS max_tokens, round(avg(n), 6) AS avg_tokens, "
            "round(quantile_cont(n, 0.5), 6) AS p50_tokens, "
            "round(quantile_cont(n, 0.95), 6) AS p95_tokens "
            f"FROM (SELECT {_NTOK} AS n FROM documents)"
        ),
        # each event belongs to the 2h windows starting at its hour and
        # the hour before — expand membership, then one aggregation
        "q_events_sliding": (
            "SELECT CAST(floor(epoch(s)) AS BIGINT) AS win_start_sec, "
            "event_type, count(*) AS n_events, "
            "round(sum(value), 2) AS sum_value FROM ("
            "SELECT date_trunc('hour', ts) AS s, event_type, value FROM events "
            "UNION ALL SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, "
            "event_type, value FROM events) GROUP BY 1, 2"
        ),
        "t_sentences": (
            "SELECT doc_id, generate_subscripts(l, 1) - 1 AS sentence_idx, "
            "unnest(l) AS sentence FROM (SELECT doc_id, "
            "list_filter(list_transform(string_split(text, '.'), p -> trim(p)), "
            "x -> x <> '') AS l FROM documents)"
        ),
        "t_rolling_fp": (
            "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform({_TOKENS}, "
            "t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT))), "
            "(acc, x) -> (acc * 1000003 + x) % 2147483647) AS rolling_fp "
            "FROM documents"
        ),
        "t_tfidf_top_term": (
            "WITH d AS (SELECT doc_id, "
            f"{_TOKENS} AS toks FROM documents), "
            "tok AS (SELECT doc_id, unnest(toks) AS term, len(toks) AS n_tokens FROM d), "
            "tf AS (SELECT doc_id, term, "
            "CAST(count(*) AS DOUBLE) / any_value(n_tokens) AS tf "
            "FROM tok GROUP BY doc_id, term), "
            "dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term), "
            "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents) "
            "SELECT doc_id, term_rank, term AS top_term, tfidf FROM ("
            "SELECT tf.doc_id, tf.term, "
            "round(tf.tf * ln(n.n / dfx.df), 6) AS tfidf, "
            "row_number() OVER (PARTITION BY tf.doc_id "
            "ORDER BY tf.tf * ln(n.n / dfx.df) DESC, tf.term) AS term_rank "
            "FROM tf JOIN dfx USING (term), n) WHERE term_rank <= 1"
        ),
        "d_dedup_exact": (
            "SELECT doc_id, lang, source FROM documents "
            "WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))"
        ),
        "d_dedup_groups": (
            "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents "
            "GROUP BY md5(text)"
        ),
        "d_near_dup_pairs": (
            "WITH sh AS (SELECT doc_id, "
            f"{_SHINGLES} AS s "
            f"FROM (SELECT doc_id, {_TOKENS} AS toks "
            "FROM documents)) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "/ len(list_distinct(a.s || b.s)), 6) AS jaccard "
            "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "/ len(list_distinct(a.s || b.s)) >= 0.8"
        ),
        # pairs CTE = the d_near_dup_pairs oracle; closure via recursive
        # CTE reachability, component = min reachable id (matches the
        # Spark min-label propagation fixpoint exactly)
        "d_dup_components": (
            "WITH RECURSIVE sh AS (SELECT doc_id, "
            f"{_SHINGLES} AS s "
            f"FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents)), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "/ len(list_distinct(a.s || b.s)) >= 0.8), "
            "e AS (SELECT id_a AS s, id_b AS d FROM p "
            "UNION ALL SELECT id_b, id_a FROM p), "
            "reach(src, node) AS ("
            "SELECT doc_id, doc_id FROM documents "
            "UNION "
            "SELECT r.src, e.d FROM reach r JOIN e ON r.node = e.s) "
            "SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS component "
            "FROM reach GROUP BY src"
        ),
        "d_simhash": _simhash_sql(),
        "d_embedding_dedup": (
            "SELECT vec_id, label FROM embeddings e WHERE NOT EXISTS ("
            "SELECT 1 FROM embeddings b WHERE b.vec_id < e.vec_id "
            "AND round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), "
            "CAST(e.embedding AS DOUBLE[])), 6) >= 0.35)"
        ),
        "v_label_centroids": (
            "SELECT label, dim, round(avg(v), 6) AS centroid_v, "
            "count(*) AS n_vectors FROM ("
            "SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, "
            "CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings) "
            "GROUP BY label, dim"
        ),
        # Per-cohort centroids round to 6 BEFORE the cosine (the
        # v_label_centroids float-sum rule), so both engines fold the
        # cosine over identical inputs in identical dim order.
        "v_centroid_drift": (
            "WITH pd AS (SELECT label, CAST(vec_id % 2 AS INT) AS half, "
            "generate_subscripts(embedding, 1) - 1 AS dim, "
            "CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), "
            "c AS (SELECT label, half, dim, round(avg(v), 6) AS cv, "
            "CAST(count(*) AS BIGINT) AS n FROM pd "
            "GROUP BY label, half, dim), "
            "ce AS (SELECT label, half, max(n) AS n, "
            "list(cv ORDER BY dim) AS cvs FROM c GROUP BY label, half) "
            "SELECT a.label, a.n AS n_a, b.n AS n_b, "
            "round(list_cosine_similarity(a.cvs, b.cvs), 6) "
            "AS drift_cosine FROM ce a JOIN ce b ON a.label = b.label "
            "AND a.half = 0 AND b.half = 1"
        ),
        "v_embedding_pairs": (
            "SELECT id_a, id_b, cosine_sim FROM ("
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])), 6) AS cosine_sim "
            "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id) "
            "WHERE cosine_sim >= 0.35"
        ),
        # Spark normalizes-then-dots, DuckDB dots-then-divides: same
        # value to well past 6 decimals; round(…, 6) absorbs the rest.
        "v_kmeans_assign": (
            "WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv "
            "FROM embeddings WHERE vec_id < 8), "
            "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev "
            "FROM embeddings), "
            "s AS (SELECT vec_id, cid, list_cosine_similarity(ev, cv) AS sim, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY "
            "list_cosine_similarity(ev, cv) DESC, cid) AS rk FROM v, c) "
            "SELECT vec_id, cid AS cluster_id, round(sim, 6) AS cosine_sim "
            "FROM s WHERE rk = 1"
        ),
        "d_semantic_dedup": (
            "WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv "
            "FROM embeddings WHERE vec_id < 8), "
            "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev "
            "FROM embeddings), "
            "a AS (SELECT vec_id, cid AS cluster_id FROM ("
            "SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id "
            "ORDER BY list_cosine_similarity(ev, cv) DESC, cid) AS rk "
            "FROM v, c) WHERE rk = 1), "
            "drp AS (SELECT DISTINCT x.vec_id FROM a x "
            "JOIN a y ON x.cluster_id = y.cluster_id AND y.vec_id < x.vec_id "
            "JOIN v vx ON vx.vec_id = x.vec_id "
            "JOIN v vy ON vy.vec_id = y.vec_id "
            "WHERE round(list_cosine_similarity(vx.ev, vy.ev), 6) >= 0.35) "
            "SELECT vec_id, cluster_id FROM a "
            "WHERE vec_id NOT IN (SELECT vec_id FROM drp)"
        ),
        "t_perplexity": (
            "WITH toks AS (SELECT doc_id, "
            f"{_TOKENS} AS toks FROM documents), "
            "occ AS (SELECT doc_id, unnest(list_transform("
            "range(1, len(toks)), "
            "i -> {'w1': toks[i], 'w2': toks[i+1]})) AS bg "
            "FROM toks WHERE len(toks) >= 2), "
            "o2 AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM occ), "
            "bi AS (SELECT w1, w2, count(*) AS cb FROM o2 GROUP BY w1, w2), "
            "uni AS (SELECT w1, count(*) AS cu FROM ("
            "SELECT unnest(toks) AS w1 FROM toks) GROUP BY w1), "
            "vv AS (SELECT count(*) AS v FROM uni), "
            "sc AS (SELECT doc_id, count(*) AS n_bigrams, "
            "round(avg(ln(cu + v) - ln(cb + 1)), 6) AS cross_entropy "
            "FROM o2 JOIN bi USING (w1, w2) JOIN uni USING (w1) "
            "CROSS JOIN vv GROUP BY doc_id) "
            "SELECT t.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams, "
            "sc.cross_entropy FROM toks t LEFT JOIN sc USING (doc_id)"
        ),
        "s_matview_refresh": (
            "SELECT o_orderstatus, count(*) AS n, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) + "
            "CASE WHEN o_orderkey % 10 = 0 THEN CAST(10.00 AS DECIMAL(18,2)) "
            "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total "
            "FROM orders WHERE o_orderkey % 97 <> 0 GROUP BY o_orderstatus"
        ),
        "s_snapshot_diff": (
            "SELECT 'delete' AS change, count(*) AS n FROM orders "
            "WHERE o_orderkey % 97 = 0 "
            "UNION ALL SELECT 'update', count(*) FROM orders "
            "WHERE o_orderkey % 97 <> 0 AND o_orderkey % 10 = 0 "
            "UNION ALL SELECT 'unchanged', count(*) FROM orders "
            "WHERE o_orderkey % 97 <> 0 AND o_orderkey % 10 <> 0 "
            "UNION ALL SELECT 'insert', 3"
        ),
        "q_dq_orders": (
            "WITH v AS ("
            "SELECT 'not_null(o_orderkey)' AS rule, 'o_orderkey' AS \"column\", "
            "CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_violations FROM orders "
            "UNION ALL SELECT 'not_null(o_custkey)', 'o_custkey', "
            "CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM orders "
            "UNION ALL SELECT 'in_range(o_totalprice)', 'o_totalprice', "
            "CAST(sum(CASE WHEN NOT coalesce(o_totalprice >= 0.0 AND "
            "o_totalprice <= 250000.0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM orders "
            "UNION ALL SELECT 'in_set(o_orderstatus)', 'o_orderstatus', "
            "CAST(sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), "
            "FALSE) THEN 1 ELSE 0 END) AS BIGINT) FROM orders "
            "UNION ALL SELECT 'matches(o_orderpriority)', 'o_orderpriority', "
            "CAST(sum(CASE WHEN NOT coalesce(regexp_matches(o_orderpriority, "
            "'^[1-5]-[A-Z ]+$'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM orders "
            "UNION ALL SELECT 'unique(o_orderkey)', 'o_orderkey', "
            "CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM ("
            "SELECT o_orderkey, count(*) AS n FROM orders "
            "WHERE o_orderkey IS NOT NULL "
            "GROUP BY o_orderkey)) "
            "SELECT rule, \"column\", n_violations, "
            "n_violations = 0 AS pass FROM v"
        ),
        "s_time_travel": (
            "SELECT 1 AS version, count(*) AS n_rows, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
            "AS total FROM orders "
            "UNION ALL "
            "SELECT 2 AS version, count(*) AS n_rows, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) + "
            "CASE WHEN o_orderkey % 10 = 0 THEN CAST(10.00 AS DECIMAL(18,2)) "
            "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total "
            "FROM orders"
        ),
        "q_retention": (
            "WITH c AS (SELECT user_id, CAST(min(ts) AS DATE) AS cday "
            "FROM events WHERE event_type = 'signup' GROUP BY user_id), "
            "a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day "
            "FROM events) "
            "SELECT strftime(cday, '%Y-%m-%d') AS cohort_day, "
            "CAST(date_diff('day', cday, day) AS INT) AS day_offset, "
            "count(DISTINCT a.user_id) AS n_users "
            "FROM a JOIN c ON c.user_id = a.user_id "
            "WHERE date_diff('day', cday, day) >= 0 "
            "GROUP BY cohort_day, day_offset"
        ),
        "q_event_transitions": (
            "SELECT src, dst, n FROM ("
            "SELECT src, dst, count(*) AS n FROM ("
            "SELECT event_type AS src, lead(event_type) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id) AS dst "
            "FROM events) WHERE dst IS NOT NULL GROUP BY src, dst) "
            "ORDER BY n DESC, src, dst LIMIT 20"
        ),
        "q_funnel": (
            "WITH v AS (SELECT user_id, min(ts) AS t FROM events "
            "WHERE event_type = 'view' GROUP BY user_id), "
            "c AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
            "JOIN v ON v.user_id = e.user_id "
            "WHERE e.event_type = 'click' AND e.ts >= v.t "
            "GROUP BY e.user_id), "
            "p AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
            "JOIN c ON c.user_id = e.user_id "
            "WHERE e.event_type = 'purchase' AND e.ts >= c.t "
            "GROUP BY e.user_id) "
            "SELECT 0 AS stage_idx, 'view' AS stage, count(*) AS n_users "
            "FROM v "
            "UNION ALL SELECT 1, 'click', count(*) FROM c "
            "UNION ALL SELECT 2, 'purchase', count(*) FROM p"
        ),
        # estimator accuracy: oracle pins the exact jaccard and the
        # TRUE bound flags (the estimate itself is engine-specific)
        "d_minhash_estimate": (
            "WITH sh AS (SELECT doc_id, "
            f"{_SHINGLES} AS s "
            f"FROM (SELECT doc_id, {_TOKENS} AS toks "
            "FROM documents)) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "/ len(list_distinct(a.s || b.s)), 6) AS jaccard, "
            "TRUE AS estimate_ok "
            "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "/ len(list_distinct(a.s || b.s)) >= 0.8"
        ),
        "c_split_leakage": (
            "WITH sh AS (SELECT doc_id, "
            f"{_SHINGLES} AS s "
            f"FROM (SELECT doc_id, {_TOKENS} AS toks "
            "FROM documents)), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "/ len(list_distinct(a.s || b.s)) >= 0.8), "
            "sp AS (SELECT doc_id, CASE "
            "WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), "
            "1, 8)) AS BIGINT) % 100 < 10 THEN 'val' "
            "WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), "
            "1, 8)) AS BIGINT) % 100 < 20 THEN 'test' ELSE 'train' END "
            "AS split FROM documents) "
            "SELECT count(*) AS n_dup_pairs, "
            "CAST(coalesce(sum(CASE WHEN sa.split <> sb.split THEN 1 "
            "ELSE 0 END), 0) AS BIGINT) AS n_cross_split_pairs "
            "FROM p JOIN sp sa ON sa.doc_id = p.id_a "
            "JOIN sp sb ON sb.doc_id = p.id_b"
        ),
        "c_split_by_source": (
            "SELECT doc_id, source, CASE "
            "WHEN CAST(concat('0x', substr(md5(source), 1, 8)) AS BIGINT) "
            "% 100 < 10 THEN 'val' "
            "WHEN CAST(concat('0x', substr(md5(source), 1, 8)) AS BIGINT) "
            "% 100 < 20 THEN 'test' ELSE 'train' END AS split "
            "FROM documents"
        ),
        "c_length_buckets": (
            "WITH t AS (SELECT doc_id, "
            f"len({_TOKENS}) AS nt FROM documents), "
            "b AS (SELECT doc_id, nt, "
            "CAST(floor(log2(greatest(nt, 1))) AS INT) AS bucket FROM t) "
            "SELECT doc_id, CAST(nt AS INT) AS n_tokens, bucket, "
            f"CAST(floor(({_stable_rank_sql('bucket', 'doc_id')} - 1) / 8) "
            "AS BIGINT) AS batch_id FROM b"
        ),
        "v_quantize_int8": (
            "WITH d AS (SELECT vec_id, "
            "generate_subscripts(embedding, 1) AS dim, "
            "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), "
            "st AS (SELECT dim, min(x) AS mn, max(x) AS mx "
            "FROM d GROUP BY dim), "
            "e AS (SELECT vec_id, CASE WHEN mx = mn THEN 0.0 ELSE "
            "abs(least(greatest(round((x - mn) / ((mx - mn) / 255.0)), "
            "0), 255) * ((mx - mn) / 255.0) - (x - mn)) END AS err "
            "FROM d JOIN st USING (dim)) "
            "SELECT vec_id, round(max(err), 6) AS max_abs_err, "
            "round(avg(err * err), 6) AS mse FROM e GROUP BY vec_id"
        ),
        "p_repair_ids": (
            r"WITH r AS (SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS k "
            "FROM orders), "
            "rw AS (SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN "
            "substr(k, 1, 1) || '.' || rpad(substr(k, 2, 2), 2, '0') || "
            "'e+' || CAST(length(k) - 1 AS VARCHAR) ELSE k END AS raw_id "
            "FROM r), "
            "x AS (SELECT o_orderkey, raw_id, "
            r"regexp_matches(raw_id, '^([0-9]+)(?:\.([0-9]+))?e\+([0-9]+)$') "
            "AS was_corrupt, "
            r"regexp_extract(raw_id, '^([0-9]+)(?:\.([0-9]+))?e\+([0-9]+)$', 1) "
            "AS ip, "
            r"regexp_extract(raw_id, '^([0-9]+)(?:\.([0-9]+))?e\+([0-9]+)$', 2) "
            "AS fp, "
            r"TRY_CAST(regexp_extract(raw_id, "
            r"'^([0-9]+)(?:\.([0-9]+))?e\+([0-9]+)$', 3) AS INT) AS ex "
            "FROM rw) "
            "SELECT o_orderkey, raw_id, was_corrupt, "
            "CASE WHEN was_corrupt AND ex - length(fp) >= 0 THEN "
            "ip || fp || repeat('0', ex - length(fp)) "
            "ELSE raw_id END AS repaired_id FROM x"
        ),
        "q_value_histogram": (
            "WITH x AS (SELECT min(value) AS mn, max(value) AS mx "
            "FROM events) "
            "SELECT event_type, CAST(CASE WHEN mx = mn THEN 0 ELSE "
            "least(floor((value - mn) / ((mx - mn) / 10)), 9) END AS INT) "
            "AS bin, count(*) AS n, "
            "round(min(value), 6) AS bin_lo, round(max(value), 6) AS bin_hi "
            "FROM events CROSS JOIN x GROUP BY event_type, bin"
        ),
        # Same integer-microsecond midpoint split, same explicit
        # ceil(j*n/10) integer rank edges, same +1 Laplace smoothing,
        # same ln over exact-integer ratios (q_entropy_profile class).
        "q_psi_drift": (
            "WITH span AS (SELECT min(epoch_us(ts)) AS mn, "
            "max(epoch_us(ts)) AS mx FROM events), "
            "tagged AS (SELECT event_type, event_id, value, "
            "epoch_us(ts) <= (mn + (mx - mn) // 2) AS is_ref "
            "FROM events, span), "
            "ref AS (SELECT event_type, value, event_id, "
            "row_number() OVER (PARTITION BY event_type "
            "ORDER BY value, event_id) AS rn, "
            "count(*) OVER (PARTITION BY event_type) AS n "
            "FROM tagged WHERE is_ref), "
            "edges AS (SELECT event_type, j, value AS edge FROM ref "
            "JOIN (SELECT unnest(generate_series(1, 9)) AS j) js "
            "ON rn = (j * n + 9) // 10), "
            "binned AS (SELECT t.event_type, t.event_id, t.is_ref, "
            "1 + sum(CASE WHEN t.value > e.edge THEN 1 ELSE 0 END) AS bin "
            "FROM tagged t LEFT JOIN edges e ON e.event_type = t.event_type "
            "GROUP BY t.event_type, t.event_id, t.is_ref, t.value), "
            "counts AS (SELECT event_type, bin, "
            "sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cr, "
            "sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc "
            "FROM binned GROUP BY 1, 2), "
            "dense AS (SELECT et.event_type, b.bin, "
            "coalesce(c.cr, 0) AS cr, coalesce(c.cc, 0) AS cc "
            "FROM (SELECT DISTINCT event_type FROM counts) et "
            "CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS bin) b "
            "LEFT JOIN counts c ON c.event_type = et.event_type "
            "AND c.bin = b.bin), "
            "tot AS (SELECT event_type, sum(cr) AS n_ref, "
            "sum(cc) AS n_cur FROM dense GROUP BY 1) "
            "SELECT d.event_type, CAST(t.n_ref AS BIGINT) AS n_ref, "
            "CAST(t.n_cur AS BIGINT) AS n_cur, "
            "round(sum(((cr + 1.0) / (t.n_ref + 10) - (cc + 1.0) / "
            "(t.n_cur + 10)) * ln(((cr + 1.0) / (t.n_ref + 10)) / "
            "((cc + 1.0) / (t.n_cur + 10)))), 6) AS psi "
            "FROM dense d JOIN tot t ON t.event_type = d.event_type "
            "GROUP BY d.event_type, t.n_ref, t.n_cur"
        ),
        # Same per-value counts, same inclusive integer CDFs; D and its
        # location emitted RAW (exact-integer-ratio rule); argmax =
        # ORDER BY d DESC, value ASC LIMIT 1 (struct-max twin).
        "q_ks_drift": (
            "WITH pv AS (SELECT value, "
            "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca, "
            "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb "
            "FROM events WHERE event_type IN ('click', 'purchase') "
            "GROUP BY value), "
            "c AS (SELECT value, "
            "sum(ca) OVER (ORDER BY value) AS cuma, "
            "sum(cb) OVER (ORDER BY value) AS cumb FROM pv), "
            "t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, "
            "CAST(sum(cb) AS BIGINT) AS nb FROM pv) "
            "SELECT 'click' AS type_a, 'purchase' AS type_b, "
            "t.na AS n_a, t.nb AS n_b, "
            "abs(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb) "
            "AS ks_stat, value AS ks_at_value "
            "FROM c, t WHERE na > 0 AND nb > 0 "
            "ORDER BY ks_stat DESC, value ASC LIMIT 1"
        ),
        # Four conditional-sum cells in one pass; means rounded to 6
        # BEFORE differencing (differences of rounded means are exact).
        "q_did_estimate": (
            "WITH c AS (SELECT "
            "CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treat, "
            "CASE WHEN epoch_us(ts) // 86400000000 >= 19738 "
            "THEN 1 ELSE 0 END AS post, value FROM events), "
            "a AS (SELECT "
            "CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_pre, "
            "round(sum(CASE WHEN treat = 1 AND post = 0 THEN value END) / "
            "sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END), 6) AS mean_treat_pre, "
            "CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_post, "
            "round(sum(CASE WHEN treat = 1 AND post = 1 THEN value END) / "
            "sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END), 6) AS mean_treat_post, "
            "CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_pre, "
            "round(sum(CASE WHEN treat = 0 AND post = 0 THEN value END) / "
            "sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END), 6) AS mean_ctrl_pre, "
            "CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_post, "
            "round(sum(CASE WHEN treat = 0 AND post = 1 THEN value END) / "
            "sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END), 6) AS mean_ctrl_post "
            "FROM c) "
            "SELECT *, round((mean_treat_post - mean_treat_pre) - "
            "(mean_ctrl_post - mean_ctrl_pre), 6) AS did FROM a "
            "WHERE n_treat_pre > 0"
        ),
        # Exact-integer arm counts; e and chi2 fixed-order arithmetic
        # over exact integers, raw; same 3.84 one-degree critical.
        "q_srm_check": (
            "WITH u AS (SELECT DISTINCT user_id FROM events), "
            "a AS (SELECT "
            "CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_treat, "
            "CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_ctrl FROM u) "
            "SELECT n_treat, n_ctrl, "
            "(n_treat - (n_treat + n_ctrl) / 2.0) * "
            "(n_treat - (n_treat + n_ctrl) / 2.0) / "
            "((n_treat + n_ctrl) / 2.0) + "
            "(n_ctrl - (n_treat + n_ctrl) / 2.0) * "
            "(n_ctrl - (n_treat + n_ctrl) / 2.0) / "
            "((n_treat + n_ctrl) / 2.0) AS chi2, "
            "(n_treat - (n_treat + n_ctrl) / 2.0) * "
            "(n_treat - (n_treat + n_ctrl) / 2.0) / "
            "((n_treat + n_ctrl) / 2.0) + "
            "(n_ctrl - (n_treat + n_ctrl) / 2.0) * "
            "(n_ctrl - (n_treat + n_ctrl) / 2.0) / "
            "((n_treat + n_ctrl) / 2.0) > 3.841458820694124 AS srm_flag "
            "FROM a WHERE n_treat + n_ctrl > 0"
        ),
        # One conditional-moment pass; mean/var rounded to 6 first, t
        # and df fixed-order arithmetic over the rounded stats (raw).
        "q_welch_t": (
            "WITH a AS (SELECT "
            "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_a, "
            "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_b, "
            "round(avg(CASE WHEN event_type = 'click' THEN value END), 6) "
            "AS mean_a, "
            "round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6) "
            "AS mean_b, "
            "round(var_samp(CASE WHEN event_type = 'click' THEN value END), 6) "
            "AS var_a, "
            "round(var_samp(CASE WHEN event_type = 'purchase' THEN value END), 6) "
            "AS var_b "
            "FROM events WHERE event_type IN ('click', 'purchase')) "
            "SELECT 'click' AS type_a, 'purchase' AS type_b, "
            "n_a, n_b, mean_a, mean_b, var_a, var_b, "
            "CASE WHEN var_a / n_a + var_b / n_b > 0 THEN "
            "(mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) END "
            "AS t_stat, "
            "CASE WHEN n_a > 1 AND n_b > 1 "
            "AND var_a / n_a + var_b / n_b > 0 THEN "
            "((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)) / "
            "((var_a / n_a) * (var_a / n_a) / (n_a - 1) + "
            "(var_b / n_b) * (var_b / n_b) / (n_b - 1)) END AS df_welch "
            "FROM a WHERE n_a > 1 AND n_b > 1"
        ),
        # Staged rounding mirrors the Spark side exactly: per-user
        # sums -> 6dp, covar/var/mean scalars -> 6dp, theta -> 6dp,
        # per-user adjustment over rounded inputs, final means/vars
        # -> 6dp; var_reduction is a raw ratio of rounded vars.
        "q_cuped": (
            "WITH pu AS (SELECT user_id, "
            "coalesce(round(sum(CASE WHEN epoch_us(ts) // 86400000000 "
            "< 19738 THEN value END), 6), 0.0) AS x, "
            "coalesce(round(sum(CASE WHEN epoch_us(ts) // 86400000000 "
            ">= 19738 THEN value END), 6), 0.0) AS y "
            "FROM events GROUP BY user_id), "
            "sc AS (SELECT CASE WHEN round(var_samp(x), 6) > 0 THEN "
            "round(round(covar_samp(x, y), 6) / round(var_samp(x), 6), 6) "
            "END AS theta, round(avg(x), 6) AS mx FROM pu), "
            "adj AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END "
            "AS treat, y, y - theta * (x - mx) AS yadj, theta "
            "FROM pu, sc), "
            "g AS (SELECT CAST(sum(treat) AS BIGINT) AS n_treat, "
            "CAST(sum(1 - treat) AS BIGINT) AS n_ctrl, "
            "first(theta) AS theta, "
            "round(avg(CASE WHEN treat = 1 THEN y END), 6) AS mt_raw, "
            "round(avg(CASE WHEN treat = 0 THEN y END), 6) AS mc_raw, "
            "round(avg(CASE WHEN treat = 1 THEN yadj END), 6) AS mt_adj, "
            "round(avg(CASE WHEN treat = 0 THEN yadj END), 6) AS mc_adj, "
            "round(var_samp(y), 6) AS var_y, "
            "round(var_samp(yadj), 6) AS var_adj FROM adj) "
            "SELECT n_treat, n_ctrl, theta, "
            "mt_raw - mc_raw AS diff_raw, "
            "mt_adj - mc_adj AS diff_cuped, var_y, var_adj, "
            "CASE WHEN var_y > 0 THEN 1.0 - var_adj / var_y END "
            "AS var_reduction FROM g WHERE n_treat IS NOT NULL"
        ),
        # Average-rank = (strictly below) + (ties+1)/2 — exact
        # half-integers, so the rank sum is an exact double at any
        # aggregation order; U and r emitted raw (exact-ratio rule).
        "q_mann_whitney": (
            "WITH pv AS (SELECT value, "
            "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca, "
            "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb "
            "FROM events WHERE event_type IN ('click', 'purchase') "
            "GROUP BY value), "
            "r AS (SELECT value, ca, cb, "
            "coalesce(sum(ca + cb) OVER (ORDER BY value "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
            "AS below FROM pv), "
            "s AS (SELECT CAST(sum(ca) AS BIGINT) AS na, "
            "CAST(sum(cb) AS BIGINT) AS nb, "
            "sum(ca * (below + (ca + cb + 1) / 2.0)) AS ra FROM r) "
            "SELECT 'click' AS type_a, 'purchase' AS type_b, "
            "na AS n_a, nb AS n_b, "
            "CAST(ra - na * (na + 1) / 2.0 AS DOUBLE) AS u_a, "
            "CAST(na * nb - (ra - na * (na + 1) / 2.0) AS DOUBLE) AS u_b, "
            "1.0 - 2.0 * (ra - na * (na + 1) / 2.0) / (na * nb) "
            "AS r_rank_biserial FROM s WHERE na > 0 AND nb > 0"
        ),
        # Same floor((value - round(mean,6)) * 1e6) integer deviations
        # (order-insensitive cumsum: segment-tree vs running-fold
        # window sums can't differ on BIGINTs), same argmax tiebreak.
        "q_cusum_changepoint": (
            "WITH m AS (SELECT event_type, round(avg(value), 6) AS mean "
            "FROM events GROUP BY 1), "
            "s AS (SELECT e.event_type, e.ts, "
            "sum(CAST(floor((e.value - m.mean) * 1000000.0) AS BIGINT)) "
            "OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs, "
            "row_number() OVER (PARTITION BY e.event_type "
            "ORDER BY e.ts, e.event_id) AS rn, "
            "count(*) OVER (PARTITION BY e.event_type) AS n "
            "FROM events e JOIN m ON m.event_type = e.event_type), "
            "p AS (SELECT *, row_number() OVER (PARTITION BY event_type "
            "ORDER BY abs(cs) DESC, rn ASC) AS pick FROM s) "
            "SELECT event_type, CAST(n AS BIGINT) AS n_events, "
            "CAST(abs(cs) AS DOUBLE) / 1000000.0 AS cusum_peak, "
            "ts AS peak_ts, CAST(rn AS DOUBLE) / n AS peak_frac "
            "FROM p WHERE pick = 1"
        ),
        # Same round-6 hourly sums, same gap-correct hour-index lag
        # joins, same round-6 MAEs; MASE divides the two rounded MAEs.
        "q_seasonal_naive": (
            "WITH h AS (SELECT event_type, "
            "epoch_us(ts) // 3600000000 AS hr, "
            "round(sum(value), 6) AS v FROM events GROUP BY 1, 2), "
            "s AS (SELECT c.event_type, c.v, p.v AS vp, s24.v AS vs "
            "FROM h c JOIN h p ON p.event_type = c.event_type "
            "AND p.hr = c.hr - 1 "
            "JOIN h s24 ON s24.event_type = c.event_type "
            "AND s24.hr = c.hr - 24) "
            "SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored, "
            "round(avg(abs(v - vp)), 6) AS mae_naive, "
            "round(avg(abs(v - vs)), 6) AS mae_seasonal, "
            "CASE WHEN round(avg(abs(v - vp)), 6) <> 0 THEN "
            "round(avg(abs(v - vs)), 6) / round(avg(abs(v - vp)), 6) "
            "END AS mase FROM s GROUP BY event_type"
        ),
        # Unrolled 4-round HITS; every intermediate an exact integer.
        "g_hits": _hits_oracle_sql(4),
        # Unrolled 8-round personalized PageRank, seed-only teleport.
        "g_ppr": _pagerank_oracle_sql(8, seed_mod=97),
        # Same per-row ln() inputs, same regr_* aggregates, round-6.
        "q_price_elasticity": (
            "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines, "
            "round(regr_slope(y, x), 6) AS elasticity, "
            "round(regr_intercept(y, x), 6) AS intercept, "
            "round(regr_r2(y, x), 6) AS r2 FROM ("
            "SELECT l_returnflag, "
            "ln(l_extendedprice * (1.0 - l_discount) / l_quantity) AS x, "
            "ln(CAST(l_quantity AS DOUBLE)) AS y FROM lineitem) "
            "GROUP BY l_returnflag"
        ),
        # Same (source, token) counts; integers + raw exact ratios.
        "t_vocab_profile": (
            f"WITH tk AS (SELECT source, unnest({_TOKENS}) AS w "
            "FROM documents), "
            "c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n "
            "FROM tk GROUP BY source, w) "
            "SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens, "
            "CAST(count(*) AS BIGINT) AS n_types, "
            "CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_hapax, "
            "CAST(count(*) AS DOUBLE) / sum(n) AS type_token_ratio, "
            "CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) "
            "/ count(*) AS hapax_share "
            "FROM c GROUP BY source"
        ),
        # Same fixed-centroid assignment (v_kmeans_assign CTE), same
        # integer contingency cells, purity raw, NMI round-6.
        "v_cluster_purity": (
            "WITH c AS (SELECT vec_id AS cid, "
            "CAST(embedding AS DOUBLE[]) AS cv FROM embeddings "
            "WHERE vec_id < 8), "
            "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev "
            "FROM embeddings), "
            "a AS (SELECT vec_id, cid FROM ("
            "SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id "
            "ORDER BY list_cosine_similarity(ev, cv) DESC, cid) AS rk "
            "FROM v, c) WHERE rk = 1), "
            "j AS (SELECT a.cid AS cc, e.label AS ll FROM a "
            "JOIN embeddings e ON e.vec_id = a.vec_id), "
            "cells AS (SELECT cc, ll, CAST(count(*) AS BIGINT) AS n "
            "FROM j GROUP BY cc, ll), "
            "tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells), "
            "t AS (SELECT cells.*, sum(n) OVER (PARTITION BY cc) AS nc, "
            "sum(n) OVER (PARTITION BY ll) AS nl, "
            "row_number() OVER (PARTITION BY cc ORDER BY n DESC, ll) "
            "AS rkc, "
            "row_number() OVER (PARTITION BY ll ORDER BY n DESC, cc) "
            "AS rkl FROM cells) "
            "SELECT CAST(nn AS BIGINT) AS n_vectors, "
            "CAST(count(DISTINCT cc) AS BIGINT) AS n_clusters, "
            "CAST(sum(CASE WHEN rkc = 1 THEN n ELSE 0 END) AS DOUBLE) "
            "/ nn AS purity, "
            "round(sum((n / CAST(nn AS DOUBLE)) * ln(n * "
            "CAST(nn AS DOUBLE) / (CAST(nc AS DOUBLE) * nl))) / "
            "sqrt(sum(CASE WHEN rkc = 1 THEN -(nc / CAST(nn AS DOUBLE)) "
            "* ln(nc / CAST(nn AS DOUBLE)) ELSE 0 END) * "
            "sum(CASE WHEN rkl = 1 THEN -(nl / CAST(nn AS DOUBLE)) "
            "* ln(nl / CAST(nn AS DOUBLE)) ELSE 0 END)), 6) AS nmi "
            "FROM t, tot GROUP BY nn"
        ),
        # Round-6 stddev_pop shares through _quota_sql, quotas capped
        # at N_h, md5 rank.
        "q_neyman_sample": (
            "WITH st AS (SELECT event_type, CAST(count(*) AS BIGINT) "
            "AS nh, round(stddev_pop(value), 6) AS sd FROM events "
            "GROUP BY 1), "
            + _quota_sql("st", "event_type", "nh * sd", "nh", "500")
            + ", sel AS (SELECT event_id, event_type, "
            f"{_stable_rank_sql('event_type', 'event_id')} AS rk "
            "FROM events) "
            "SELECT sel.event_id, sel.event_type FROM sel "
            "JOIN q ON q.event_type IS NOT DISTINCT FROM sel.event_type "
            "WHERE sel.rk <= least(q.quota, q.nr)"
        ),
        # Same user-keyed window join, same (ts, event_id) path order,
        # same 40/20/40 position weights, round-6 credit sums.
        "q_attribution_mt": (
            "WITH conv AS (SELECT event_id AS cid, user_id AS cu, "
            "ts AS cts FROM events WHERE event_type = 'purchase'), "
            "touch AS (SELECT user_id AS tu, event_id AS tid, "
            "event_type AS channel, ts AS tts FROM events "
            "WHERE event_type IN ('view', 'click')), "
            "paths AS (SELECT cid, channel, tts, tid FROM conv "
            "JOIN touch ON tu = cu AND tts < cts "
            "AND tts >= cts - INTERVAL 7 DAY), "
            "rk AS (SELECT cid, channel, row_number() OVER ("
            "PARTITION BY cid ORDER BY tts, tid) AS pos, "
            "count(*) OVER (PARTITION BY cid) AS n FROM paths), "
            "wt AS (SELECT cid, channel, CASE "
            "WHEN n = 1 THEN CAST(1.0 AS DOUBLE) "
            "WHEN n = 2 THEN CAST(0.5 AS DOUBLE) "
            "WHEN pos = 1 THEN CAST(0.4 AS DOUBLE) "
            "WHEN pos = n THEN CAST(0.4 AS DOUBLE) "
            "ELSE CAST(0.2 AS DOUBLE) / (n - 2) END AS w FROM rk) "
            "SELECT channel, CAST(count(*) AS BIGINT) AS n_touches, "
            "CAST(count(DISTINCT cid) AS BIGINT) AS n_conversions, "
            "round(sum(w), 6) AS credit FROM wt GROUP BY channel"
        ),
        # Same lead-window bigrams, same exact-integer marginals,
        # same ln(exact ratio) with round-6 + (w1, w2) tie-break.
        "t_pmi_pairs": (
            f"WITH tk AS (SELECT doc_id, unnest({_TOKENS}) AS w, "
            f"generate_subscripts({_TOKENS}, 1) AS pos FROM documents), "
            "bi AS (SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id "
            "ORDER BY pos) AS w2 FROM tk), "
            "b AS (SELECT w1, w2 FROM bi WHERE w2 IS NOT NULL), "
            "pair AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair "
            "FROM b GROUP BY w1, w2), "
            "l AS (SELECT w1, CAST(count(*) AS BIGINT) AS nl FROM b "
            "GROUP BY w1), "
            "r AS (SELECT w2, CAST(count(*) AS BIGINT) AS nr FROM b "
            "GROUP BY w2), "
            "t AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM b) "
            "SELECT pair.w1, pair.w2, n_pair, "
            "round(ln(CAST(n_pair AS DOUBLE) * tt / "
            "(CAST(nl AS DOUBLE) * nr)), 6) AS pmi "
            "FROM pair JOIN l ON l.w1 = pair.w1 "
            "JOIN r ON r.w2 = pair.w2 CROSS JOIN t "
            "WHERE n_pair >= 5 "
            "ORDER BY pmi DESC, pair.w1, pair.w2 LIMIT 20"
        ),
        # Same round-6 hourly sums and mean, same gap-correct lag
        # joins, same centered-product sums with a final round.
        "q_autocorr": (
            "WITH h AS (SELECT event_type, "
            "epoch_us(ts) // 3600000000 AS hr, "
            "round(sum(value), 6) AS v FROM events GROUP BY 1, 2), "
            "m AS (SELECT event_type, round(avg(v), 6) AS mu FROM h "
            "GROUP BY 1), "
            "c AS (SELECT h.event_type, hr, v - mu AS d FROM h "
            "JOIN m ON m.event_type = h.event_type), "
            "dn AS (SELECT event_type, sum(d * d) AS ss FROM c "
            "GROUP BY 1), "
            "lagged AS ("
            "SELECT a.event_type, 1 AS lag_hours, "
            "CAST(count(*) AS BIGINT) AS n_pairs, "
            "sum(a.d * b.d) AS num FROM c a JOIN c b "
            "ON b.event_type = a.event_type AND b.hr = a.hr - 1 "
            "GROUP BY a.event_type "
            "UNION ALL "
            "SELECT a.event_type, 24, CAST(count(*) AS BIGINT), "
            "sum(a.d * b.d) FROM c a JOIN c b "
            "ON b.event_type = a.event_type AND b.hr = a.hr - 24 "
            "GROUP BY a.event_type) "
            "SELECT lagged.event_type, lag_hours, n_pairs, "
            "round(num / ss, 6) AS autocorr "
            "FROM lagged JOIN dn ON dn.event_type = lagged.event_type"
        ),
        # Same stopword islands (positions via generate_subscripts),
        # same integer degree/freq, same round-6 phrase scores.
        "t_rake_keywords": (
            f"WITH tk AS (SELECT doc_id, unnest({_TOKENS}) AS w, "
            f"generate_subscripts({_TOKENS}, 1) AS pos FROM documents), "
            "ns AS (SELECT doc_id, w, pos FROM tk WHERE w NOT IN "
            "('the','a','of','and','to','in','is','it','that','for')), "
            "isl AS (SELECT doc_id, w, pos, pos - row_number() OVER ("
            "PARTITION BY doc_id ORDER BY pos) AS grp FROM ns), "
            "ph AS (SELECT doc_id, grp, list(w ORDER BY pos) AS words, "
            "string_agg(w, ' ' ORDER BY pos) AS phrase, "
            "CAST(count(*) AS BIGINT) AS plen FROM isl "
            "GROUP BY doc_id, grp), "
            "phf AS (SELECT phrase, words, plen FROM ph WHERE plen <= 4), "
            "occ AS (SELECT phrase, plen, unnest(words) AS w FROM phf), "
            "ws AS (SELECT w, CAST(count(*) AS BIGINT) AS freq, "
            "CAST(sum(plen) AS BIGINT) AS deg FROM occ GROUP BY w), "
            "sc AS (SELECT phrase, plen, "
            "CAST(count(*) // plen AS BIGINT) AS n_occurrences, "
            "round(sum(CAST(deg AS DOUBLE) / freq) / "
            "(count(*) / plen), 6) AS score "
            "FROM occ JOIN ws USING (w) GROUP BY phrase, plen) "
            "SELECT phrase, n_occurrences, score FROM sc "
            "ORDER BY score DESC, phrase LIMIT 20"
        ),
        # Same per-user spans, same censor rule, same suffix-sum
        # at-risk counts, same exp(cumsum(ln)) product; terminal
        # hazard (factor 0) zeroes the curve in both engines.
        "q_survival_km": (
            "WITH d AS (SELECT user_id, "
            "CAST(min(date_trunc('day', ts)) AS DATE) AS d0, "
            "CAST(max(date_trunc('day', ts)) AS DATE) AS d1 "
            "FROM events GROUP BY user_id), "
            "wend AS (SELECT CAST(max(date_trunc('day', ts)) AS DATE) "
            "AS we FROM events), "
            "pu AS (SELECT date_diff('day', d0, d1) AS t, "
            "date_diff('day', d1, we) < 7 AS cens FROM d, wend), "
            "tb AS (SELECT t, CAST(sum(CASE WHEN cens THEN 0 ELSE 1 END) "
            "AS BIGINT) AS n_deaths, "
            "CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_censored FROM pu GROUP BY t), "
            "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pu), "
            "rk AS (SELECT tb.*, tot.n - coalesce(sum(n_deaths + "
            "n_censored) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND 1 PRECEDING), 0) AS n_at_risk FROM tb, tot), "
            "sv AS (SELECT *, CASE WHEN max(CASE WHEN 1.0 - "
            "CAST(n_deaths AS DOUBLE) / n_at_risk <= 0.0 THEN 1 ELSE 0 "
            "END) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "CURRENT ROW) = 1 THEN 0.0 ELSE exp(sum(ln(1.0 - "
            "CAST(n_deaths AS DOUBLE) / n_at_risk)) OVER (ORDER BY t "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END "
            "AS s FROM rk) "
            "SELECT t AS t_days, CAST(n_at_risk AS BIGINT) AS n_at_risk, "
            "n_deaths, n_censored, round(s, 6) AS survival FROM sv"
        ),
        # Same md5-parity replicate membership, same round-6 replicate
        # means, same [2, B-1] order statistics.
        "q_bootstrap_ci": (
            "WITH s AS (SELECT event_type, event_id, value, b FROM events "
            "CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) "
            "WHERE CAST(concat('0x', substr(md5(concat("
            "CAST(event_id AS VARCHAR), ':', CAST(b AS VARCHAR))), 1, 8)) "
            "AS BIGINT) % 2 = 0), "
            "m AS (SELECT event_type, b, round(avg(value), 6) AS mn "
            "FROM s GROUP BY 1, 2), "
            "r AS (SELECT event_type, mn, row_number() OVER ("
            "PARTITION BY event_type ORDER BY mn, b) AS rn FROM m), "
            "ci AS (SELECT event_type, "
            "max(CASE WHEN rn = 2 THEN mn END) AS ci_lo, "
            "max(CASE WHEN rn = 31 THEN mn END) AS ci_hi "
            "FROM r GROUP BY event_type), "
            "p AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
            "round(avg(value), 6) AS mean_value FROM events GROUP BY 1) "
            "SELECT p.event_type, n_events, mean_value, ci_lo, ci_hi "
            "FROM p JOIN ci ON ci.event_type = p.event_type"
        ),
        # Same distinct-score counts + cumulative-neg rank sum; every
        # U term is a multiple of 0.5 so the sum is exact; AUC raw.
        "v_auc_rank": (
            "WITH s AS (SELECT CAST(embedding[1] AS DOUBLE) AS sc, "
            "CAST(label % 2 AS INT) AS y FROM embeddings), "
            "g AS (SELECT sc, CAST(sum(y) AS BIGINT) AS pos, "
            "CAST(sum(1 - y) AS BIGINT) AS neg FROM s GROUP BY sc), "
            "r AS (SELECT pos, neg, coalesce(sum(neg) OVER ("
            "ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "1 PRECEDING), 0) AS below FROM g) "
            "SELECT CAST(sum(pos) AS BIGINT) AS n_pos, "
            "CAST(sum(neg) AS BIGINT) AS n_neg, "
            "sum(pos * (below + 0.5 * neg)) / "
            "(sum(pos) * sum(neg)) AS auc FROM r"
        ),
        # Same integer-cent spend, same (cents DESC, custkey) rank,
        # same integer decile cuts; share/lift exact ratios, raw.
        "q_decile_lift": (
            "WITH sp AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice "
            "AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents "
            "FROM orders GROUP BY o_custkey), "
            "t AS (SELECT CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(cents) AS BIGINT) AS tot FROM sp), "
            "r AS (SELECT cents, row_number() OVER ("
            "ORDER BY cents DESC, o_custkey) AS rk FROM sp) "
            "SELECT CAST(((rk - 1) * 10) // n AS INT) AS decile, "
            "CAST(count(*) AS BIGINT) AS n_customers, "
            "CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue, "
            "CAST(sum(cents) AS DOUBLE) / tot AS rev_share, "
            "CAST(sum(cents) AS DOUBLE) / tot * 10.0 AS lift "
            "FROM r, t GROUP BY ((rk - 1) * 10) // n, tot"
        ),
        # Naive all-pairs levenshtein join: the quadratic oracle twin
        # of the deletion-neighborhood candidate join (exact for d=1).
        "d_edit_pairs": (
            "SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, "
            "a.c_name AS val_a, b.c_name AS val_b, "
            "CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist "
            "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey "
            "AND levenshtein(a.c_name, b.c_name) <= 1 "
            "ORDER BY val_a, val_b, id_a, id_b LIMIT 50"
        ),
        # Same integer (epoch_days + 3) % 7 weekday, same dense R x 7
        # table with zero cells, same exact-integer e_ij ratios.
        "q_chi2_independence": (
            "WITH cells AS (SELECT event_type, "
            "CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS INT) AS dow, "
            "count(*) AS n FROM events GROUP BY 1, 2), "
            "dense AS (SELECT et.event_type, d.dow, coalesce(c.n, 0) AS n "
            "FROM (SELECT DISTINCT event_type FROM cells) et "
            "CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS dow) d "
            "LEFT JOIN cells c ON c.event_type = et.event_type "
            "AND c.dow = d.dow), "
            "t AS (SELECT event_type, dow, n, "
            "sum(n) OVER (PARTITION BY event_type) AS r, "
            "sum(n) OVER (PARTITION BY dow) AS c, "
            "sum(n) OVER () AS nn FROM dense) "
            "SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events, "
            "round(sum((n - CAST(r AS DOUBLE) * c / nn) * "
            "(n - CAST(r AS DOUBLE) * c / nn) / "
            "(CAST(r AS DOUBLE) * c / nn)), 6) AS chi2_contrib "
            "FROM t GROUP BY event_type"
        ),
        # Whitespace token counts, _quota_sql token quotas (all-blank
        # sources split by doc count), strict md5-order prefix fill;
        # budget = corpus tokens div 2 in-query.
        "c_token_budget": (
            f"WITH tk AS (SELECT doc_id, source, CAST({_NTOK} AS BIGINT) "
            "AS n_tokens FROM documents), "
            "cnt AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS ns, "
            "CAST(count(*) AS BIGINT) AS nd FROM tk GROUP BY source), "
            + _quota_sql(
                "cnt", "source", "sqrt(CAST(ns AS DOUBLE))", "nd",
                "CAST(sum(ns) AS BIGINT) // 2",
            )
            + ", cum AS (SELECT doc_id, source, n_tokens, "
            f"{_stable_rank_sql('source', 'doc_id', 'sum(n_tokens)')} "
            "AS cum_tokens FROM tk) "
            "SELECT cum.doc_id, cum.source, cum.n_tokens, "
            "CAST(cum.cum_tokens AS BIGINT) AS cum_tokens "
            "FROM cum JOIN q ON q.source IS NOT DISTINCT FROM cum.source "
            "WHERE cum.cum_tokens <= q.quota"
        ),
        # _quota_sql quotas (no n_s cap), md5 rank, div/mod repeat
        # split, 3x corpus total computed in-query.
        "c_upsample": (
            "WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS ns "
            "FROM documents GROUP BY source), "
            + _quota_sql(
                "cnt", "source", "sqrt(CAST(ns AS DOUBLE))", "ns",
                "3 * CAST(sum(ns) AS BIGINT)",
            )
            + ", sel AS (SELECT doc_id, source, "
            f"{_stable_rank_sql('source', 'doc_id')} AS rk FROM documents), "
            "reps AS (SELECT sel.doc_id, sel.source, "
            "q.quota // q.nr + CASE WHEN sel.rk <= q.quota % q.nr "
            "THEN 1 ELSE 0 END AS nrep FROM sel "
            "JOIN q ON q.source IS NOT DISTINCT FROM sel.source) "
            "SELECT doc_id, source, CAST(unnest(generate_series(0, "
            "CAST(nrep AS BIGINT) - 1)) AS INT) AS epoch "
            "FROM reps WHERE nrep > 0"
        ),
        "q_mad_outliers": (
            "WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med "
            "FROM events GROUP BY event_type), "
            "s AS (SELECT e.event_type, max(m.med) AS med, "
            "quantile_cont(abs(e.value - m.med), 0.5) AS mad "
            "FROM events e JOIN m USING (event_type) GROUP BY e.event_type) "
            "SELECT e.event_type, count(*) AS n_events, "
            "round(max(s.med), 6) AS median_value, "
            "round(max(s.mad), 6) AS mad, "
            "CAST(sum(CASE WHEN round(abs(e.value - s.med), 6) > "
            "round(4.4478 * s.mad, 6) THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_outliers "
            "FROM events e JOIN s USING (event_type) GROUP BY e.event_type"
        ),
        "t_bpe_pairs": (
            "WITH words AS (SELECT unnest("
            f"{_TOKENS}) AS word FROM documents), "
            "wc AS (SELECT word, count(*) AS n FROM words GROUP BY word), "
            "syms AS (SELECT n, list_append(string_split(word, ''), "
            "'</w>') AS s FROM wc), "
            "p AS (SELECT n, unnest(list_transform(range(1, len(s)), "
            "i -> {'l': s[i], 'r': s[i+1]})) AS pr FROM syms "
            "WHERE len(s) >= 2) "
            "SELECT pr.l AS lhs, pr.r AS rhs, "
            "CAST(sum(n) AS BIGINT) AS cnt FROM p GROUP BY pr.l, pr.r "
            "ORDER BY cnt DESC, lhs, rhs LIMIT 20"
        ),
        "q_weighted_sample": (
            "SELECT o_orderkey, o_orderstatus FROM ("
            "SELECT o_orderkey, o_orderstatus, "
            "ln((CAST(concat('0x', "
            "substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) + 1) "
            "/ 4294967296.0) / o_totalprice AS sk "
            "FROM orders WHERE o_totalprice > 0) "
            "ORDER BY sk DESC, o_orderkey LIMIT 25"
        ),
        # Temperature mix: sqrt shares through _quota_sql, quotas
        # capped at n_s, md5 rank.
        "c_mix_temperature": (
            "WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS ns "
            "FROM documents GROUP BY source), "
            + _quota_sql(
                "cnt", "source", "sqrt(CAST(ns AS DOUBLE))", "ns", "300"
            )
            + ", sel AS (SELECT doc_id, source, "
            f"{_stable_rank_sql('source', 'doc_id')} AS rk FROM documents) "
            "SELECT sel.doc_id, sel.source FROM sel JOIN q "
            "ON sel.source IS NOT DISTINCT FROM q.source "
            "WHERE sel.rk <= least(q.quota, q.nr)"
        ),
        "c_mix_sources": (
            "WITH w AS (SELECT doc_id, source, "
            "CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 3 + 1 AS wt "
            "FROM documents), "
            "cnt AS (SELECT source, any_value(wt) AS wt, count(*) AS ns "
            "FROM w GROUP BY source), "
            "m AS (SELECT min(ns // wt) AS mm FROM cnt), "
            "r AS (SELECT doc_id, source, wt, "
            f"{_stable_rank_sql('source', 'doc_id')} AS rk FROM w) "
            "SELECT doc_id, source FROM r CROSS JOIN m WHERE rk <= wt * mm"
        ),
        "j_asof_click_purchase": (
            "SELECT c.event_id, c.user_id, epoch_us(c.ts) AS click_us, "
            "epoch_us(p.ts) AS purchase_us, p.value AS purchase_value "
            "FROM (SELECT * FROM events WHERE event_type = 'click') c "
            "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p "
            "ON c.user_id = p.user_id AND c.ts >= p.ts"
        ),
        "j_asof_forward": (
            "SELECT c.event_id, c.user_id, epoch_us(c.ts) AS click_us, "
            "(SELECT epoch_us(min(p.ts)) FROM events p "
            "WHERE p.event_type = 'purchase' AND p.user_id = c.user_id "
            "AND p.ts >= c.ts) AS next_purchase_us "
            "FROM events c WHERE c.event_type = 'click'"
        ),
        "j_range_click_purchase": (
            "SELECT l.event_id AS click_id, r.event_id AS purchase_id, "
            "l.user_id, abs(CAST(floor(epoch(l.ts)) AS BIGINT) "
            "- CAST(floor(epoch(r.ts)) AS BIGINT)) AS dt_s "
            "FROM (SELECT * FROM events WHERE event_type = 'click') l "
            "JOIN (SELECT * FROM events WHERE event_type = 'purchase') r "
            "ON l.user_id = r.user_id "
            "AND abs(CAST(floor(epoch(l.ts)) AS BIGINT) "
            "- CAST(floor(epoch(r.ts)) AS BIGINT)) <= 3600"
        ),
        "v_topk_exact": _cosine_topk_sql(),
        # NDCG@10, binary relevance: same exact-cosine rank as
        # v_topk_exact, both folds in rank order (list(... ORDER BY
        # rank) then an in-order reduce — Spark's sorted-array
        # aggregate groups terms identically since 0 + t1 == t1).
        "v_ndcg_topk": (
            "WITH q AS (SELECT vec_id AS query_id, "
            "CAST(embedding AS DOUBLE[]) AS qv, label AS qlab "
            "FROM embeddings WHERE vec_id < 50), "
            "c AS (SELECT vec_id AS neighbor_id, "
            "CAST(embedding AS DOUBLE[]) AS cv, label AS clab "
            "FROM embeddings), "
            "t AS (SELECT query_id, qlab, clab, row_number() OVER ("
            "PARTITION BY query_id ORDER BY "
            "list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank "
            "FROM q, c WHERE neighbor_id <> query_id), "
            "topk AS (SELECT query_id, qlab, rank, "
            "CASE WHEN clab = qlab THEN 1.0 ELSE 0.0 END AS rel "
            "FROM t WHERE rank <= 10), "
            "ln AS (SELECT label AS qlab, count(*) AS nlab "
            "FROM embeddings GROUP BY label), "
            "agg AS (SELECT query_id, a.qlab, "
            "CAST(nlab - 1 AS BIGINT) AS n_rel, "
            "list_reduce(list(rel / log2(rank + 1) ORDER BY rank), "
            "(acc, x) -> acc + x) AS dcg_raw, "
            "CASE WHEN nlab - 1 > 0 THEN list_reduce(list_transform("
            "range(1, least(10, CAST(nlab - 1 AS INT)) + 1), "
            "r -> 1.0 / log2(r + 1)), (acc, x) -> acc + x) "
            "ELSE 0.0 END AS idcg_raw "
            "FROM topk a JOIN ln ON a.qlab = ln.qlab "
            "GROUP BY query_id, a.qlab, nlab) "
            "SELECT query_id, qlab AS label, n_rel, "
            "round(dcg_raw, 6) AS dcg, round(idcg_raw, 6) AS idcg, "
            "CASE WHEN idcg_raw > 0 THEN round(dcg_raw / idcg_raw, 6) "
            "END AS ndcg FROM agg"
        ),
        "v_topk_scalable": _cosine_topk_sql(),
        # Truncated (Matryoshka) retrieval is deterministic: the
        # oracle checks the neighbor lists over the SAME 16-dim
        # prefix, not a recall bound.
        "v_topk_truncated": _cosine_topk_sql("[1:16]"),
        # v_bitq_topk: sign-bit hamming prune (list-compare form — the
        # packed-word representation is an implementation detail the
        # oracle need not share; the hamming INTEGERS are identical),
        # then exact cosine re-rank, same tie-breaks as the Spark side.
        "v_bitq_topk": (
            "WITH q AS (SELECT vec_id AS query_id, "
            "CAST(embedding AS DOUBLE[]) AS qv, "
            "list_transform(embedding, x -> x > 0) AS qb "
            "FROM embeddings WHERE vec_id < 5), "
            "c AS (SELECT vec_id AS neighbor_id, "
            "CAST(embedding AS DOUBLE[]) AS cv, "
            "list_transform(embedding, x -> x > 0) AS cb "
            "FROM embeddings), "
            "h AS (SELECT query_id, neighbor_id, qv, cv, "
            "CAST(len(list_filter(list_zip(qb, cb), z -> z[1] <> z[2])) "
            "AS INT) AS hamming FROM q, c WHERE neighbor_id <> query_id), "
            "pruned AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY hamming, neighbor_id) AS hr FROM h) "
            "SELECT query_id, rank, neighbor_id, hamming, "
            "round(sim, 6) AS cosine_sim FROM ("
            "SELECT query_id, neighbor_id, hamming, "
            "list_cosine_similarity(qv, cv) AS sim, "
            "row_number() OVER (PARTITION BY query_id ORDER BY "
            "list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank "
            "FROM pruned WHERE hr <= 50) WHERE rank <= 10"
        ),
        # v_topk_ivf probes every cell → provably equals exact top-k.
        "v_topk_ivf": _cosine_topk_sql(),
        "v_embedding_dims": (
            "SELECT vec_id, len(embedding) AS dim, label FROM embeddings"
        ),
        "m_meta_filter": (
            "SELECT doc_id, fmt AS format, width, height, n_bytes FROM ("
            "SELECT doc_id, "
            "CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt, "
            "CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER) AS width, "
            "CAST(octet_length(encode(text)) % 48 + 1 AS INTEGER) AS height, "
            "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes "
            "FROM documents) WHERE fmt = 'png' AND width >= 10"
        ),
        "m_features": (
            "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
            "16 AS feat_dim FROM documents"
        ),
        # resized payload = text bytes cycled to 32*24=768; checksum =
        # (full_cycles * sum(all bytes) + sum(first remainder bytes)) mod M.
        # Docs are pure ASCII (verified) so char arithmetic == byte arithmetic.
        "m_resize": (
            "WITH b AS (SELECT doc_id, length(text) AS n, "
            "CASE WHEN length(text) = 0 THEN 0 ELSE "
            "list_sum(list_transform(string_split(text, ''), c -> ord(c))) END AS total, "
            "text FROM documents) "
            "SELECT doc_id, 32 AS width, 24 AS height, CAST(768 AS BIGINT) AS n_bytes, "
            "CAST(CASE WHEN n = 0 THEN 0 ELSE "
            "((768 // n) * total + CASE WHEN 768 % n = 0 THEN 0 ELSE "
            "list_sum(list_transform(string_split(substr(text, 1, 768 % n), ''), "
            "c -> ord(c))) END) % 2147483647 END AS BIGINT) AS checksum "
            "FROM b"
        ),
        "m_frames": (
            "SELECT doc_id, CAST(i AS INT) AS frame_idx, "
            "CAST(length(text) // 4 + "
            "CASE WHEN i < length(text) % 4 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_frame_bytes "
            "FROM documents, generate_series(0, 3) t(i)"
        ),
        # approximate ops graded by self-computed accuracy: the query
        # returns the exact value + a bound check; the oracle pins both.
        "q_approx_users": (
            "SELECT event_type, count(DISTINCT user_id) AS n_exact_users, "
            "TRUE AS approx_ok FROM events GROUP BY event_type"
        ),
        "v_topk_ann": _RECALL_OK_SQL,
        # streaming parity: the oracle is the BATCH aggregation — a
        # hash match proves the streaming drain equals batch semantics.
        # Stream-static enrichment must equal the batch left join
        # row-for-row (the join is stateless per micro-batch).
        "s_stream_enrich": (
            "SELECT e.event_id, e.user_id, "
            "coalesce(c.c_mktsegment, 'unknown') AS segment, e.value "
            "FROM events e LEFT JOIN customer c "
            "ON e.user_id = c.c_custkey"
        ),
        "s_stream_hourly": (
            "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') "
            "AS hour, event_type, count(*) AS n_events, "
            "round(sum(value), 2) AS sum_value "
            "FROM events GROUP BY date_trunc('hour', ts), event_type"
        ),
        "s_stream_user_totals": (
            "SELECT user_id, count(*) AS n_events, "
            "round(sum(value), 2) AS sum_value FROM events GROUP BY user_id"
        ),
        # Batch twin of the streaming (hour, user) cells + top-3 rank.
        "s_stream_topk": (
            "WITH c AS (SELECT date_trunc('hour', ts) AS hr, user_id, "
            "count(*) AS n FROM events GROUP BY 1, 2), "
            "r AS (SELECT hr, user_id, n, row_number() OVER ("
            "PARTITION BY hr ORDER BY n DESC, user_id) AS rn FROM c) "
            "SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour, user_id, "
            "CAST(n AS BIGINT) AS n_events, CAST(rn AS INT) AS rn "
            "FROM r WHERE rn <= 3"
        ),
        # The Spark side drains the events file delivered TWICE through
        # dropDuplicatesWithinWatermark; the oracle aggregates the
        # single-copy table — a doubled count/sum is a hash mismatch.
        "s_stream_dedup": (
            "SELECT event_type, count(*) AS n_events, "
            "count(DISTINCT event_id) AS n_keys, "
            "round(sum(value), 2) AS sum_value "
            "FROM events GROUP BY event_type"
        ),
        # Batch range-join twin of the watermarked stream-stream join.
        "s_stream_attribution": (
            "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
            "p.user_id AS p_user, round(p.value, 2) AS purchase_value "
            "FROM events p JOIN events c ON c.user_id = p.user_id "
            "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 3600 SECONDS "
            "WHERE p.event_type = 'purchase' AND c.event_type = 'click'"
        ),
        # LEFT OUTER twin: null rows are emitted by watermark-driven
        # state expiry in the stream; relationally they are just the
        # unmatched side of a batch LEFT JOIN.
        "s_stream_left_join": (
            "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
            "p.user_id AS p_user, round(p.value, 2) AS purchase_value "
            "FROM events p LEFT JOIN events c ON c.user_id = p.user_id "
            "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 3600 SECONDS "
            "AND c.event_type = 'click' "
            "WHERE p.event_type = 'purchase'"
        ),
        # Per-rule violation counts the streaming monitor must
        # reproduce on its micro-batch ("column" is reserved in DuckDB
        # — quoted to match the Spark column name exactly).
        "s_stream_quality": (
            "SELECT rule, \"column\", n_violations, "
            "n_violations = 0 AS pass FROM ("
            "SELECT 'not_null(event_id)' AS rule, 'event_id' AS \"column\", "
            "CAST(count(*) FILTER (WHERE event_id IS NULL) AS BIGINT) "
            "AS n_violations FROM events "
            "UNION ALL "
            "SELECT 'unique(event_id)', 'event_id', "
            "CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM ("
            "SELECT count(*) AS c FROM events "
            "WHERE event_id IS NOT NULL GROUP BY event_id) "
            "UNION ALL "
            "SELECT 'in_range(value)', 'value', "
            "CAST(count(*) FILTER (WHERE value IS NULL "
            "OR value < 0.0 OR value > 50.0) AS BIGINT) FROM events)"
        ),
        # End state after MERGEing the update stream (event_id % 10 = 0
        # re-arrives with value+1000): one row per key, update applied.
        "s_stream_cdc_upsert": (
            "SELECT event_type, count(*) AS n_rows, "
            "count(DISTINCT event_id) AS n_keys, "
            "round(sum(CASE WHEN event_id % 10 = 0 THEN value + 1000 "
            "ELSE value END), 2) AS sum_value "
            "FROM events GROUP BY event_type"
        ),
        # RGB gradient payloads are generated from doc_id, so the
        # decoded per-channel means are arithmetically determined:
        # mean_r = id%180 + (w-1)/2, mean_g = id%180 + (h-1)/2,
        # mean_b = id%80 + (w-1)/2 + (h-1)/2 with w = id%12+1,
        # h = id%9+1.
        # Oracle is the PLAIN join+aggregate: bucketing must be
        # invisible in the result (the no-shuffle plan is pytest-pinned).
        "s_bucketed_join": (
            "SELECT o_orderstatus, count(*) AS n_items, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
            "GROUP BY o_orderstatus"
        ),
        # Duplicated k-token spans: DuckDB 1-based inclusive slices —
        # toks[i:i+k-1] is k tokens; starts range over 1..L-k+1
        # (range() excludes its stop, hence L-k+2).
        "d_span_dedup": (
            f"WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents), "
            "f AS (SELECT * FROM t WHERE len(toks) >= 8), "
            "g AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS span "
            "FROM (SELECT doc_id, toks, "
            "unnest(range(1, len(toks) - 6)) AS i FROM f)), "
            "c AS (SELECT doc_id, "
            "count(*) OVER (PARTITION BY span) AS n FROM g) "
            "SELECT doc_id, count(*) AS n_spans, "
            "CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_dup_spans, "
            "round(CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "/ count(*), 6) AS dup_frac "
            "FROM c GROUP BY doc_id"
        ),
        # All-pairs old-half x new-half jaccard — fair judge of the
        # banded join because bands=32/2-rows is effectively
        # exhaustive at t=0.8 (miss ~6e-15; same argument as
        # d_near_dup_pairs).
        "d_incremental_dedup": (
            "WITH cut AS (SELECT (max(doc_id)+1)//2 AS c FROM documents), "
            f"sh AS (SELECT doc_id, {_SHINGLES} AS s "
            f"FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents)), "
            "dup AS (SELECT DISTINCT b.doc_id FROM sh b, sh a, cut "
            "WHERE b.doc_id >= cut.c AND a.doc_id < cut.c "
            "AND CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) "
            "/ len(list_distinct(b.s || a.s)) >= 0.8) "
            "SELECT doc_id, lang, source FROM documents, cut "
            "WHERE doc_id >= cut.c "
            "AND doc_id NOT IN (SELECT doc_id FROM dup)"
        ),
        # First-arrival attribution per 8-token span: min(doc_id)
        # window over the span partition, then a per-doc rollup —
        # same shape as d_span_dedup with min instead of count.
        "t_ngram_novelty": (
            "WITH tk AS (SELECT doc_id, "
            f"{_TOKENS} AS toks FROM documents), "
            "sp AS (SELECT doc_id, unnest(list_transform("
            "range(1, len(toks) - 7 + 1), "
            "i -> array_to_string(toks[i:i+7], ' '))) AS span "
            "FROM tk WHERE len(toks) >= 8), "
            "f AS (SELECT doc_id, "
            "min(doc_id) OVER (PARTITION BY span) AS first_id FROM sp) "
            "SELECT doc_id, count(*) AS n_spans, "
            "CAST(sum(CASE WHEN first_id < doc_id THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_stale, "
            "round(1 - CAST(sum(CASE WHEN first_id < doc_id THEN 1 "
            "ELSE 0 END) AS BIGINT) / count(*), 6) AS novelty_frac "
            "FROM f GROUP BY doc_id"
        ),
        # Inverted-index TF-IDF cosine, top-1 neighbor per doc; tf =
        # count/doc-tokens, idf = ln(N/df), tie-break (rounded cos
        # DESC, neighbor id ASC) — mirrors operators/text.py:
        # sparse_nn_tfidf term for term.
        "t_sparse_nn": (
            "WITH tk AS (SELECT doc_id, "
            f"{_TOKENS} AS toks FROM documents), "
            "t AS (SELECT doc_id, unnest(toks) AS term, len(toks) "
            "AS ntok FROM tk), "
            "tf AS (SELECT doc_id, term, "
            "count(*) / CAST(min(ntok) AS DOUBLE) AS tf "
            "FROM t GROUP BY doc_id, term), "
            "n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents), "
            "p AS (SELECT doc_id, term, tf * ln(nd / "
            "(count(*) OVER (PARTITION BY term))) AS w FROM tf, n), "
            "nm AS (SELECT doc_id, sqrt(sum(w*w)) AS norm "
            "FROM p GROUP BY doc_id), "
            "dots AS (SELECT a.doc_id AS ida, b.doc_id AS idb, "
            "sum(a.w * b.w) AS dot FROM p a JOIN p b "
            "ON a.term = b.term AND a.doc_id <> b.doc_id "
            "WHERE a.doc_id < 100 "
            "GROUP BY a.doc_id, b.doc_id), "
            "sc AS (SELECT ida, idb, round(dot / (na.norm * nb.norm), 6) "
            "AS cosine_sim FROM dots "
            "JOIN nm na ON dots.ida = na.doc_id "
            "JOIN nm nb ON dots.idb = nb.doc_id) "
            "SELECT ida AS doc_id, idb AS nn_doc_id, cosine_sim FROM ("
            "SELECT ida, idb, cosine_sim, row_number() OVER ("
            "PARTITION BY ida ORDER BY cosine_sim DESC, idb) AS rn "
            "FROM sc) WHERE rn = 1"
        ),
        # Generated twin of the JL projection (same md5 sign matrix,
        # same fold order) — see _rp_oracle_sql.
        "v_random_projection": _rp_oracle_sql(16, 64),
        # Integer-only iterative fixed point — unrolled like pagerank
        # but with zero float state; see _lpa_oracle_sql.
        "g_label_propagation": _lpa_oracle_sql(5),
        # Oscillation magnitude rounds 5->6, reproduced exactly by
        # the unrolled oracle — see _q_lpa_stable for why synchronous
        # LPA cannot be run "to convergence" on this graph.
        "g_lpa_stable": _lpa_oracle_sql(6, stability_probe=True),
        "g_kcore": _kcore_oracle_sql(3, 12),
        # Fixed-point evidence: one more peel round removes 0 nodes.
        "g_kcore_stable": _kcore_oracle_sql(3, 12, stability_probe=True),
        "q_order_intervals": (
            "WITH g AS (SELECT o_custkey, date_diff('day', "
            "lag(CAST(o_orderdate AS DATE)) OVER ("
            "PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), "
            "o_orderkey), CAST(o_orderdate AS DATE)) AS gap FROM orders) "
            "SELECT o_custkey, count(*) AS n_gaps, "
            "round(quantile_cont(gap, 0.5), 6) AS median_gap_days, "
            "CAST(max(gap) AS BIGINT) AS max_gap_days "
            "FROM g WHERE gap IS NOT NULL GROUP BY o_custkey"
        ),
        "q_new_vs_returning": (
            "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) "
            "AS d FROM events), "
            "f AS (SELECT user_id, min(d) AS fd FROM ud GROUP BY user_id) "
            "SELECT strftime(ud.d, '%Y-%m-%d') AS day, "
            "CAST(sum(CASE WHEN ud.d = f.fd THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_new, "
            "CAST(sum(CASE WHEN ud.d <> f.fd THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_returning "
            "FROM ud JOIN f ON ud.user_id = f.user_id GROUP BY ud.d"
        ),
        # Micros-gap sessionization (sub-second precision — note
        # q_sessionize's own twin compares floor-SECOND gaps, so the
        # two keys may split boundary events differently), then list
        # n-grams per session.
        "q_session_paths": (
            "WITH o AS (SELECT user_id, ts, event_id, event_type, "
            "CASE WHEN lag(ts) OVER w IS NULL OR epoch_us(ts) "
            "- epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END "
            "AS ns FROM events "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
            "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid "
            "FROM o), "
            "q AS (SELECT user_id, sid, "
            "list(event_type ORDER BY ts, event_id) AS types "
            "FROM s GROUP BY user_id, sid), "
            "g AS (SELECT unnest(list_transform("
            "range(1, len(types) - 1), "
            "i -> array_to_string(types[i:i+2], '>'))) AS path "
            "FROM q WHERE len(types) >= 3) "
            "SELECT path, count(*) AS n FROM g GROUP BY path "
            "ORDER BY n DESC, path LIMIT 20"
        ),
        # Running-sum window mirrors the two-phase rank's prefix sums;
        # rounding absorbs differing addition trees.
        "q_pareto_front": (
            # integer-cents prefix sums: exact, so the 0.8
            # threshold compare is regrouping-proof
            "WITH rev AS (SELECT l_partkey, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) "
            "* (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) "
            "AS revenue, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) "
            "* (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) * 100 "
            "AS BIGINT) AS cents FROM lineitem GROUP BY l_partkey), "
            "r AS (SELECT l_partkey, revenue, cents, "
            "row_number() OVER (ORDER BY cents DESC, l_partkey) AS rank, "
            "CAST(coalesce(sum(cents) OVER (ORDER BY cents DESC, "
            "l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "1 PRECEDING), 0) AS BIGINT) AS before FROM rev), "
            "t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM rev) "
            "SELECT rank, l_partkey, revenue, "
            "round(CAST(before + cents AS DOUBLE) / tot, 6) "
            "AS cum_share "
            "FROM r, t WHERE CAST(before AS DOUBLE) / tot < 0.8"
        ),
        "q_gini_revenue": (
            "WITH rev AS (SELECT l_partkey, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) "
            "* (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) "
            "AS revenue FROM lineitem GROUP BY l_partkey), "
            "r AS (SELECT revenue, row_number() OVER ("
            "ORDER BY revenue, l_partkey) AS rnk FROM rev) "
            "SELECT CAST(count(*) AS BIGINT) AS n_parts, "
            "round(2.0 * sum(rnk * revenue) / (count(*) * sum(revenue)) "
            "- (count(*) + 1.0) / count(*), 6) AS gini FROM r"
        ),
        # Same percentile interpolation, same least/greatest clip.
        "q_winsorize": (
            "WITH c AS (SELECT event_type, "
            "quantile_cont(value, 0.01) AS lo, "
            "quantile_cont(value, 0.99) AS hi "
            "FROM events GROUP BY event_type) "
            "SELECT e.event_type, count(*) AS n_events, "
            "CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_clipped_low, "
            "CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_clipped_high, "
            "round(avg(value), 6) AS mean_raw, "
            "round(avg(CASE WHEN value IS NOT NULL "
            "THEN least(greatest(value, lo), hi) END), 6) "
            "AS mean_winsorized "
            "FROM events e JOIN c ON e.event_type = c.event_type "
            "GROUP BY e.event_type"
        ),
        # First [1-9] of the decimal rendering on both engines.
        "q_benford_audit": (
            "WITH c AS (SELECT CAST(regexp_extract(CAST(abs(o_totalprice) "
            "AS VARCHAR), '[1-9]') AS INTEGER) AS digit FROM orders "
            "WHERE o_totalprice <> 0), "
            "g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c "
            "GROUP BY digit), "
            "t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g) "
            "SELECT digit, n, round(CAST(n AS DOUBLE) / tot, 6) "
            "AS observed, round(log10(1.0 + 1.0 / digit), 6) AS expected "
            "FROM g, t"
        ),
        # Same closed form H = log2(t) - sum(n*log2(n))/t over the
        # same unpivoted (column, value) counts.
        "q_entropy_profile": (
            "WITH u AS (SELECT 'event_type' AS \"column\", "
            "event_type AS value FROM events "
            "UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) "
            "FROM events), "
            "c AS (SELECT \"column\", value, "
            "CAST(count(*) AS DOUBLE) AS n FROM u GROUP BY 1, 2) "
            "SELECT \"column\", CAST(count(*) AS BIGINT) AS n_distinct, "
            "round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) "
            "AS entropy_bits FROM c GROUP BY \"column\""
        ),
        # Same lead-window interval construction, integer microseconds.
        "j_scd2_intervals": (
            "SELECT user_id, event_id, "
            "epoch_us(ts) AS valid_from_us, "
            "epoch_us(lead(ts) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id)) AS valid_to_us, "
            "lead(ts) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) IS NULL AS is_current "
            "FROM events"
        ),
        # Same regr_* moment aggregates; round(6) absorbs the ~1e-15
        # accumulation-order differences between engines.
        "q_revenue_trend": (
            "SELECT o_orderpriority, "
            "round(regr_slope(y, x), 6) AS slope, "
            "round(regr_intercept(y, x), 6) AS intercept, "
            "round(regr_r2(y, x), 6) AS r2, "
            "count(*) AS n_orders FROM ("
            "SELECT o_orderpriority, CAST(date_diff('day', "
            "DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) "
            "AS x, CAST(o_totalprice AS DOUBLE) AS y FROM orders) "
            "GROUP BY o_orderpriority"
        ),
        # Wedge-close triangle mirror: same strong-edge set (n >= 2),
        # same a<b<c orientation, per-node participation via 3-way
        # unnest.
        "v_pq_topk": _RECALL_OK_SQL,
        "v_ivfpq_topk": _RECALL_OK_SQL,
        "j_asof_nearest": (
            "SELECT event_id, user_id, epoch_us(ts) AS click_us, "
            "CASE WHEN bts IS NULL THEN epoch_us(fts) "
            "WHEN fts IS NULL THEN epoch_us(bts) "
            "WHEN (epoch_us(fts) - epoch_us(ts)) < "
            "(epoch_us(ts) - epoch_us(bts)) THEN epoch_us(fts) "
            "ELSE epoch_us(bts) END AS nearest_purchase_us "
            "FROM (SELECT c.event_id, c.user_id, c.ts, "
            "(SELECT max(p.ts) FROM events p WHERE "
            "p.event_type = 'purchase' AND p.user_id = c.user_id "
            "AND p.ts <= c.ts) AS bts, "
            "(SELECT min(p.ts) FROM events p WHERE "
            "p.event_type = 'purchase' AND p.user_id = c.user_id "
            "AND p.ts >= c.ts) AS fts "
            "FROM events c WHERE c.event_type = 'click')"
        ),
        # Level-synchronous BFS == min(dist) over all depth-bounded
        # walks: the recursive CTE's UNION (distinct) bounds rows to
        # nodes x (max_hops+1), so the unroll terminates on cycles.
        "g_bfs_parts": (
            "WITH RECURSIVE "
            + _part_edges_sql("e", symmetric=True, min_n=2)
            + ", walk(node, dist) AS ("
            "SELECT DISTINCT s, 0 FROM e WHERE s <= 5 "
            "UNION "
            "SELECT e.d, walk.dist + 1 FROM walk "
            "JOIN e ON e.s = walk.node WHERE walk.dist < 4) "
            "SELECT node, CAST(min(dist) AS INT) AS dist "
            "FROM walk GROUP BY node"
        ),
        "t_zipf_profile": (
            "WITH w AS (SELECT source AS grp, "
            f"unnest({_TOKENS}) AS word FROM documents), "
            "freq AS (SELECT grp, word, count(*) AS freq "
            "FROM w GROUP BY 1, 2), "
            "ranked AS (SELECT grp, freq, row_number() OVER ("
            "PARTITION BY grp ORDER BY freq DESC, word) AS rank "
            "FROM freq) "
            "SELECT grp AS source, count(*) AS n_terms, "
            "CAST(sum(freq) AS BIGINT) AS n_tokens, "
            "round(regr_slope(ln(CAST(freq AS DOUBLE)), "
            "ln(CAST(rank AS DOUBLE))), 6) AS zipf_slope, "
            "round(regr_r2(ln(CAST(freq AS DOUBLE)), "
            "ln(CAST(rank AS DOUBLE))), 6) AS fit_r2 "
            "FROM ranked GROUP BY grp HAVING count(*) >= 5"
        ),
        # Rate-ratio distinctive terms: every count exact; the score
        # is one fixed-shape double expression (a·(d+1))/(b·(c+1)) —
        # raw quotient, no rounding (the g_link_prediction convention).
        "t_distinctive_terms": (
            "WITH toks AS (SELECT source, "
            f"unnest({_TOKENS}) AS term FROM documents), "
            "per AS (SELECT source, term, "
            "CAST(count(*) AS BIGINT) AS n_in_source "
            "FROM toks GROUP BY 1, 2), "
            "tot AS (SELECT CAST(sum(n_in_source) AS BIGINT) AS total "
            "FROM per), "
            "src AS (SELECT source, CAST(sum(n_in_source) AS BIGINT) AS b "
            "FROM per GROUP BY 1), "
            "trm AS (SELECT term, CAST(sum(n_in_source) AS BIGINT) AS tt "
            "FROM per GROUP BY 1) "
            "SELECT source, term_rank, term, n_in_source, ratio FROM ("
            "SELECT p.source, p.term, p.n_in_source, "
            "(CAST(p.n_in_source AS DOUBLE) * "
            "CAST(tot.total - s.b + 1 AS DOUBLE)) / "
            "(CAST(s.b AS DOUBLE) * "
            "CAST(t.tt - p.n_in_source + 1 AS DOUBLE)) AS ratio, "
            "row_number() OVER (PARTITION BY p.source ORDER BY "
            "(CAST(p.n_in_source AS DOUBLE) * "
            "CAST(tot.total - s.b + 1 AS DOUBLE)) / "
            "(CAST(s.b AS DOUBLE) * "
            "CAST(t.tt - p.n_in_source + 1 AS DOUBLE)) DESC, p.term) "
            "AS term_rank "
            "FROM per p CROSS JOIN tot "
            "JOIN src s ON p.source = s.source "
            "JOIN trm t ON p.term = t.term "
            "WHERE p.n_in_source >= 5) WHERE term_rank <= 10"
        ),
        "g_link_prediction": (
            "WITH "
            + _part_edges_sql("e0", symmetric=True, min_n=2)
            + ", e AS (SELECT DISTINCT least(s, d) AS a, "
            "greatest(s, d) AS b FROM e0), "
            "adj AS (SELECT a AS node, b AS nb FROM e "
            "UNION ALL SELECT b, a FROM e), "
            "deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1), "
            "w AS (SELECT l.nb AS x, r.nb AS z, count(*) AS cn "
            "FROM adj l JOIN adj r ON l.node = r.node AND l.nb < r.nb "
            "GROUP BY 1, 2), "
            "ne AS (SELECT x, z, cn FROM w WHERE NOT EXISTS ("
            "SELECT 1 FROM e WHERE e.a = w.x AND e.b = w.z)) "
            "SELECT x AS node_a, z AS node_b, CAST(cn AS BIGINT) AS cn, "
            "CAST(cn AS DOUBLE) / (dx.deg + dz.deg - cn) AS jaccard "
            "FROM ne JOIN deg dx ON dx.node = ne.x "
            "JOIN deg dz ON dz.node = ne.z "
            "ORDER BY jaccard DESC, cn DESC, node_a, node_b LIMIT 50"
        ),
        "g_triangles": (
            "WITH "
            + _part_edges_sql("e", symmetric=False, min_n=2)
            + ", t AS (SELECT e1.s AS x, e1.d AS y, e2.d AS z "
            "FROM e e1 JOIN e e2 ON e1.d = e2.s "
            "JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d) "
            "SELECT node, count(*) AS n_triangles FROM ("
            "SELECT unnest([x, y, z]) AS node FROM t) GROUP BY node"
        ),
        # Same md5-slot arithmetic (first 8 hex chars -> BIGINT, mod
        # item count), dense index via row_number, positives dropped
        # by null-filtered left join.
        "c_sample_negatives": (
            "WITH pos AS (SELECT DISTINCT o.o_custkey AS user_id, "
            "l.l_partkey AS item FROM orders o JOIN lineitem l "
            "ON l.l_orderkey = o.o_orderkey), "
            "it AS (SELECT p_partkey AS item, "
            "row_number() OVER (ORDER BY p_partkey) - 1 AS idx FROM part), "
            "n AS (SELECT CAST(count(*) AS BIGINT) AS ni FROM part), "
            "u AS (SELECT DISTINCT user_id FROM pos), "
            "s AS (SELECT user_id, unnest(range(0, 4)) AS slot FROM u), "
            "c AS (SELECT user_id, CAST(slot AS BIGINT) AS slot, "
            "CAST(concat('0x', substr(md5(concat(user_id, '_', slot)), "
            "1, 8)) AS BIGINT) % ni AS idx FROM s, n) "
            "SELECT c.user_id, c.slot, it.item FROM c "
            "JOIN it ON c.idx = it.idx "
            "LEFT JOIN pos ON pos.user_id = c.user_id "
            "AND pos.item = it.item WHERE pos.item IS NULL"
        ),
        # Quantile cutoff (same interpolation as Spark's exact
        # percentile); integer-microsecond time math; embargo band in
        # neither split.
        "c_temporal_split": (
            "WITH c AS (SELECT quantile_cont(epoch_us(ts), 0.8) AS cut "
            "FROM events) "
            "SELECT event_id, CASE WHEN epoch_us(ts) > cut THEN 'test' "
            "WHEN epoch_us(ts) <= cut - 86400000000.0 THEN 'train' "
            "ELSE 'embargo' END AS split FROM events, c"
        ),
        # Iterative fixed point, verified by UNROLLING the recursion
        # into 10 SQL stages — see _pagerank_oracle_sql.
        "g_pagerank_parts": _pagerank_oracle_sql(10),
        # Basket co-occurrence: DISTINCT (order, part) first on both
        # sides; lift arithmetic in the same operation order.
        "q_part_pairs": (
            "WITH li AS (SELECT DISTINCT l_orderkey, l_partkey "
            "FROM lineitem), "
            "n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) "
            "AS n_orders FROM li), "
            "pc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part "
            "FROM li GROUP BY l_partkey), "
            "p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
            "CAST(count(*) AS BIGINT) AS n_both "
            "FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey "
            "AND a.l_partkey < b.l_partkey "
            "GROUP BY a.l_partkey, b.l_partkey) "
            "SELECT part_a, part_b, n_both, "
            "round(CAST(n_both AS DOUBLE) * n_orders "
            "/ (pa.n_part * pb.n_part), 6) AS lift "
            "FROM p JOIN pc pa ON p.part_a = pa.l_partkey "
            "JOIN pc pb ON p.part_b = pb.l_partkey, n "
            "ORDER BY n_both DESC, part_a, part_b LIMIT 20"
        ),
        # Quartile cuts via quantile_cont (same linear interpolation
        # as Spark's exact percentile); scores count boundary
        # crossings, recency inverted (recent = best).
        "q_rfm_segments": (
            "WITH pc AS (SELECT o_custkey, "
            "max(CAST(o_orderdate AS DATE)) AS last_d, "
            "CAST(count(*) AS BIGINT) AS frequency, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) "
            "AS DOUBLE) AS monetary "
            "FROM orders GROUP BY o_custkey), "
            "a AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor "
            "FROM orders), "
            "r AS (SELECT o_custkey, CAST(date_diff('day', last_d, anchor) "
            "AS BIGINT) AS recency_days, frequency, monetary FROM pc, a), "
            "c AS (SELECT "
            "quantile_cont(recency_days, 0.25) AS r1, "
            "quantile_cont(recency_days, 0.50) AS r2, "
            "quantile_cont(recency_days, 0.75) AS r3, "
            "quantile_cont(frequency, 0.25) AS f1, "
            "quantile_cont(frequency, 0.50) AS f2, "
            "quantile_cont(frequency, 0.75) AS f3, "
            "quantile_cont(monetary, 0.25) AS m1, "
            "quantile_cont(monetary, 0.50) AS m2, "
            "quantile_cont(monetary, 0.75) AS m3 FROM r) "
            "SELECT o_custkey, recency_days, frequency, monetary, "
            "CAST(4 - (recency_days > r1)::INT - (recency_days > r2)::INT "
            "- (recency_days > r3)::INT AS BIGINT) AS r_score, "
            "CAST(1 + (frequency > f1)::INT + (frequency > f2)::INT "
            "+ (frequency > f3)::INT AS BIGINT) AS f_score, "
            "CAST(1 + (monetary > m1)::INT + (monetary > m2)::INT "
            "+ (monetary > m3)::INT AS BIGINT) AS m_score "
            "FROM r, c"
        ),
        # Integer-microsecond epoch math on both sides — no float
        # seconds anywhere.
        "q_time_to_convert": (
            "WITH v AS (SELECT user_id, min(ts) AS t0 FROM events "
            "WHERE event_type = 'view' GROUP BY user_id), "
            "p AS (SELECT e.user_id, min(e.ts) AS t1, min(v.t0) AS t0 "
            "FROM events e JOIN v ON e.user_id = v.user_id "
            "WHERE e.event_type = 'purchase' AND e.ts >= v.t0 "
            "GROUP BY e.user_id) "
            "SELECT user_id, CAST(epoch_us(t1) - epoch_us(t0) AS BIGINT) "
            "AS micros_to_convert FROM p"
        ),
        # OLS from exact sufficient statistics: integer day index,
        # decimal Σy/Σxy, then ONE fixed-shape double expression over
        # identically-rounded double casts — raw quotients, no
        # rounding step (the g_link_prediction convention).
        "q_ols_trend": (
            "WITH b AS (SELECT o_orderpriority, "
            "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) "
            "AS x, CAST(o_totalprice AS DECIMAL(18,2)) AS y FROM orders), "
            "s AS (SELECT o_orderpriority, "
            "CAST(count(*) AS BIGINT) AS n_orders, "
            "CAST(sum(x) AS DOUBLE) AS sx, "
            "CAST(sum(x*x) AS DOUBLE) AS sxx, "
            "CAST(sum(y) AS DOUBLE) AS sy, "
            "CAST(sum(y * CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sxy "
            "FROM b GROUP BY o_orderpriority) "
            "SELECT o_orderpriority, n_orders, "
            "CASE WHEN (n_orders*sxx - sx*sx) <> 0 THEN "
            "(n_orders*sxy - sx*sy)/(n_orders*sxx - sx*sx) END "
            "AS slope_per_day, "
            "CASE WHEN (n_orders*sxx - sx*sx) <> 0 THEN "
            "(sy - ((n_orders*sxy - sx*sy)/(n_orders*sxx - sx*sx))*sx)"
            "/n_orders END AS intercept FROM s"
        ),
        # list_reduce seeds with the first element and folds left —
        # the same recurrence order as the Spark aggregate(); (1.0 -
        # 0.3) is written as a subtraction so both engines derive the
        # coefficient with the identical IEEE op.
        # Recursive-CTE unroll of the (level, trend) recurrence —
        # position t derives from t-1 with the identical IEEE ops the
        # Spark struct fold applies. NOT a list_reduce twin on
        # purpose: DuckDB 1.0.0's list_reduce mis-evaluates repeated
        # compound subexpressions across struct fields (verified: a
        # 3-element struct fold returns values no left-fold of the
        # lambda can produce, while the same ops in plain projections
        # are correct), so the oracle unrolls through the recursive
        # CTE instead (the d_dup_components pattern).
        "q_holt_linear": (
            "WITH RECURSIVE seq AS (SELECT o_custkey, "
            "row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS pos, "
            "CAST(o_totalprice AS DOUBLE) AS y FROM orders), "
            "cnt AS (SELECT o_custkey, CAST(count(*) AS BIGINT) "
            "AS n_orders FROM seq GROUP BY o_custkey), "
            "rec(o_custkey, pos, l, b) AS ("
            "SELECT o_custkey, pos, y, CAST(0.0 AS DOUBLE) "
            "FROM seq WHERE pos = 1 "
            "UNION ALL "
            "SELECT s.o_custkey, s.pos, "
            "0.4 * s.y + (1.0 - 0.4) * (r.l + r.b), "
            "0.3 * ((0.4 * s.y + (1.0 - 0.4) * (r.l + r.b)) - r.l) "
            "+ (1.0 - 0.3) * r.b "
            "FROM rec r JOIN seq s ON s.o_custkey = r.o_custkey "
            "AND s.pos = r.pos + 1) "
            "SELECT r.o_custkey, c.n_orders, round(r.l, 6) AS level, "
            "round(r.b, 6) AS trend, "
            "round(r.l + r.b, 6) AS forecast_next "
            "FROM rec r JOIN cnt c ON r.o_custkey = c.o_custkey "
            "AND r.pos = c.n_orders"
        ),
        "q_ewma_value": (
            "WITH o AS (SELECT user_id, "
            "CAST(count(*) AS BIGINT) AS n_events, "
            "list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals "
            "FROM events GROUP BY user_id) "
            "SELECT user_id, n_events, "
            "round(list_reduce(vals, "
            "(a, x) -> 0.3 * x + (1.0 - 0.3) * a), 6) AS ewma_value "
            "FROM o"
        ),
        # Removal twin: duplicate occurrences (row_number > 1 in
        # global (doc_id, pos) order per span) cover k positions each;
        # covered tokens drop, survivors rejoin in position order.
        "d_span_removed": (
            f"WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents), "
            "f AS (SELECT * FROM t WHERE len(toks) >= 8), "
            "occ AS (SELECT doc_id, i AS pos, "
            "array_to_string(toks[i:i+7], ' ') AS span "
            "FROM (SELECT doc_id, toks, "
            "unnest(range(1, len(toks) - 6)) AS i FROM f)), "
            "dup AS (SELECT doc_id, pos FROM ("
            "SELECT doc_id, pos, row_number() OVER ("
            "PARTITION BY span ORDER BY doc_id, pos) AS rn FROM occ) "
            "WHERE rn > 1), "
            "cov AS (SELECT DISTINCT doc_id, pos + d AS p FROM ("
            "SELECT doc_id, pos, unnest(range(0, 8)) AS d FROM dup)), "
            "tp AS (SELECT doc_id, p, toks[p] AS tok FROM ("
            "SELECT doc_id, toks, "
            "unnest(range(1, len(toks) + 1)) AS p FROM f)), "
            "fl AS (SELECT tp.doc_id, tp.p, tp.tok, "
            "cov.p IS NOT NULL AS rm FROM tp LEFT JOIN cov "
            "ON tp.doc_id = cov.doc_id AND tp.p = cov.p) "
            "SELECT doc_id, count(*) AS n_tokens, "
            "CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_removed, "
            "coalesce(string_agg(tok, ' ' ORDER BY p) "
            "FILTER (WHERE NOT rm), '') AS text_clean "
            "FROM fl GROUP BY doc_id"
        ),
        "m_decode_png_rgb": (
            "SELECT doc_id, "
            "CAST(doc_id % 12 + 1 AS INTEGER) AS width, "
            "CAST(doc_id % 9 + 1 AS INTEGER) AS height, "
            "round(CAST(doc_id % 180 AS DOUBLE) "
            "+ (doc_id % 12) / 2.0, 6) AS mean_r, "
            "round(CAST(doc_id % 180 AS DOUBLE) "
            "+ (doc_id % 9) / 2.0, 6) AS mean_g, "
            "round(CAST(doc_id % 80 AS DOUBLE) + (doc_id % 12) / 2.0 "
            "+ (doc_id % 9) / 2.0, 6) AS mean_b "
            "FROM documents"
        ),
        # corpus preparation (operators/corpus.py). DuckDB range()
        # EXCLUDES its stop where Spark sequence() includes it — hence
        # the +1 bounds; list slices l[a:b] are 1-based inclusive.
        "c_chunks": (
            f"WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents), "
            "s AS (SELECT doc_id, toks, "
            "range(1, greatest(len(toks) - 8, 1) + 1, 56) AS starts "
            "FROM t WHERE len(toks) > 0) "
            "SELECT doc_id, "
            "CAST(unnest(range(0, len(starts))) AS INT) AS chunk_idx, "
            "unnest(list_transform(starts, "
            "s -> array_to_string(toks[s : s + 63], ' '))) AS chunk_text, "
            "CAST(unnest(list_transform(starts, "
            "s -> least(64, len(toks) - s + 1))) AS INT) AS n_tokens "
            "FROM s"
        ),
        "c_redact_pii": (
            "WITH t AS (SELECT doc_id, text || ' contact user' || "
            "CAST(doc_id AS VARCHAR) || '@example.com at 10.0.0.7 or "
            "+1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
            "AS text2 FROM documents), "
            "r AS (SELECT doc_id, text2, "
            "regexp_replace(text2, '" + _EMAIL_RE + "', '[EMAIL]', 'g') AS ae "
            "FROM t), "
            "r2 AS (SELECT doc_id, text2, ae, "
            "regexp_replace(ae, '" + _IPV4_RE + "', '[IP]', 'g') AS ai FROM r) "
            "SELECT doc_id, "
            "regexp_replace(ai, '" + _PHONE_RE + "', '[PHONE]', 'g') "
            "AS text_redacted, "
            "CAST(len(regexp_extract_all(text2, '" + _EMAIL_RE + "')) + "
            "len(regexp_extract_all(ae, '" + _IPV4_RE + "')) + "
            "len(regexp_extract_all(ai, '" + _PHONE_RE + "')) AS INT) "
            "AS pii_hits FROM r2"
        ),
        "c_split_assign": (
            "SELECT doc_id, CASE WHEN b < 10 THEN 'val' "
            "WHEN b < 20 THEN 'test' ELSE 'train' END AS split "
            "FROM (SELECT doc_id, "
            "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
            "AS BIGINT) % 100 AS b FROM documents)"
        ),
        # The PNG payloads are generated from doc_id (gradient images),
        # so the decoded stats are arithmetically determined — a hash
        # match proves the real encode→decode round-trip.
        # GIF frames are gradient grids c+10f+x+y over (nf, w, h) =
        # (id%5+1, id%10+1, id%7+1), so the all-frames mean is exactly
        # c + 5(nf-1) + (w-1)/2 + (h-1)/2 — a hash match proves the
        # container parse + per-frame LZW decode, not a fake.
        "m_decode_gif": (
            "SELECT doc_id, "
            "CAST(doc_id % 5 + 1 AS INTEGER) AS n_frames, "
            "CAST(doc_id % 10 + 1 AS INTEGER) AS width, "
            "CAST(doc_id % 7 + 1 AS INTEGER) AS height, "
            "round(CAST(doc_id % 150 AS DOUBLE) + 5.0 * (doc_id % 5) "
            "+ (doc_id % 10) / 2.0 + (doc_id % 7) / 2.0, 6) AS mean_px "
            "FROM documents"
        ),
        # Closed-form replay of the scene-cut schedule: cut at
        # transition f iff (doc_id + f) % 3 == 0; nf >= 2 so every
        # clip has at least one transition (max_jump 25 or 2).
        "m_scene_cuts": (
            "WITH d AS (SELECT doc_id, "
            "CAST(doc_id % 6 + 2 AS INT) AS nf FROM documents), "
            "t AS (SELECT doc_id, nf, unnest(range(1, nf)) AS f FROM d), "
            "c AS (SELECT doc_id, CAST(sum(CASE WHEN (doc_id + f) % 3 = 0 "
            "THEN 1 ELSE 0 END) AS INT) AS n_cuts FROM t GROUP BY doc_id) "
            "SELECT d.doc_id, d.nf AS n_frames, c.n_cuts, "
            "CAST(CASE WHEN c.n_cuts > 0 THEN 25 ELSE 2 END AS BIGINT) "
            "AS max_jump FROM d JOIN c USING (doc_id)"
        ),
        # Generated closed-form twin of the 7x7 integer aHash —
        # see _phash_oracle_sql.
        "m_phash": _phash_oracle_sql(),
        "m_decode_png": (
            "SELECT doc_id, "
            "CAST(doc_id % 16 + 1 AS INTEGER) AS width, "
            "CAST(doc_id % 12 + 1 AS INTEGER) AS height, "
            "round(CAST(doc_id % 200 AS DOUBLE) "
            "+ (doc_id % 16) / 2.0 + (doc_id % 12) / 2.0, 6) AS mean_px "
            "FROM documents"
        ),
        # WAV payloads are ramp waveforms generated from doc_id, so the
        # decoded stats are arithmetically determined: n = id%50+10,
        # sample[i] = id%1000 + i ⇒ sum = n*c + n*(n-1)/2.
        # Regenerate the deterministic ramp samples relationally and
        # frame them with integer aggregation: all-integer energies,
        # so decode+DSP is pinned exactly. HAVING count(*)=16 drops
        # the trailing partial frame, matching hop=frame framing.
        "m_audio_frames": (
            "WITH s AS (SELECT doc_id, doc_id % 1000 AS c, "
            "doc_id % 50 + 10 AS n FROM documents), "
            "samp AS (SELECT doc_id, c, unnest(range(0, n)) AS i "
            "FROM s), "
            "fr AS (SELECT doc_id, i // 16 AS f, "
            "sum((c + i) * (c + i)) AS e FROM samp "
            "GROUP BY doc_id, i // 16 HAVING count(*) = 16) "
            "SELECT doc_id, CAST(count(*) AS INT) AS n_frames, "
            "CAST(max(e) AS BIGINT) AS max_frame_energy, "
            "CAST(sum(e) AS BIGINT) AS total_energy "
            "FROM fr GROUP BY doc_id"
        ),
        "m_decode_wav": (
            "SELECT doc_id, "
            "CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate, "
            "CAST(doc_id % 50 + 10 AS BIGINT) AS n_samples, "
            "CAST((doc_id % 50 + 10) * (doc_id % 1000) "
            "+ (doc_id % 50 + 10) * (doc_id % 50 + 9) // 2 AS BIGINT) "
            "AS sum_samples FROM documents"
        ),
        # Oracle is the PLAIN join: salting must be invisible in the
        # result.
        "q_skew_salted_join": (
            "SELECT e.event_type, count(*) AS n_events, "
            "round(sum(e.value * w.weight), 2) AS weighted_value "
            "FROM events e JOIN (VALUES ('click', 1.0), ('view', 0.5), "
            "('purchase', 10.0), ('signup', 5.0), ('error', 0.0)) "
            "AS w(event_type, weight) ON e.event_type = w.event_type "
            "GROUP BY e.event_type"
        ),
        "q_approx_quantiles": (
            "SELECT event_type, "
            "round(quantile_cont(value, 0.5), 6) AS p50, "
            "round(quantile_cont(value, 0.95), 6) AS p95, "
            "round(quantile_cont(value, 0.99), 6) AS p99, "
            "TRUE AS approx_ok FROM events GROUP BY event_type"
        ),
        "q_latest_event": (
            "SELECT user_id, event_type AS last_type, "
            "round(value, 6) AS last_value, n_events FROM ("
            "SELECT *, row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts DESC, event_id DESC) AS rn, "
            "count(*) OVER (PARTITION BY user_id) AS n_events "
            "FROM events) WHERE rn = 1"
        ),
        "q_stratified_sample": (
            "SELECT c_custkey, c_mktsegment FROM ("
            "SELECT c_custkey, c_mktsegment, "
            "CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), "
            "1, 8)) AS BIGINT) % 100 AS b FROM customer) "
            "WHERE b < CASE c_mktsegment WHEN 'BUILDING' THEN 50 "
            "WHEN 'AUTOMOBILE' THEN 25 WHEN 'MACHINERY' THEN 10 "
            "ELSE 5 END"
        ),
        "q_zorder_buckets": (
            "WITH z AS (SELECT " + _zorder_sql(
                "(o_custkey % 256)", "(o_orderkey % 256)", _ZORDER_BITS
            ) + " AS zval FROM orders) "
            "SELECT zval >> 8 AS z_bucket, count(*) AS n_rows, "
            "min(zval) AS z_min, max(zval) AS z_max "
            "FROM z GROUP BY zval >> 8"
        ),
        "q_zscore": (
            "SELECT event_id, event_type, "
            "round((value - avg(value) OVER (PARTITION BY event_type)) "
            "/ stddev_samp(value) OVER (PARTITION BY event_type), 6) "
            "AS z_value FROM events"
        ),
        "d_fuzzy_decontam": (
            "WITH sh AS (SELECT doc_id, "
            f"{_SHINGLES} AS s "
            f"FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents)), "
            "c AS (SELECT * FROM sh WHERE doc_id % 20 <> 0), "
            "b AS (SELECT * FROM sh WHERE doc_id % 20 = 0), "
            "hits AS (SELECT DISTINCT c.doc_id FROM c JOIN b ON "
            "CAST(len(list_intersect(c.s, b.s)) AS DOUBLE) "
            "/ len(list_distinct(c.s || b.s)) >= 0.8) "
            "SELECT c.doc_id, (hits.doc_id IS NOT NULL) AS contaminated "
            "FROM c LEFT JOIN hits ON c.doc_id = hits.doc_id"
        ),
        "q_corr_stats": (
            "SELECT l_returnflag, "
            "round(corr(l_quantity, l_extendedprice), 6) "
            "AS corr_qty_price, "
            "round(covar_samp(l_quantity, l_discount), 6) "
            "AS covar_qty_disc, "
            "round(stddev_samp(l_extendedprice), 6) AS std_price, "
            "count(*) AS n_rows FROM lineitem GROUP BY l_returnflag"
        ),
        "d_prefix_join": (
            f"WITH s AS (SELECT doc_id, list_distinct({_TOKENS}) AS toks "
            "FROM documents WHERE "
            f"len(list_distinct({_TOKENS})) > 0), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "len(list_intersect(a.toks, b.toks))::DOUBLE / "
            "(len(a.toks) + len(b.toks) "
            "- len(list_intersect(a.toks, b.toks))) AS j "
            "FROM s a JOIN s b ON a.doc_id < b.doc_id) "
            "SELECT id_a, id_b, round(j, 6) AS jaccard "
            "FROM p WHERE round(j, 6) >= 0.6"
        ),
        "d_prefix_join_slice": (
            f"WITH s AS (SELECT doc_id, list_distinct({_TOKENS}) AS toks "
            "FROM documents WHERE doc_id % 4 = 0 AND "
            f"len(list_distinct({_TOKENS})) > 0), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "len(list_intersect(a.toks, b.toks))::DOUBLE / "
            "(len(a.toks) + len(b.toks) "
            "- len(list_intersect(a.toks, b.toks))) AS j "
            "FROM s a JOIN s b ON a.doc_id < b.doc_id) "
            "SELECT id_a, id_b, round(j, 6) AS jaccard "
            "FROM p WHERE round(j, 6) >= 0.6"
        ),
        # Asymmetric containment (|A∩B|/|A|): raw double quotient of
        # exact ints — no rounding (the g_link_prediction convention).
        "d_containment": (
            "WITH sh AS (SELECT doc_id, "
            f"{_SHINGLES} AS s "
            f"FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents) "
            "WHERE len(toks) > 0) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "/ len(a.s) AS containment "
            "FROM sh a JOIN sh b ON a.doc_id <> b.doc_id "
            "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "/ len(a.s) >= 0.8"
        ),
        "s_compact_roundtrip": (
            "SELECT event_type, count(*) AS n_events, "
            "count(DISTINCT event_id) AS n_distinct_ids, "
            "TRUE AS compacted_fewer_files "
            "FROM events GROUP BY event_type"
        ),
        "q_approx_topk": (
            "SELECT event_type, count(*) AS n_events FROM events "
            "GROUP BY event_type ORDER BY n_events DESC, event_type "
            "LIMIT 3"
        ),
        "q_variant_props": (
            "SELECT event_type, count(*) AS n_events, "
            "CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS "
            "INTEGER) >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high, "
            "round(avg(CAST(json_extract_string(props, '$.k') AS "
            "INTEGER)), 6) AS avg_k "
            "FROM events GROUP BY event_type"
        ),
        "q_unpivot": (
            "WITH a AS (SELECT l_returnflag, "
            "round(sum(l_quantity), 2) AS qty, "
            "round(sum(l_extendedprice), 2) AS extended_price, "
            "round(sum(l_discount), 2) AS discount "
            "FROM lineitem GROUP BY l_returnflag) "
            "SELECT l_returnflag, 'qty' AS measure, qty AS value FROM a "
            "UNION ALL SELECT l_returnflag, 'extended_price', "
            "extended_price FROM a "
            "UNION ALL SELECT l_returnflag, 'discount', discount FROM a"
        ),
        "s_media_source": (
            "SELECT doc_id, 'png' AS kind, "
            "CAST(doc_id % 16 + 1 AS INTEGER) AS width, "
            "CAST(doc_id % 12 + 1 AS INTEGER) AS height, "
            "round(CAST(doc_id % 200 AS DOUBLE) "
            "+ (doc_id % 16) / 2.0 + (doc_id % 12) / 2.0, 6) AS mean_px "
            "FROM documents WHERE doc_id % 10 = 0"
        ),
        "t_repetition": (
            f"WITH base AS (SELECT doc_id, {_TOKENS} AS toks "
            "FROM documents), "
            "b AS (SELECT doc_id, len(toks) AS n_words, "
            "round(CASE WHEN len(toks) = 0 THEN 0 ELSE "
            "1 - len(list_distinct(toks))::DOUBLE / len(toks) END, 6) "
            "AS dup_word_frac, "
            "CASE WHEN len(toks) >= 2 THEN "
            "list_transform(range(1, len(toks)), "
            "i -> toks[i] || ' ' || toks[i + 1]) "
            "ELSE [] END AS grams FROM base), "
            "e AS (SELECT doc_id, unnest(grams) AS g FROM b), "
            "c AS (SELECT doc_id, g, count(*) AS n FROM e "
            "GROUP BY doc_id, g), "
            "t AS (SELECT doc_id, max(n) AS top_bg, sum(n) AS n_bg "
            "FROM c GROUP BY doc_id) "
            "SELECT b.doc_id, n_words, dup_word_frac, "
            "round(coalesce(top_bg::DOUBLE / n_bg, 0), 6) "
            "AS top_bigram_frac, "
            "(dup_word_frac > 0.3 OR "
            "round(coalesce(top_bg::DOUBLE / n_bg, 0), 6) > 0.18) "
            "AS is_repetitive "
            "FROM b LEFT JOIN t USING (doc_id)"
        ),
        "q_incremental_rollup": (
            "SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
            "count(*) AS n_events, round(sum(value), 2) AS sum_value, "
            "round(min(value), 2) AS min_value, "
            "round(max(value), 2) AS max_value, "
            "round(sum(value) / count(*), 6) AS avg_value "
            "FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')"
        ),
        "q_cms_counts": _cms_oracle_sql(4, 1024, 20),
        "q_kmv_overlap": _kmv_oracle_sql(128),
        "q_bloom_semijoin": _bloom_oracle_sql(4096, 3),
        "q_sketch_rollup": (
            "SELECT event_type, count(DISTINCT user_id) AS n_exact_users, "
            "TRUE AS rollup_ok FROM events GROUP BY event_type"
        ),
        "q_key_skew": (
            "SELECT l_suppkey, count(*) AS n_rows, "
            "round(count(*) / (SELECT count(*) FROM lineitem), 6) AS share "
            "FROM lineitem GROUP BY l_suppkey "
            "ORDER BY n_rows DESC, l_suppkey LIMIT 10"
        ),
        "s_stream_sessions": _SESSION_ORACLE,
        "q_session_window": _SESSION_ORACLE,
        "c_contamination": (
            f"WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents), "
            "g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN "
            "list_distinct(list_transform(range(1, len(toks) - 1), "
            "i -> array_to_string(toks[i : i + 2], ' '))) "
            "ELSE [] END AS grams FROM base), "
            "bench AS (SELECT DISTINCT unnest(grams) AS ngram FROM g "
            "WHERE doc_id % 20 = 0), "
            "corpus AS (SELECT * FROM g WHERE doc_id % 20 <> 0), "
            "e AS (SELECT doc_id, unnest(grams) AS ngram FROM corpus), "
            "h AS (SELECT e.doc_id, e.ngram, "
            "CASE WHEN b.ngram IS NOT NULL THEN 1 END AS hit "
            "FROM e LEFT JOIN bench b ON e.ngram = b.ngram) "
            "SELECT c.doc_id, count(h.ngram) AS n_ngrams, "
            "count(h.hit) AS n_contaminated, "
            "round(coalesce(count(h.hit) / nullif(count(h.ngram), 0), 0), 6) "
            "AS contamination "
            "FROM corpus c LEFT JOIN h ON c.doc_id = h.doc_id "
            "GROUP BY c.doc_id"
        ),
        "c_pack_sequences": (
            f"WITH t AS (SELECT doc_id, len({_TOKENS}) AS nt FROM documents), "
            "c AS (SELECT doc_id, nt, sum(nt) OVER (ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt "
            "AS tok_before FROM t) "
            "SELECT doc_id, CAST(nt AS INT) AS n_tokens, "
            "CAST(floor(tok_before / 256) AS BIGINT) AS bin_id, "
            "CAST(tok_before % 256 AS BIGINT) AS bin_offset FROM c"
        ),
        "c_shuffle_rank": (
            "SELECT doc_id, CAST(row_number() OVER "
            "(ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) "
            "AS shuffle_rank FROM documents"
        ),
        # end-to-end prep pipeline: CTE chain mirroring exact dedup →
        # near-dup drop → quality floor → chunk → split → stats
        "c_prep_pipeline": (
            "WITH exact AS (SELECT doc_id, text FROM documents "
            "WHERE doc_id IN (SELECT min(doc_id) FROM documents "
            "GROUP BY md5(text))), "
            f"sh AS (SELECT doc_id, {_SHINGLES} AS s, toks FROM "
            f"(SELECT doc_id, text, {_TOKENS} AS toks FROM exact)), "
            "losers AS (SELECT DISTINCT b.doc_id FROM sh a JOIN sh b "
            "ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "/ len(list_distinct(a.s || b.s)) >= 0.8), "
            "quality AS (SELECT doc_id, toks FROM sh "
            "WHERE doc_id NOT IN (SELECT doc_id FROM losers) "
            "AND len(toks) >= 10), "
            "st AS (SELECT doc_id, toks, "
            "range(1, greatest(len(toks) - 16, 1) + 1, 112) AS starts "
            "FROM quality), "
            "ch AS (SELECT doc_id, unnest(list_transform(starts, "
            "s -> least(128, len(toks) - s + 1))) AS n_tokens FROM st), "
            "sp AS (SELECT doc_id, n_tokens, CASE WHEN b < 10 THEN 'val' "
            "WHEN b < 20 THEN 'test' ELSE 'train' END AS split FROM "
            "(SELECT doc_id, n_tokens, "
            "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
            "AS BIGINT) % 100 AS b FROM ch)) "
            "SELECT split, count(DISTINCT doc_id) AS n_docs, "
            "count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) "
            "AS sum_tokens FROM sp GROUP BY split"
        ),
        # BM25: identical operand order on both sides so the IEEE
        # arithmetic folds bit-identically; sums of <=3 term scores per
        # doc round-stable at 6 decimals
        "t_bm25": (
            f"WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents), "
            "stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM t), "
            "tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term "
            "FROM t), "
            "m AS (SELECT doc_id, term, count(*) AS tf, first(dl) AS dl "
            "FROM tok WHERE term IN ('hash', 'join', 'vector') "
            "GROUP BY doc_id, term), "
            "d AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM m) "
            "SELECT doc_id, round(sum("
            "ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0) "
            "/ (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
            "), 6) AS bm25 FROM d, stats GROUP BY doc_id"
        ),
        # exact banded simhash pairs: the oracle brute-forces all pairs
        # over the same md5-derived fingerprints (_simhash_sql CTE)
        "d_simhash_pairs": (
            f"WITH sh AS ({_simhash_sql()}) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming "
            "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
        ),
    }
    # Adaptive salting is a pure execution-shape change: the salted
    # linkage's answer is defined to be IDENTICAL to the unsalted
    # operator's, so both keys share one oracle — divergence between
    # them is exactly what the grade would catch.
    sql["d_blocked_linkage_salted"] = sql["d_blocked_linkage"]
    # PII scrub: the patterns come from the OPERATOR'S constants (one
    # definition, both engines), deliberately inside the Java-regex /
    # RE2 intersection; the oracle rebuilds the same doc_id-derived
    # PII suffix and replays the same email -> ipv4 -> phone sequence.
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
    )

    # Gopher rules: every metric is an exact integer or a RAW
    # integer-quotient double (bit-identical across engines); symbol
    # counts use non-overlapping literal replace arithmetic in both;
    # DuckDB's list_intersect matches Spark's array_intersect
    # (distinct common elements — verified side-by-side).
    _G = "COALESCE(n_words BETWEEN 50 AND 100000, FALSE)"
    _RULES = {
        "r_word_count": _G,
        "r_mean_word_len": (
            "COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, FALSE)"
        ),
        "r_symbol_ratio": "COALESCE(symbol_ratio <= 0.1, FALSE)",
        "r_bullet_lines": "COALESCE(bullet_line_ratio <= 0.9, FALSE)",
        "r_ellipsis_lines": (
            "COALESCE(ellipsis_line_ratio <= 0.3, FALSE)"
        ),
        "r_alpha_words": "COALESCE(alpha_word_ratio >= 0.8, FALSE)",
        "r_stopwords": "COALESCE(n_stop_hits >= 2, FALSE)",
    }
    sql["t_gopher_rules"] = (
        "WITH b AS (SELECT doc_id, "
        f"{_TOKENS} AS toks, "
        "list_filter(list_transform(string_split(text, chr(10)), "
        "x -> trim(x)), x -> x <> '') AS lines, "
        "len(text) - len(replace(text, '#', '')) AS n_hash, "
        "(len(text) - len(replace(text, '...', ''))) / 3.0 AS n_ell "
        "FROM documents), "
        "m AS (SELECT doc_id, "
        "CAST(len(toks) AS BIGINT) AS n_words, "
        "CAST(len(lines) AS BIGINT) AS n_lines, "
        "list_sum(list_prepend(0, list_transform(toks, t -> len(t)))) "
        "AS sum_len, n_hash, n_ell, "
        "len(list_filter(lines, l -> starts_with(l, '•') OR "
        "starts_with(l, '- ') OR starts_with(l, '* '))) AS n_bul, "
        "len(list_filter(lines, l -> ends_with(l, '...'))) "
        "AS n_ell_lines, "
        "len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) "
        "AS n_alpha, "
        "CAST(len(list_intersect(list_transform(toks, t -> lower(t)), "
        "['the','be','to','of','and','that','have','with'])) AS BIGINT) "
        "AS n_stop FROM b), "
        "r AS (SELECT doc_id, n_words, "
        "CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE)/n_words END "
        "AS mean_word_len, "
        "CASE WHEN n_words > 0 THEN (CAST(n_hash AS DOUBLE)+n_ell)"
        "/n_words END AS symbol_ratio, "
        "CASE WHEN n_lines > 0 THEN CAST(n_bul AS DOUBLE)/n_lines END "
        "AS bullet_line_ratio, "
        "CASE WHEN n_lines > 0 THEN CAST(n_ell_lines AS DOUBLE)/n_lines "
        "END AS ellipsis_line_ratio, "
        "CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE)/n_words END "
        "AS alpha_word_ratio, n_stop AS n_stop_hits FROM m) "
        "SELECT doc_id, n_words, mean_word_len, symbol_ratio, "
        "bullet_line_ratio, ellipsis_line_ratio, alpha_word_ratio, "
        "n_stop_hits, "
        + ", ".join(f"{e} AS {n}" for n, e in _RULES.items())
        + ", "
        + " AND ".join(_RULES.values())
        + " AS gopher_keep FROM r"
    )
    # Counts follow scrub_pii's sequential-intermediate semantics:
    # emails on raw, ipv4 on the email-redacted text, phones on the
    # email+ipv4-redacted text — count == replacements performed.
    sql["t_scrub_pii"] = (
        "WITH p AS (SELECT doc_id, text || ' contact user' || doc_id "
        "|| '@example.com from 10.0.' || (doc_id % 256) "
        "|| '.7 call 555-123-' || (1000 + doc_id % 9000) AS t "
        "FROM documents), "
        "s AS (SELECT doc_id, t, "
        f"regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g') AS t1 FROM p), "
        "s2 AS (SELECT doc_id, t, t1, "
        f"regexp_replace(t1, '{PII_IPV4}', '<IP>', 'g') AS t2 FROM s) "
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) "
        "AS n_emails, "
        f"CAST(len(regexp_extract_all(t1, '{PII_IPV4}')) AS BIGINT) "
        "AS n_ipv4, "
        f"CAST(len(regexp_extract_all(t2, '{PII_PHONE}')) AS BIGINT) "
        "AS n_phones, "
        f"md5(regexp_replace(t2, '{PII_PHONE}', '<PHONE>', 'g')) "
        "AS scrub_md5 "
        "FROM s2"
    )
    return sql
