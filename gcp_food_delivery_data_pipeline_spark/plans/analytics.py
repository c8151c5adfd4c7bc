"""Analytics query plans (SURVEY.md §7.1 M4) over the engine's tables.

The reference's two BigQuery tables exist to be queried (reference
README.md:9,193-198) but the reference itself ships no queries — this
module supplies the relational layer a user of those tables needs:
aggregations, joins (broadcast + shuffle), semi/anti joins, window
functions, and event-time bucketing.

Scale design notes (these hold at 100 TB / 1000 executors):

* Dimension tables (``region``/``nation``/``supplier``/``customer`` at
  TPC-H shape) are explicitly ``F.broadcast()`` so the fact-side scan
  never shuffles for the join — statistics-free plans stay hash-join.
* Every aggregation is a single ``groupBy`` → one shuffle on the group
  key; partial (map-side) aggregation happens automatically.
* Top-k queries always order by a unique tie-break column so LIMIT is
  deterministic (hash-comparable against the DuckDB oracle).
* Double-typed money columns are rounded at the FINAL projection only
  (2 decimals for sums of 2-decimal inputs) so Spark's and the oracle's
  different float summation orders cannot flip the hashed output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def q1_pricing_summary(lineitem: DataFrame, ship_cutoff: str = "2000-12-01") -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter → single-shuffle group-agg.

    The scan prunes to 7 columns and the shipdate filter is pushed to
    parquet; the groupBy on two low-cardinality keys produces a handful
    of groups — partial aggregation collapses almost everything map-side.
    """
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_top_revenue_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    limit: int = 10,
) -> DataFrame:
    """Revenue top-k: broadcast-filtered customer dim → fact join → agg.

    The filtered customer side is small → broadcast; lineitem joins
    orders on the orderkey (one shuffle at TPC-H shape; at 100 TB this
    is the join to co-partition/bucket on orderkey). Deterministic
    LIMIT via (revenue DESC, o_orderkey) ordering.
    """
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    # segment filter reaches orders BEFORE the orderkey shuffle (the
    # q5/q7/q8 early-filter shape): the wide exchange carries only the
    # ~1/|segments| surviving orders
    ord_seg = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "o_orderdate")
    return (
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(ord_seg, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(limit)
    )


def q5_nation_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """Revenue per nation within a region — star join, dims broadcast.

    The region filter reaches ORDERS before the fact-fact join: orders
    ⋈ broadcast(region-filtered customer dims) first, so the expensive
    lineitem⋈orders shuffle carries only the ~1/|regions| surviving
    order keys instead of filtering after the widest join. Without CBO
    statistics Catalyst does not reorder inner joins on its own, so the
    early-filter shape is written explicitly; it is strictly smaller at
    every scale factor.
    """
    dims = (
        customer.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == region_name)
        .select("c_custkey", "n_name")
    )
    ord_region = orders.join(
        F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "n_name")
    return (
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(ord_region, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q4_order_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Order counts per priority for orders having ≥1 lineitem — LEFT SEMI.

    The semi join shuffles only the distinct keys of the probe side;
    no lineitem payload columns move.
    """
    return (
        orders.join(
            lineitem.select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q6_forecast_revenue(
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    disc_lo: float = 0.03,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6-shaped forecast revenue: pure filter → global agg.

    Every predicate is a parquet-pushable range on a scanned column and
    the projection prunes to 4 columns; the whole query is one scan +
    one partial/final aggregation — zero shuffle beyond the single-row
    exchange. The canonical "does pushdown work" probe.
    """
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q10_returned_items(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
    limit: int = 20,
) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: which customers returned
    the most revenue in a quarter.

    lineitem is pre-filtered to returnflag='R' (pushed to the scan) and
    orders to one quarter BEFORE the fact-fact join, so the orderkey
    shuffle moves only the surviving slice; customer and nation ride in
    as broadcasts. Deterministic top-k via (revenue DESC, c_custkey).
    """
    ret = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    ord_q = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    # Sum in exact decimal: the double product casts identically in any
    # engine, and decimal addition is order-insensitive — float sums of
    # the raw product can land a cent apart across engines (observed at
    # sf0.01) because summation order differs.
    rev_item = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        ret.join(ord_q, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum(rev_item), 2).cast("double").alias("revenue")
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(limit)
    )


def q14_promo_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-02-01",
) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share: conditional aggregate over
    a broadcast dimension join.

    lineitem is filtered to one month at the scan; ``part`` (the dim)
    broadcasts, so the only exchange is the single-row final agg. The
    promo share is computed in the SAME pass as the total via
    ``sum(when(...))`` — no second scan, no self-join.
    """
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q18_large_volume_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty: float = 300.0,
    limit: int = 50,
) -> DataFrame:
    """TPC-H Q18-shaped large-volume-order report: HAVING-filtered
    aggregate feeding a semi-selective join.

    The quantity rollup shuffles (orderkey, partial-sum) pairs only —
    map-side combine collapses each order's lines before the exchange.
    The tiny surviving key set (orders over ``min_qty`` units) then
    BROADCASTS into orders/customer rather than shuffling the big
    sides. Deterministic via (total_qty DESC, o_orderkey).
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(limit)
    )


def q19_discounted_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue: an OR of three
    (brand, size-range, quantity-range) clauses across the join.

    The brand/size disjunction prunes ``part`` BEFORE the broadcast
    (only rows that can satisfy SOME clause ship), and the residual
    per-clause quantity conditions evaluate post-join inside codegen —
    the standard decomposition that keeps a disjunctive join predicate
    from forcing a nested-loop plan.
    """
    p = part.select("p_partkey", "p_brand", "p_size").filter(
        (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(20, 50)
        )
    )
    clause = (
        (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        lineitem.select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(clause)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_customers_without_orders(
    customer: DataFrame, orders: DataFrame, min_totalprice: float = 300000.0
) -> DataFrame:
    """Customers with no order above a value threshold — LEFT ANTI join.

    The probe side is pre-filtered and projected to the key column
    only, so no payload shuffles; with threshold 0 this is the classic
    customers-with-zero-orders query.
    """
    big = orders.filter(F.col("o_totalprice") > min_totalprice).select("o_custkey")
    return (
        customer.join(
            big, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def q_top_customers_per_segment(customer: DataFrame, k: int = 3) -> DataFrame:
    """Top-k customers by account balance per market segment — ranked
    window with a unique tie-break (c_custkey) for determinism."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        customer.withColumn("rank_in_segment", F.row_number().over(w))
        .filter(F.col("rank_in_segment") <= k)
        .select("c_mktsegment", "rank_in_segment", "c_custkey", "c_name", "c_acctbal")
    )


def q_customer_running_spend(orders: DataFrame) -> DataFrame:
    """Per-customer running total of order value over time — an
    unbounded-preceding window ordered by (date, orderkey).

    One shuffle on o_custkey; rows within a customer sort locally.
    """
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


def q_events_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time rollup per event type.

    ``date_trunc`` keeps the bucketing columnar; in streaming mode the
    same aggregation runs as ``F.window(ts, '1 hour')`` + watermark
    (streaming/stream.py) — semantics identical for on-time data.
    """
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_distinct_users(events: DataFrame) -> DataFrame:
    """Exact distinct users per event type (two-phase distinct agg)."""
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_rollup_revenue(lineitem: DataFrame) -> DataFrame:
    """Hierarchical totals via ROLLUP(returnflag, linestatus) — grand
    total, per-flag subtotals, and leaf groups in ONE pass (Spark
    expands the grouping sets map-side; still a single shuffle)."""
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_cube_events(events: DataFrame) -> DataFrame:
    """CUBE over (event_type, day): every subtotal combination in one
    pass — the full grouping-sets lattice (ROLLUP's sibling)."""
    return events.cube(
        F.col("event_type"), F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_approx_users(
    events: DataFrame, rsd: float = 0.05, margin: float = 0.25
) -> DataFrame:
    """HyperLogLog++ distinct-user sketch per event type — the
    constant-memory path when exact distinct's two-phase shuffle is too
    heavy. Sketch internals are engine-specific, so the raw estimate
    has no SQL oracle; instead the query computes BOTH the sketch and
    the exact count in one aggregation pass and returns the exact count
    plus an error-bound check — which IS oracle-checkable: the oracle
    pins the exact count and asserts the bound held. ``margin`` = 5×
    the requested rsd (a 5-sigma bound): wide enough that regenerated
    or rescaled testdata cannot trip it by estimator luck, so a FALSE
    here means an engine bug (broken sketch), not data noise."""
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd)
                - F.count_distinct("user_id")
            )
            <= F.count_distinct("user_id") * margin
        ).alias("approx_ok"),
    )


def q_top_words(documents: DataFrame, k: int = 20) -> DataFrame:
    """Corpus word frequencies: explode tokens → count → top-k.

    ``explode`` multiplies rows ~100× here; the aggregation immediately
    map-side-combines on the word key, so the shuffle carries one row
    per (partition, word) — the safe shape for a 100 TB corpus. Top-k
    is deterministic via the (count DESC, word ASC) tie-break.
    """
    words = documents.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(k)
    )


def q_sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the
    gap since the user's previous event exceeds ``gap_seconds``.

    Two windows over ONE shuffle on user_id (lag + running sum share
    the partitioning); the final per-user aggregation reuses the same
    key so AQE can skip the extra exchange.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.col("ts").cast("long")
    prev = F.lag(ts_s).over(w)
    is_new = F.when(
        prev.isNull() | ((ts_s - prev) > gap_seconds), 1
    ).otherwise(0)
    sessions = events.withColumn(
        "session_id",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_session_window(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user sessions via Spark's native ``session_window`` — the
    scale path for sessionization. Unlike the gaps-and-islands form
    (``q_sessionize``: lag + running sum, two window passes over a
    per-user sort), ``session_window`` is a first-class aggregation:
    partial session merging happens map-side, the shuffle carries
    per-partition session fragments rather than raw events, and the
    same expression works unchanged on a watermarked stream
    (streaming/events.py:session_rollup — the batch/stream twin pair).

    Session semantics: an event extends the current session when it
    arrives strictly within ``gap`` of the previous event; the emitted
    window is [first_ts, last_ts + gap). Spark's ``session_window``
    also merges an event landing exactly ``gap`` after the previous
    one, so the sessions are built with a gap one microsecond (the
    timestamp resolution) shorter and the end is moved back out by it.
    """
    return (
        events.groupBy(
            F.session_window(F.col("ts"), f"{gap} -1 microseconds").alias("sw"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            (F.col("sw.end") + F.expr("INTERVAL 1 MICROSECOND")).alias(
                "session_end"
            ),
            "n_events",
            "sum_value",
        )
    )


def q_custkeys_both_statuses(orders: DataFrame) -> DataFrame:
    """INTERSECT: customers having orders in BOTH status classes."""
    o = orders.select("o_custkey", "o_orderstatus")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .intersect(o.filter(F.col("o_orderstatus") == "F").select("o_custkey"))
    )


def q_custkeys_only_open(orders: DataFrame) -> DataFrame:
    """EXCEPT: customers with open ('O') orders and no finished ('F')."""
    o = orders.select("o_custkey", "o_orderstatus")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .subtract(o.filter(F.col("o_orderstatus") == "F").select("o_custkey"))
    )


def q_balance_quartiles(customer: DataFrame) -> DataFrame:
    """Exact interpolated quartiles of account balance per segment —
    ``percentile`` (exact) rather than the approximate sketch, so the
    result is oracle-checkable; swap to ``percentile_approx`` when the
    group cardinality makes exact sort-based percentiles too heavy."""
    return customer.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(c_acctbal, 0.75)"), 6).alias("p75"),
        F.count(F.lit(1)).alias("n_customers"),
    )


# ----- food-orders analytics (M4): the queries the reference's two
# output tables exist to serve (reference README.md:9,193-198 describes
# the tables; no queries ship with the reference). Input: the typed
# projection (operators/clean.py:typed_orders). -----


def food_restaurant_summary(typed: DataFrame) -> DataFrame:
    """Per-restaurant order volume, revenue, and mean rating."""
    return typed.groupBy("restaurant").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("amount").alias("revenue"),
        F.round(F.avg("ratings"), 3).alias("avg_rating"),
    )


def food_mode_share(typed: DataFrame) -> DataFrame:
    """Payment-mode share of orders (window over the grand total)."""
    counts = typed.groupBy("mode").agg(F.count(F.lit(1)).alias("n_orders"))
    total = Window.partitionBy()
    return counts.select(
        "mode",
        "n_orders",
        F.round(
            F.col("n_orders") / F.sum("n_orders").over(total), 4
        ).alias("share"),
    )


def food_item_popularity(typed: DataFrame, k: int = 10) -> DataFrame:
    """Top-k items across the packed colon-delimited ``items`` column —
    the explode the reference's string model never allowed."""
    return (
        typed.select(F.explode("items").alias("item"))
        .filter(F.col("item") != "")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("item"))
        .limit(k)
    )


def food_ratings_by_status(typed: DataFrame) -> DataFrame:
    """Ratings distribution per delivery status (pivot-shaped output)."""
    return (
        typed.groupBy("status")
        .pivot("ratings", [1, 2, 3, 4, 5])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def q_props_extract(events: DataFrame, min_k: int = 50) -> DataFrame:
    """JSON payload extraction + predicate — semi-structured column path.

    ``get_json_object`` runs JVM-side; the filter on the extracted
    value stays in the same codegen stage as the parse.
    """
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.select("event_id", "event_type", k.alias("k"))
        .filter(F.col("k") >= min_k)
    )


def q_variant_props(events: DataFrame, high_k: int = 50) -> DataFrame:
    """Semi-structured aggregation via Spark 4's VariantType: the JSON
    payload parses ONCE into the binary-encoded Variant
    (``parse_json``), then ``variant_get`` does typed path extraction
    from that encoding — at scale this beats re-tokenizing the JSON
    string per path the way repeated ``get_json_object`` calls do
    (``q_props_extract`` keeps the string-path twin). Aggregation is
    one map-side-combinable shuffle on event_type."""
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("k") >= high_k).cast("int")).alias("n_high"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


def q_status_pivot(orders: DataFrame) -> DataFrame:
    """Order counts per priority PIVOTED over status — wide layout.

    The status values are passed explicitly, so Spark skips the
    values-discovery job and the whole pivot is ONE shuffle (groupBy
    priority) with the per-status buckets computed map-side as
    conditional aggregates — the exact plan hand-written
    sum(when(...)) columns would give, which is also how the oracle
    expresses it.
    """
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "o_orderpriority",
            F.col("F").alias("n_f"),
            F.col("O").alias("n_o"),
            F.col("P").alias("n_p"),
        )
    )


def q_value_moving_window(events: DataFrame) -> DataFrame:
    """Per-user event-TIME-range moving aggregate: sum/count of each
    user's value over the trailing 1 hour (RANGE frame, not ROWS).

    A range frame over ``unix seconds`` keeps the window computable in
    one pass after the single per-user shuffle — no self-join
    (events × events within 1h would be the naive quadratic phrasing).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_sec"),
        F.round(F.sum("value").over(w), 2).alias("value_1h"),
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
    )


def q_hourly_gapfill(events: DataFrame) -> DataFrame:
    """Dense hourly spine per event type with zero-filled gaps.

    The spine is generated per type from its own [min, max] hour range
    (``sequence`` + ``explode`` — rows created at compute time, nothing
    scanned), then left-joined to the observed rollup. The OBSERVED
    side broadcasts: both sides are post-aggregation tiny, but only the
    non-preserved side of an outer join may be the broadcast build side
    (hinting the spine would be silently ignored). Gap rows come out
    with n_events = 0 — what a charting/alerting consumer needs and
    what the raw groupBy can never produce.
    """
    observed = events.groupBy(
        F.col("event_type"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    spine = (
        events.groupBy("event_type")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("_lo"),
            F.date_trunc("hour", F.max("ts")).alias("_hi"),
        )
        .select(
            "event_type",
            F.explode(
                F.sequence("_lo", "_hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    return (
        spine.join(F.broadcast(observed), ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.col("hour").cast("long").alias("hour_sec"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


def q7_nation_trade(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_3",
    nation_b: str = "NATION_7",
) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: revenue shipped between
    two nations, by (supplier nation, customer nation, year).

    Both nation lookups are broadcasts applied to THEIR fact side
    before the orderkey shuffle: lineitem is cut to two-nation
    suppliers, orders to two-nation customers — so the one wide
    exchange (lineitem⋈orders) carries ~(2/|nations|)² of the raw
    pair volume instead of filtering after it.
    """
    n2 = nation.filter(F.col("n_name").isin([nation_a, nation_b]))
    supp = supplier.join(
        F.broadcast(n2), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = customer.join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    ord_cust = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "cust_nation")
    return (
        lineitem.join(
            F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(ord_cust, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


def q13_order_count_distribution(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H Q13-shaped distribution: how many customers placed exactly
    k orders (k = 0 included via the left join).

    Two stacked aggregations, each a single shuffle: per-customer
    counts (orderkey payload never moves — count only), then the
    histogram over those counts (tiny domain, collapses map-side).
    """
    per_cust = customer.join(
        orders.select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left",
    ).groupBy("c_custkey").agg(
        F.count(F.col("o_custkey")).alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q15_top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15-shaped top supplier: supplier(s) achieving the maximum
    quarterly revenue (ALL ties, not LIMIT 1 — the point of the view +
    max subquery in the original).

    The revenue rollup is one shuffle; the scalar max broadcasts back
    over the (small) rollup, so the fact table is scanned once.
    """
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    by_supp = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("total_revenue"))
    )
    max_rev = by_supp.agg(F.max("total_revenue").alias("_max"))
    return (
        by_supp.join(
            F.broadcast(max_rev),
            F.col("total_revenue") == F.col("_max"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q17_small_quantity_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str = "Brand#4"
) -> DataFrame:
    """TPC-H Q17-shaped small-order revenue: lineitems of one brand
    whose quantity is under 20% of that part's average quantity.

    The per-part average is ITS OWN aggregation joined back (broadcast:
    one row per part of one brand) — the correlated subquery decorrelated
    by hand, which is exactly what Catalyst does to the SQL form.
    """
    bparts = part.filter(F.col("p_brand") == brand).select("p_partkey")
    li = lineitem.join(
        F.broadcast(bparts), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.avg("l_quantity").alias("_avg_qty")
    )
    return (
        li.join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")) / 7.0, 2
            )
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q22_idle_rich_customers(
    customer: DataFrame,
    orders: DataFrame,
    idle_since: str = "2001-01-01",
) -> DataFrame:
    """TPC-H Q22-shaped: customers with above-average (positive-balance)
    account balance and no RECENT orders (none since ``idle_since``),
    grouped by nation key.

    The global average is a scalar broadcast (cross-join of one row);
    the idleness test is an anti join whose probe side is date-filtered
    AT THE SCAN and pruned to the key column. (The classic q22 tests
    "no orders ever" — at this data's density that set is empty, so the
    recency variant keeps the query observable while exercising the
    same scalar-subquery + anti-join shape.)
    """
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    rich = customer.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("_avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(idle_since).cast("timestamp")
    ).select("o_custkey")
    idle = rich.join(
        recent,
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("totacctbal"),
    )


def q8_market_share(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_region: str = "ASIA",
    target_nation: str = "NATION_7",
    part_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q8-shaped national market share: within orders placed by
    customers of ``target_region`` for parts of ``part_type``, the
    fraction of revenue supplied by ``target_nation``, per order year.

    Shape at scale: part/nation/region and the region-restricted
    customer slice are broadcasts stacked onto lineitem BEFORE the
    single wide exchange (lineitem⋈orders on orderkey). The share is a
    conditional-sum ratio — one aggregation, no second pass over the
    join. Revenue sums in DECIMAL so the ratio is order-insensitive.
    """
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == target_region)),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey")
    cust = customer.join(
        F.broadcast(asia_nations),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey")
    supp = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    # orders meets its region-restricted customer broadcast BEFORE the
    # orderkey shuffle, mirroring q5/q7: both wide-exchange inputs are
    # pre-filtered.
    ord_region = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "o_orderdate")
    joined = (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == part_type)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(ord_region, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("supp_nation") == target_nation, rev
                    ).otherwise(F.lit(0).cast("decimal(18,4)"))
                )
                / F.sum(rev)
            ).alias("_share")
        )
        .select(
            "order_year",
            F.round(F.col("_share").cast("double"), 6).alias("mkt_share"),
        )
    )


def q9_product_profit(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    name_token: str = "widget",
) -> DataFrame:
    """TPC-H Q9-shaped product-type profit by nation and year. The
    testdata has no ``partsupp``/``ps_supplycost``, so profit is the
    discounted revenue of matching parts (the join/agg shape — the
    point of q9 — is unchanged; only the cost subtraction drops).

    Part filter (LIKE on name) and supplier→nation lookup broadcast
    onto lineitem; the only wide exchange is lineitem⋈orders, needed
    solely for the order year.
    """
    matched = part.filter(F.col("p_name").contains(name_token)).select(
        "p_partkey"
    )
    supp = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        lineitem.join(
            F.broadcast(matched), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
    )


def q12_ship_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    fast_days: int = 30,
) -> DataFrame:
    """TPC-H Q12-shaped shipping-service analysis. The testdata carries
    no shipmode/commit/receipt dates, so the Q12 lateness predicate is
    re-expressed on what exists: lines are bucketed by ship lag
    (``l_shipdate - o_orderdate`` ≤ ``fast_days`` → 'fast', else
    'slow') and each bucket counts high- vs low-priority orders —
    the same join + CASE-conditional-count shape as Q12.

    Orders prunes to (key, date, priority) before the one wide join;
    the two conditional counts collapse map-side.
    """
    high = F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"])
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        lineitem.select("l_orderkey", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .withColumn(
            "ship_bucket",
            F.when(lag <= fast_days, F.lit("fast")).otherwise(F.lit("slow")),
        )
        .groupBy("ship_bucket")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


def q21_last_shipper(
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    target_nation: str = "NATION_3",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q21-shaped "who held the order up": among multi-supplier
    orders, count per supplier how often that supplier ALONE shipped
    last (its latest line is strictly after every other supplier's).
    Without commit/receipt dates the "failed delivery" predicate
    becomes "uniquely latest l_shipdate" — the same exists/not-exists
    discrimination Q21 makes, expressed as one aggregation plus one
    window instead of two correlated subqueries.

    Scale shape: per-(order, supplier) max-shipdate aggregation first
    (map-side combine collapses lines), then a window over orderkey on
    that already-collapsed frame — the raw lineitem never enters the
    window. Supplier/nation names broadcast at the end onto a
    supplier-count-sized frame.
    """
    per_supp = lineitem.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_last")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = (
        per_supp.withColumn("n_supps", F.count(F.lit(1)).over(w))
        .withColumn("order_last", F.max("supp_last").over(w))
        .withColumn(
            "n_latest",
            F.count(
                F.when(F.col("supp_last") == F.col("order_last"), 1)
            ).over(w),
        )
        .filter(
            (F.col("n_supps") > 1)
            & (F.col("n_latest") == 1)
            & (F.col("supp_last") == F.col("order_last"))
        )
    )
    supp = supplier.join(
        F.broadcast(
            nation.filter(F.col("n_name") == target_nation).select(
                "n_nationkey"
            )
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    counted = (
        flagged.join(
            F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    # Deterministic top-k without a global window: (numwait DESC,
    # s_name) is a total order, so TakeOrderedAndProject gives the same
    # k rows with per-partition heaps instead of a one-task sort.
    return counted.orderBy(F.col("numwait").desc(), F.col("s_name")).limit(k)


def q_stats_profile(lineitem: DataFrame) -> DataFrame:
    """Statistical profile of the fact table per return flag: Pearson
    correlation, population covariance / stddev / variance of quantity
    vs price. One shuffle, all moments in a single partial-aggregable
    pass (each statistic is sums-of-products under the hood, so
    map-side combine applies); population variants are used because
    their definitions are engine-stable.
    """
    q = F.col("l_quantity").cast("double")
    p = F.col("l_extendedprice").cast("double")
    return lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.corr(q, p), 6).alias("corr_qty_price"),
        F.round(F.covar_pop(q, p), 4).alias("covar_qty_price"),
        F.round(F.stddev_pop(q), 6).alias("stddev_qty"),
        F.round(F.var_pop(p), 2).alias("var_price"),
        F.round(F.avg(q), 6).alias("avg_qty"),
    )


def q_grouping_sets_revenue(lineitem: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS lattice — (flag, status), (flag), ()
    — with ``grouping_id`` distinguishing subtotal levels. Unlike
    rollup/cube this picks exactly the requested cells; Spark expands
    to a single Expand + one aggregation (one shuffle for all levels).
    """
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        lineitem.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("level_id"),
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_mad_outliers(events: DataFrame, k: float = 4.4478) -> DataFrame:
    """Robust outlier profile per event type: median, MAD (median
    absolute deviation), and the count of values beyond k·MAD of the
    median (k = 3·1.4826 ≈ 3σ under normality). The mean/stddev
    profile (``q_stats_profile``) breaks exactly when you need outlier
    detection most — the outliers drag the mean; median/MAD do not.

    Two aggregation passes by construction (MAD needs the median
    first); the per-type medians table is tiny, so both re-entries are
    broadcast joins — the events table shuffles only for its two
    percentile aggregations. The outlier comparison runs on ROUNDED
    operands so the boundary decision is engine-stable (same trick as
    the similarity thresholds).
    """
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("_med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "_med", F.abs(F.col("value") - F.col("_med")).alias("_adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.first("_med").alias("_med"),
        F.percentile("_adev", F.lit(0.5)).alias("_mad"),
    )
    return (
        events.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.first("_med"), 6).alias("median_value"),
            F.round(F.first("_mad"), 6).alias("mad"),
            F.sum(
                (
                    F.round(F.abs(F.col("value") - F.col("_med")), 6)
                    > F.round(F.lit(k) * F.col("_mad"), 6)
                ).cast("long")
            ).alias("n_outliers"),
        )
    )


def q_value_histogram(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """Equi-width histogram of ``value`` per event type over the GLOBAL
    [min, max] range (shared bin edges make the per-type histograms
    comparable — the profiling/drift-detection shape). The max value
    folds into the last bin.

    One 2-row-ish global extent aggregate broadcast back, then a single
    combinable groupBy — the histogram never materializes per-row
    state, so it is one scan + one tiny shuffle at any corpus size.
    """
    extent = events.agg(
        F.min("value").alias("_mn"), F.max("value").alias("_mx")
    )
    width = (F.col("_mx") - F.col("_mn")) / n_bins
    bin_id = F.when(F.col("_mx") == F.col("_mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("value") - F.col("_mn")) / width),
            F.lit(n_bins - 1),
        )
    )
    return (
        events.crossJoin(F.broadcast(extent))
        .groupBy("event_type", bin_id.cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("bin_lo"),
            F.round(F.max("value"), 6).alias("bin_hi"),
        )
    )


def q_funnel(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Ordered-funnel conversion: a user reaches stage k iff some
    stage-k event occurs at-or-after their first qualifying stage-k-1
    reach (the sequential conditional-min definition every funnel tool
    uses). Returns (stage_idx, stage, n_users).

    One keyed aggregation per stage, each over the PRE-FILTERED slice
    of that stage's events joined to the one-row-per-user previous
    frontier, and every aggregation map-side combines, so cost is ~one
    filtered pass per stage regardless of funnel depth. The frontier
    join carries NO broadcast hint: the frontier is one row per
    *reached user*, which at full corpus scale can exceed any
    broadcast/driver budget — AQE broadcasts it at runtime when it
    measures small, and falls back to a shuffle join already
    co-partitioned on user_id (the frontier's own groupBy key) when it
    doesn't. Chosen over the
    sorted-array-fold single-pass form because the per-stage
    conditional min is what SQL engines state verbatim — the oracle
    mirrors it expression for expression (tie policy included: an
    equal-timestamp later stage counts, ``>=``).
    """
    if not stages:
        raise ValueError("q_funnel: need at least one stage")
    frontier = None
    counts = []
    for idx, stage in enumerate(stages):
        ev = events.filter(F.col("event_type") == stage).select(
            "user_id", "ts"
        )
        if frontier is None:
            frontier = ev.groupBy("user_id").agg(F.min("ts").alias("_t"))
        else:
            frontier = (
                ev.join(frontier, "user_id")
                .filter(F.col("ts") >= F.col("_t"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("_t"))
            )
        counts.append(
            frontier.agg(
                F.lit(idx).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.count(F.lit(1)).alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def q_retention(events: DataFrame, signup_type: str = "signup") -> DataFrame:
    """Cohort retention: users grouped by their first-signup day, then
    the distinct-user count active at each day offset ≥ 0 from that
    cohort day — the funnel's longitudinal companion.

    The cohort frame is one row per signed-up user — small next to the
    activity log but unbounded in user count, so the activity join
    carries no broadcast hint: AQE broadcasts it when it measures
    under the threshold and otherwise shuffle-joins on user_id, the
    key both sides already aggregate on. The (user, day) distinct and
    the final count both map-side combine. Day arithmetic stays in
    DATE space (no timezone-sensitive timestamp truncation beyond the
    initial cast).
    """
    cohort = (
        events.filter(F.col("event_type") == signup_type)
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("_cday"))
    )
    activity = events.select(
        "user_id", F.to_date("ts").alias("_day")
    ).distinct()
    return (
        activity.join(cohort, "user_id")
        .withColumn("day_offset", F.datediff("_day", "_cday"))
        .filter(F.col("day_offset") >= 0)
        .groupBy(
            F.date_format("_cday", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def q_event_transitions(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k event-type transitions (src → dst counts over each user's
    time-ordered stream) — the first-order Markov view of user
    behavior. One window pass partitioned BY USER (parallel per-user
    sorts, deterministic (ts, event_id) tie-break), then a combinable
    count; top-k via TakeOrdered with a full tie-break."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("event_type").over(w)
    return (
        events.select(
            F.col("event_type").alias("src"), nxt.alias("dst")
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "src", "dst")
        .limit(k)
    )


def q_time_to_convert(
    events: DataFrame,
    from_type: str = "view",
    to_type: str = "purchase",
) -> DataFrame:
    """Per-user conversion latency: microseconds from the user's FIRST
    ``from_type`` event to their first ``to_type`` event at-or-after
    it (users who never convert are absent — left-join at call site if
    the non-converting population matters).

    Two keyed min-aggregations and one join on user_id — every stage
    map-side combines and shares the user_id partitioning; time math
    stays in integer microseconds (``unix_micros``) so the result is
    engine-exact, no float epoch.
    """
    first_from = (
        events.filter(F.col("event_type") == from_type)
        .groupBy("user_id")
        .agg(F.min("ts").alias("_t0"))
    )
    conv = (
        events.filter(F.col("event_type") == to_type)
        .join(first_from, "user_id")
        .filter(F.col("ts") >= F.col("_t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("_t1"), F.min("_t0").alias("_t0"))
    )
    return conv.select(
        "user_id",
        (F.unix_micros("_t1") - F.unix_micros("_t0")).alias(
            "micros_to_convert"
        ),
    )


def q_ewma_value(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Final exponentially-weighted moving average of ``value`` per
    user over the (ts, event_id)-ordered event stream — the classic
    order-dependent feature no plain window aggregate expresses
    (EWMA_1 = x_1; EWMA_i = a*x_i + (1-a)*EWMA_(i-1)).

    The recurrence folds JVM-side with ``aggregate`` over the user's
    collected-and-sorted value list: per-user work is linear in that
    user's events and users fold in parallel after one shuffle. The
    closed-form alternative (window sum of (1-a)^(n-i) terms)
    overflows (1-a)^-i for long streams, so the fold is also the
    numerically correct shape. Left-to-right double arithmetic makes
    the result bit-identical to any engine folding the same order
    (pinned by the DuckDB list_reduce oracle).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"q_ewma_value: alpha must be in (0, 1], got {alpha}")
    per_user = events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("_evs")
    )
    vals = F.transform("_evs", lambda e: e["value"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return per_user.select(
        "user_id",
        F.size("_evs").cast("long").alias("n_events"),
        F.round(ewma, 6).alias("ewma_value"),
    )


def q_rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM customer segmentation over the orders table: per customer,
    recency (days from their last order to the corpus's latest order
    date), frequency (order count), monetary (total spend), each
    scored 1-4 against the exact quartile cuts of the per-customer
    distribution (4 = most recent / most frequent / highest spend).

    Scale shape: one keyed aggregation builds the per-customer frame;
    the anchor date and the nine quartile cuts are single-row
    aggregates broadcast back in (scalar joins, no shuffle of the
    customer frame); scoring is pure arithmetic. Exact ``percentile``
    keeps the cuts oracle-checkable — swap to ``approx_percentile``
    when the customer count makes the exact sort too heavy.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("_last"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        # decimal summation (the _part_revenue_cents pattern): a
        # double sum landing exactly on a .005 cent boundary can
        # round apart between engines depending on addition order —
        # exact decimal makes monetary (and the quartile cuts built
        # on it) regrouping-proof.
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("monetary"),
    )
    anchor = orders.agg(F.max(F.to_date("o_orderdate")).alias("_anchor"))
    rfm = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("_anchor", "_last").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )
    cuts = rfm.agg(
        *[
            F.expr(f"percentile({col}, {q})").alias(f"_{col[0]}{i}")
            for col in ("recency_days", "frequency", "monetary")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def score(col: str, prefix: str, invert: bool) -> Column:
        hits = sum(
            (F.col(col) > F.col(f"_{prefix}{i}")).cast("int")
            for i in (1, 2, 3)
        )
        # high recency = stale = worst; high frequency/monetary = best
        val = (4 - hits) if invert else (1 + hits)
        return val.cast("long")

    return rfm.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        score("recency_days", "r", invert=True).alias("r_score"),
        score("frequency", "f", invert=False).alias("f_score"),
        score("monetary", "m", invert=False).alias("m_score"),
    )


def q_part_pairs(lineitem: DataFrame, k: int = 20) -> DataFrame:
    """Market-basket co-occurrence: the top-k part pairs most often
    ordered together, with lift (observed co-rate over the
    independence expectation) — the association-mining view of the
    order stream.

    The pair generation is a SELF-JOIN CO-PARTITIONED ON THE ORDER KEY
    (one shuffle each side, then per-order local pairing), so the blow
    -up is bounded by the basket size squared per order — fine at
    TPC-H's ≤7-item baskets; a retail corpus with thousand-item
    baskets would cap the basket or switch to FP-Growth. The part
    marginals and the order count come back as one small join + one
    broadcast scalar. Deterministic top-k via (n_both DESC, part_a,
    part_b).
    """
    li = lineitem.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    marg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    n_orders = li.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    lift = F.round(
        F.col("n_both").cast("double")
        * F.col("n_orders")
        / (F.col("_na") * F.col("_nb")),
        6,
    )
    return (
        pairs.join(
            marg.select(
                F.col("l_partkey").alias("part_a"),
                F.col("n_part").alias("_na"),
            ),
            "part_a",
        )
        .join(
            marg.select(
                F.col("l_partkey").alias("part_b"),
                F.col("n_part").alias("_nb"),
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select("part_a", "part_b", "n_both", lift.alias("lift"))
        .orderBy(F.col("n_both").desc(), "part_a", "part_b")
        .limit(k)
    )


def q_revenue_trend(orders: DataFrame) -> DataFrame:
    """Per-priority linear trend of order value over time: closed-form
    OLS via the ``regr_*`` aggregate family (slope, intercept, R²,
    n) with x = days since a fixed epoch.

    The whole regression is ONE single-pass aggregation of mergeable
    moment statistics (Σx, Σy, Σxy, Σx², Σy² under the hood) — the
    textbook example of an analytic that needs no iteration and no
    second scan at any scale, and the same monoid shape
    ``rollup.py`` exploits for incremental maintenance.
    """
    x = F.datediff(F.to_date("o_orderdate"), F.lit("1990-01-01"))
    return (
        orders.select(
            "o_orderpriority",
            x.cast("double").alias("_x"),
            F.col("o_totalprice").cast("double").alias("_y"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("regr_slope(_y, _x)"), 6).alias("slope"),
            F.round(F.expr("regr_intercept(_y, _x)"), 6).alias("intercept"),
            F.round(F.expr("regr_r2(_y, _x)"), 6).alias("r2"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_benford_audit(orders: DataFrame) -> DataFrame:
    """Benford first-digit audit of order totals: observed share of
    each leading significant digit next to the Benford expectation
    log10(1 + 1/d) — the classic fabricated-data / unit-mixing smell
    test for financial columns. One aggregation pass; the scalar total
    broadcasts back for the share division.
    """
    # first SIGNIFICANT digit = first [1-9] in the decimal rendering
    # (robust to leading "0." for sub-unit values; in scientific
    # notation the mantissa's lead digit is still the right answer)
    digit = F.regexp_extract(
        F.abs(F.col("o_totalprice")).cast("string"), "[1-9]", 0
    ).cast("int")
    counts = (
        orders.filter(F.col("o_totalprice") != 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_tot"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("_tot"), 6).alias("observed"),
            F.round(expected, 6).alias("expected"),
        )
    )


def q_entropy_profile(events: DataFrame) -> DataFrame:
    """Shannon entropy (bits) of categorical columns — the
    one-number-per-column distribution profile that flags constant or
    near-constant columns (entropy ~ 0) and uniform id-like columns
    (entropy ~ log2 n).

    ONE scan profiles every column: ``stack`` unpivots the columns to
    (column, value) rows, one aggregation counts values, and the
    per-column rollup uses the closed form
    ``H = log2(t) - sum(n*log2(n))/t`` — equal to -sum(p*log2 p) but
    needing only per-group sums, so no scalar-total join and no
    second scan. Adding a profiled column adds a stack argument, not
    a pass (the quality-rule engine's own discipline).
    """
    unpivoted = events.select(
        F.expr(
            "stack(2, 'event_type', event_type, "
            "'user_id', cast(user_id as string)) AS (column, value)"
        )
    )
    counts = unpivoted.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("_n")
    )
    n, t = F.col("_n"), F.sum("_n")
    return counts.groupBy("column").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            F.log2(t) - F.sum(n * F.log2(n)) / t, 6
        ).alias("entropy_bits"),
    )


def q_winsorize(
    events: DataFrame, p_lo: float = 0.01, p_hi: float = 0.99
) -> DataFrame:
    """Per-group winsorization audit: clip ``value`` to the group's
    exact [p_lo, p_hi] percentile band and report how many rows each
    tail clipped plus the mean before/after — the standard
    outlier-robust preprocessing step (clip, don't drop), reported as
    an audit so the transform's effect is inspectable before it's
    applied to the training table.

    One aggregation computes the percentile cuts per group; they join
    back by group key (broadcast-sized: one row per group) and the
    clip is a pure projection — two scans total because exact
    percentiles can't be computed alongside the clip in one pass
    (swap to approx_percentile to fuse at extreme cardinalities).
    """
    cuts = events.groupBy("event_type").agg(
        F.expr(f"percentile(value, {p_lo})").alias("_lo"),
        F.expr(f"percentile(value, {p_hi})").alias("_hi"),
    )
    # greatest/least SKIP nulls (greatest(NULL, lo) = lo), which would
    # silently turn NULL measurements into the low cut and drag the
    # winsorized mean; clip only real values so avg() skips NULLs on
    # both sides of the audit identically
    clipped = F.when(
        F.col("value").isNotNull(),
        F.least(F.greatest(F.col("value"), F.col("_lo")), F.col("_hi")),
    )
    return (
        events.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value") < F.col("_lo")).cast("long")).alias(
                "n_clipped_low"
            ),
            F.sum((F.col("value") > F.col("_hi")).cast("long")).alias(
                "n_clipped_high"
            ),
            F.round(F.avg("value"), 6).alias("mean_raw"),
            F.round(F.avg(clipped), 6).alias("mean_winsorized"),
        )
    )


def _part_revenue_cents(lineitem: DataFrame) -> DataFrame:
    """Per-part revenue with EXACT arithmetic: decimal summation (a
    double sum was observed landing exactly on a cent-rounding
    boundary at sf0.01, where the engines' addition orders round
    apart), exposed both as integer cents (``_cents`` — for exact
    prefix sums and threshold compares) and as a double ``revenue``
    for display. Shared by the Pareto and Gini analytics so the two
    revenue definitions cannot drift."""

    def dec(c: str) -> Column:
        return F.col(c).cast("decimal(18,4)")

    rev = lineitem.groupBy("l_partkey").agg(
        F.round(
            F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))), 2
        ).alias("_revd")
    )
    return rev.select(
        "l_partkey",
        (F.col("_revd") * 100).cast("long").alias("_cents"),
        F.col("_revd").cast("double").alias("revenue"),
    )


def q_pareto_front(lineitem: DataFrame, share: float = 0.8) -> DataFrame:
    """Pareto (80/20) concentration: the smallest set of parts —
    taken in descending revenue order — whose cumulative revenue
    reaches ``share`` of the total, with each kept part's cumulative
    share. The assortment-rationalization classic.

    The cumulative sum over the revenue ordering uses the two-phase
    distributed rank (range repartition → local prefix sums →
    per-partition offsets), NEVER a global-order window; the total
    joins back as a broadcast scalar. Ties in revenue break by part
    key, so the front is deterministic.
    """
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        _global_ordered_rank_and_prefix,
    )

    rev = _part_revenue_cents(lineitem)
    ranked = _global_ordered_rank_and_prefix(
        rev.select(
            "l_partkey",
            "revenue",
            "_cents",
            (-F.col("_cents")).alias("_neg"),
        ),
        ["_neg", "l_partkey"],
        F.col("_cents"),
    )
    total = rev.agg(F.sum("_cents").alias("_tot"))
    # share arithmetic on INTEGER cents: the prefix sums are exact, so
    # the keep/drop threshold compare cannot be moved across the
    # boundary by float regrouping (the two-phase rank's offset sums
    # add in a different order than a sequential window — harmless for
    # integers, an ulp hazard for doubles)
    cum_share = (F.col("_gbefore") + F.col("_cents")) / F.col("_tot")
    prev_share = F.col("_gbefore") / F.col("_tot")
    return (
        ranked.crossJoin(F.broadcast(total))
        # keep every part needed to REACH the share: all whose
        # cumulative share before them is still below the target
        .filter(prev_share < share)
        .select(
            F.col("_grank").alias("rank"),
            "l_partkey",
            "revenue",
            F.round(cum_share, 6).alias("cum_share"),
        )
    )


def q_gini_revenue(lineitem: DataFrame) -> DataFrame:
    """Gini coefficient of revenue concentration across parts (0 =
    perfectly equal, →1 = one part takes everything), via the sorted
    -rank closed form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending
    revenue — one distributed rank plus one aggregation, no pairwise
    |xᵢ−xⱼ| expansion (the naive definition is O(n²)).
    """
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        _global_ordered_rank_and_prefix,
    )

    rev = _part_revenue_cents(lineitem).drop("_cents")
    ranked = _global_ordered_rank_and_prefix(
        rev.select("l_partkey", "revenue"),
        ["revenue", "l_partkey"],
        F.lit(0),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(
            2.0
            * F.sum(F.col("_grank") * F.col("revenue"))
            / (F.count(F.lit(1)) * F.sum("revenue"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


def q_order_intervals(orders: DataFrame) -> DataFrame:
    """Inter-purchase cadence per customer: the gaps (days) between a
    customer's consecutive orders, summarized as count / median / max.
    Repeat-purchase behavior in one keyed window pass (lag PARTITIONED
    BY CUSTOMER — parallel per-key sorts) plus one aggregation; only
    customers with at least two orders appear (one order = no gap).
    """
    day = F.to_date("o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy(day, "o_orderkey")
    gap = F.datediff(day, F.lag(day).over(w))
    return (
        orders.select("o_custkey", gap.alias("_gap"))
        .filter(F.col("_gap").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.expr("percentile(_gap, 0.5)"), 6).alias(
                "median_gap_days"
            ),
            F.max("_gap").cast("long").alias("max_gap_days"),
        )
    )


def q_new_vs_returning(events: DataFrame) -> DataFrame:
    """Daily new-vs-returning user split: a user is NEW on their first
    active day and RETURNING on every later active day — the
    growth-accounting view of the event stream. One distinct
    (user, day) pass, one per-user min, one per-day rollup; the
    first-day frame joins back keyed on user (co-partitioned with the
    distinct's own shuffle).
    """
    ud = events.select(
        "user_id", F.to_date("ts").alias("_day")
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("_day").alias("_first"))
    return (
        ud.join(first, "user_id")
        .groupBy(F.date_format("_day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum((F.col("_day") == F.col("_first")).cast("long")).alias(
                "n_new"
            ),
            F.sum((F.col("_day") != F.col("_first")).cast("long")).alias(
                "n_returning"
            ),
        )
    )


def q_session_paths(
    events: DataFrame,
    gap_seconds: int = 1800,
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k behavior paths: the most frequent n-grams of event types
    within sessions (same 30-minute-gap sessionization as
    q_sessionize) — the sequence-mining view of user behavior, e.g.
    'view>click>purchase'.

    Per-session sequences come from one keyed collect+sort (bounded by
    session length, watermark-analogous to the batch sessionizer);
    n-grams are generated JVM-side (transform+slice) and counted with
    a combinable aggregation; top-k orders deterministically.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_micros(F.col("ts"))
    new_s = (
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(
            epoch - F.unix_micros(F.lag("ts").over(w))
            > gap_seconds * 1_000_000,
            1,
        )
        .otherwise(0)
    )
    sess = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seqs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_sid", sess)
        .groupBy("user_id", "_sid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ).alias("_types")
        )
    )
    grams = seqs.select(
        F.explode(
            F.when(
                F.size("_types") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("_types") - (n - 1)),
                    lambda i: F.concat_ws(
                        ">", F.slice("_types", i, n)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("path")
    )
    return (
        grams.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(k)
    )


def q_holt_linear(
    orders: DataFrame, alpha: float = 0.4, beta: float = 0.3
) -> DataFrame:
    """Holt's linear (double exponential) smoothing of each customer's
    order-amount sequence, ordered by (o_orderdate, o_orderkey):

        l_t = a*y_t + (1-a)*(l_{t-1} + b_{t-1})
        b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}

    seeded l_1 = y_1, b_1 = 0. Returns the final level/trend and the
    one-step-ahead forecast l_T + b_T per customer — the trend-aware
    upgrade of q_ewma_value (EWMA lags any drifting series; Holt
    tracks the drift explicitly).

    Same scale shape as the EWMA fold: one shuffle to collect each
    key's ordered sequence, then a linear JVM-side ``aggregate`` fold
    over a STRUCT accumulator (level, trend) — the state-pair
    recurrence no window aggregate expresses. Left-to-right IEEE
    arithmetic with the new level's expression written identically in
    both positions, so an engine folding the same order (the DuckDB
    list_reduce oracle does, structs and all) reproduces every double
    bit-for-bit.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"q_holt_linear: alpha must be in (0,1], got {alpha}")
    if not 0.0 < beta <= 1.0:
        raise ValueError(f"q_holt_linear: beta must be in (0,1], got {beta}")
    per_cust = orders.groupBy("o_custkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.to_date("o_orderdate").alias("d"),
                    F.col("o_orderkey").alias("k"),
                    F.col("o_totalprice").cast("double").alias("y"),
                )
            )
        ).alias("_seq")
    )
    ys = F.transform("_seq", lambda s: s["y"])
    a, b_ = F.lit(alpha), F.lit(beta)

    def step(acc, y):
        new_l = a * y + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
        new_b = (
            b_ * ((a * y + (F.lit(1.0) - a) * (acc["l"] + acc["b"]))
                  - acc["l"])
            + (F.lit(1.0) - b_) * acc["b"]
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    state = F.aggregate(
        F.slice(ys, 2, F.greatest(F.size(ys) - 1, F.lit(0))),
        F.struct(
            F.element_at(ys, 1).alias("l"), F.lit(0.0).alias("b")
        ),
        step,
    )
    return per_cust.select(
        "o_custkey",
        F.size("_seq").cast("long").alias("n_orders"),
        F.round(state["l"], 6).alias("level"),
        F.round(state["b"], 6).alias("trend"),
        F.round(state["l"] + state["b"], 6).alias("forecast_next"),
    )


def user_sessions(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Per-user session intervals from the gaps-and-islands rule:
    ``(user_id, session_id, start_us, end_us)`` in integer
    microseconds. The shared interval source for the sweep-line
    concurrency and the interval-overlap join."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.col("ts").cast("long")
    prev = F.lag(ts_s).over(w)
    is_new = F.when(
        prev.isNull() | ((ts_s - prev) > gap_seconds), 1
    ).otherwise(0)
    return (
        events.withColumn(
            "session_id",
            F.sum(is_new).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
    )


def q_session_concurrency(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Peak concurrent sessions per hour — the sweep-line interval
    problem (how many user sessions are simultaneously open) solved
    distributed: each session contributes a (+1 at start, -1 at end)
    boundary in integer microseconds, the running sum over the global
    (t, +1-before--1) boundary order IS the concurrency after each
    boundary, and the hourly rollup takes the max. Sessions touching
    at an instant count as overlapping (inclusive [start, end]; +1
    sorts before -1 at equal t).

    Scale shape: the global running sum uses the two-phase
    distributed rank/prefix machinery (range repartition, local
    prefix sums, partition-total offsets) — NEVER a bare global-order
    window funneling every boundary through one task. Ties at equal
    (t, delta) permute only identical deltas, so the multiset of
    running values — and therefore every hourly max — is permutation-
    invariant and engine-deterministic.
    """
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        _global_ordered_rank_and_prefix,
    )

    sess = user_sessions(events, gap_seconds)
    bounds = sess.select(
        F.col("start_us").alias("_t"), F.lit(1).cast("long").alias("_d")
    ).unionByName(
        sess.select(
            F.col("end_us").alias("_t"), F.lit(-1).cast("long").alias("_d")
        )
    )
    ranked = _global_ordered_rank_and_prefix(
        bounds, [F.col("_t"), (-F.col("_d")).alias("_negd")], F.col("_d")
    )
    conc = ranked.select(
        "_t", (F.col("_gbefore") + F.col("_d")).alias("_conc")
    )
    return (
        conc.groupBy(
            F.expr("_t div 3600000000").alias("hour_bucket")
        )
        .agg(
            F.max("_conc").alias("max_concurrency"),
            F.count(F.lit(1)).alias("n_boundaries"),
        )
    )


def q_cohort_ltv(orders: DataFrame) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by the month of
    their FIRST order (the cohort), revenue accumulated per cohort at
    each integer month age — the (cohort month x age) triangle every
    growth/retention deck is built from.

    Month arithmetic is integer (year*12 + month), so ages are
    engine-exact; revenue sums as decimal before the 2-decimal round
    (the _part_revenue_cents regrouping-proof pattern). Two keyed
    aggregations and one broadcast-sized first-order join — nothing
    order-dependent.
    """
    om = F.year(F.to_date("o_orderdate")) * 12 + F.month(
        F.to_date("o_orderdate")
    )
    first = orders.groupBy("o_custkey").agg(F.min(om).alias("_cohort"))
    joined = orders.join(first, "o_custkey").select(
        "_cohort",
        (om - F.col("_cohort")).cast("long").alias("age_months"),
        "o_custkey",
        "o_totalprice",
    )
    return (
        joined.groupBy("_cohort", "age_months")
        .agg(
            F.countDistinct("o_custkey").alias("n_active_customers"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2
            )
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.col("_cohort").cast("long").alias("cohort_month_idx"),
            "age_months",
            "n_active_customers",
            "revenue",
        )
    )


def q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "EUROPE",
    part_type: str = "LARGE",
    min_size: int = 10,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q2-shaped min-cost supplier. The testdata has no
    ``partsupp`` table, so supply cost is DERIVED from observed trade:
    per (part, supplier) the quantity-weighted unit price
    sum(price)/sum(qty) over all lineitem rows (exact decimal sums —
    engine-stable regardless of row order; see the inline comment for
    why NO per-row division or rounding is used). Q2's correlated
    ``ps_supplycost = (SELECT min ...)``
    subquery becomes a window ``min`` over the already-collapsed
    (part, supplier) frame; ties keep every minimal supplier, exactly
    like Q2.

    Scale shape: the selective dimension predicates are applied to
    lineitem FIRST as broadcast semi-joins (guide §3.2 — pre-filter
    the big side before its shuffle): only lines of wanted parts
    (p_type/p_size) from in-region suppliers enter the keyed
    aggregation, cutting the exchange to the ~2-3% of (part, supplier)
    groups the query can ever return. Result-identical by
    construction: the aggregation groups by exactly (l_partkey,
    l_suppkey), the window min is per l_partkey over in-region
    suppliers only, and the final join keeps only wanted parts — so
    dropping other parts'/suppliers' rows before the aggregation
    removes only groups the old plan discarded later. Then lineitem
    collapses via one keyed aggregation (map-side combine), the window
    and later joins run on that collapsed frame, and
    supplier+nation+region fold into one broadcast dimension.
    """
    # Quantity-weighted unit cost: sum(price)/sum(qty). Both sums are
    # exact decimals (order-independent, engine-identical); ONE double
    # division at the end is bit-identical across engines. A per-row
    # price/qty division cast to decimal would hit half-up boundary
    # divergence (Spark casts via the double's shortest decimal repr,
    # other engines via its binary value), and round(double, k) has
    # the same failure class — so neither appears anywhere here.
    eligible_supp = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        region.filter(F.col("r_name") == region_name)
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    wanted_parts = part.filter(
        (F.col("p_type") == part_type) & (F.col("p_size") >= min_size)
    ).select("p_partkey", "p_type", "p_size")
    # Broadcast semi-joins BEFORE the aggregation: its exchange (and
    # the window's) then carry only groups that can reach the output.
    lines = lineitem.join(
        F.broadcast(wanted_parts.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "semi",
    ).join(
        F.broadcast(eligible_supp.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "semi",
    )
    cost = (
        lines.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
            ).alias("price_sum"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias(
                "qty_sum"
            ),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            (
                F.col("price_sum").cast("double")
                / F.col("qty_sum").cast("double")
            ).alias("supply_cost"),
        )
    )
    in_region = cost.join(
        F.broadcast(eligible_supp),
        F.col("l_suppkey") == F.col("s_suppkey"),
    )
    w = Window.partitionBy("l_partkey")
    cheapest = in_region.withColumn(
        "min_cost", F.min("supply_cost").over(w)
    ).filter(F.col("supply_cost") == F.col("min_cost"))
    return (
        cheapest.join(
            wanted_parts, F.col("l_partkey") == F.col("p_partkey")
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_size",
            "supply_cost",
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name"),
            F.col("s_name"),
            F.col("p_partkey"),
        )
        .limit(k)
    )


def q11_important_stock(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_2",
    avg_multiplier: float = 2.0,
) -> DataFrame:
    """TPC-H Q11-shaped important stock: total traded value per part
    through one nation's suppliers, keeping parts whose value exceeds
    ``avg_multiplier`` x the nation's AVERAGE per-part value. Q11's
    scalar subquery (``HAVING value > (SELECT sum(...)*fraction``)
    becomes a broadcast cross-join of the 1-row average against the
    per-part aggregate — the same single-pass two-level aggregation,
    no second scan of lineitem. The threshold is avg-relative rather
    than TPC-H's total-fraction because the fraction must shrink with
    scale factor (TPC-H specs 0.0001/SF); an avg multiple selects the
    same top tail at EVERY scale with one constant.

    Scale shape: nation->supplier folds to one broadcast semi-join
    (the fact scan never shuffles for it); one keyed aggregation on
    l_partkey; the grand total re-aggregates the per-part frame
    (|parts| rows, not |lines|); decimal sums keep both engines
    bit-identical.
    """
    nat_supp = supplier.join(
        F.broadcast(
            nation.filter(F.col("n_name") == nation_name).select(
                "n_nationkey"
            )
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    val = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per_part = (
        lineitem.join(
            F.broadcast(nat_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("part_value_dec"))
    )
    # exact decimal sum -> double / integer count (engine-stable; see
    # q2_min_cost_supplier for why decimal division is avoided)
    avg_val = per_part.agg(
        (
            F.sum("part_value_dec").cast("double") / F.count(F.lit(1))
        ).alias("avg_value")
    )
    return (
        per_part.crossJoin(F.broadcast(avg_val))
        .filter(
            F.col("part_value_dec").cast("double")
            > F.col("avg_value") * F.lit(avg_multiplier)
        )
        .select(
            "l_partkey",
            F.round(F.col("part_value_dec"), 2)
            .cast("double")
            .alias("part_value"),
        )
    )


def q16_supplier_by_part_attrs(
    part: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    excl_brand: str = "Brand#1",
    excl_types: tuple = ("PROMO", "ECONOMY"),
    sizes: tuple = (1, 4, 9, 14, 19, 24, 29, 34),
) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity per part attribute group:
    how many DISTINCT suppliers have shipped parts of each surviving
    (brand, type, size) combination, excluding flagged suppliers.
    The testdata's parts have no comment column, so Q16's
    "complaints" supplier exclusion becomes ``s_acctbal < 0``
    (delinquent account) — the same NOT-IN anti-join shape.

    Scale shape: part-attribute filters push into the part scan; the
    link table (lineitem's (partkey, suppkey) pairs) is first
    DISTINCT-collapsed per attribute group (map-side combine), so the
    count-distinct shuffle carries collapsed pairs, not raw lines; the
    excluded-supplier set is a broadcast anti-join (6 rows here, and
    at any scale a tiny fraction of suppliers).
    """
    wanted = part.filter(
        (F.col("p_brand") != excl_brand)
        & (~F.col("p_type").isin(list(excl_types)))
        & (F.col("p_size").isin(list(sizes)))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    flagged = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    links = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(flagged),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(wanted, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return (
        links.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_size"),
        )
    )


def q20_promo_part_suppliers(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    name_prefix: str = "red",
    ship_from: str = "2000-01-01",
    ship_until: str = "2001-01-01",
    nation_name: str = "NATION_8",
    excess_factor: float = 0.5,
) -> DataFrame:
    """TPC-H Q20-shaped promotion-candidate suppliers: the nested
    semi-join chain (part name pattern -> shipped-quantity threshold
    -> supplier -> nation). Without ``ps_availqty`` the threshold
    "availqty > 0.5 * shipped qty" becomes "this supplier's shipped
    qty of pattern parts in the window exceeds ``excess_factor`` x
    the all-supplier average of that same quantity" — a scalar
    broadcast threshold with identical join nesting.

    Scale shape: the name-pattern part filter pushes to the part scan
    and semi-joins the fact table BEFORE any aggregation; one keyed
    agg per supplier; the 1-row average broadcasts; the final
    qualifying-supplier set semi-joins the (broadcast) supplier dim.
    Exact decimal quantity sums keep the threshold engine-stable.
    """
    pat_parts = part.filter(
        F.col("p_name").startswith(name_prefix)
    ).select("p_partkey")
    window_lines = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(ship_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(ship_until).cast("timestamp"))
    ).join(
        F.broadcast(pat_parts),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    per_supp = window_lines.groupBy("l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec")
    )
    # exact decimal sum -> double / integer count: engine-stable (see
    # q2_min_cost_supplier for why decimal division is avoided)
    avg_qty = per_supp.agg(
        (
            F.sum("qty_dec").cast("double") / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    qualifying = (
        per_supp.crossJoin(F.broadcast(avg_qty))
        .filter(
            F.col("qty_dec").cast("double")
            > F.col("avg_qty") * F.lit(excess_factor)
        )
        .select("l_suppkey")
    )
    nat = nation.filter(F.col("n_name") == nation_name).select(
        "n_nationkey"
    )
    return (
        supplier.join(
            F.broadcast(qualifying),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .join(
            F.broadcast(nat),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


def q_hourly_interpolate(events: DataFrame) -> DataFrame:
    """Dense hourly spine per event type with LINEAR interpolation
    across gaps — the time-series repair twin of ``q_hourly_gapfill``
    (whose zero-fill is right for counts but wrong for level metrics
    like sensor readings or balances). Each missing hour gets
    ``prev + (next - prev) * elapsed/(span)`` between its nearest
    observed neighbors; hours before the first / after the last
    observation clamp to the nearest observed value (the spine is
    bounded by observations, so only interior gaps interpolate).

    One aggregation + one spine explode + TWO ignore-nulls window
    passes (backward carry, forward carry) — the same
    struct-carry-per-direction machinery as the nearest as-of join,
    all keyed by event type. Hour indexes are exact integers (epoch
    hours) and the observed values exact decimal sums cast to double,
    so the interpolation arithmetic — identical expression shape in
    the SQL oracle — is bit-reproducible.
    """
    observed = events.groupBy(
        F.col("event_type"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("_val")
    )
    spine = (
        events.groupBy("event_type")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("_lo"),
            F.date_trunc("hour", F.max("ts")).alias("_hi"),
        )
        .select(
            "event_type",
            F.explode(
                F.sequence("_lo", "_hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    filled = spine.join(
        F.broadcast(observed), ["event_type", "hour"], "left"
    ).withColumn(
        "hour_idx", (F.unix_micros("hour") / 3_600_000_000).cast("long")
    )
    mark = F.when(
        F.col("_val").isNotNull(),
        F.struct(F.col("hour_idx").alias("i"), F.col("_val").alias("v")),
    )
    w = Window.partitionBy("event_type").orderBy("hour_idx")
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    carried = filled.select(
        "event_type",
        "hour_idx",
        "_val",
        F.last(mark, ignorenulls=True).over(wb).alias("_p"),
        F.first(mark, ignorenulls=True).over(wf).alias("_n"),
    )
    interp = (
        F.when(F.col("_val").isNotNull(), F.col("_val"))
        .when(F.col("_p").isNull(), F.col("_n.v"))
        .when(F.col("_n").isNull(), F.col("_p.v"))
        .otherwise(
            F.col("_p.v")
            + (F.col("_n.v") - F.col("_p.v"))
            * (F.col("hour_idx") - F.col("_p.i"))
            / (F.col("_n.i") - F.col("_p.i"))
        )
    )
    return carried.select(
        "event_type",
        "hour_idx",
        F.col("_val").isNotNull().alias("observed"),
        interp.alias("value_filled"),
    )


def q_ols_trend(orders: DataFrame) -> DataFrame:
    """Per-priority OLS revenue trend: slope and intercept of
    o_totalprice against order age (days since 1992-01-01), fit from
    the closed-form normal equations.

    Reproducibility contract: the five sufficient statistics (n, Σx,
    Σx², Σy, Σxy) are EXACT — x is an integer day index, y and x·y
    are summed as decimals — and the slope/intercept arithmetic is
    one fixed-shape IEEE double expression over their (identically
    rounded) double casts, so both engines produce the same bits with
    no rounding step at all. Anchoring x at 1992-01-01 instead of the
    epoch keeps x ≈ thousands, which keeps Σxy inside decimal
    precision headroom at large row counts.

    Scale shape: one partial-aggregable groupBy pass (every statistic
    is a sum, so map-side combine applies) over ~5 groups — the same
    single-shuffle profile as ``q_stats_profile``; the fit itself is
    a per-group scalar projection.
    """
    x = F.datediff(
        F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
    ).cast("long")
    y = F.col("o_totalprice").cast("decimal(18,2)")
    agg = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(x).alias("_sx"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y).alias("_sy"),
        F.sum(y * x.cast("decimal(18,0)")).alias("_sxy"),
    )
    n = F.col("n_orders").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    # Zero x-variance (every order on one date) makes the fit
    # undefined; emit NULL explicitly — engines disagree on double
    # 0/0 (Spark NaN, DuckDB NULL), so the guard is also what keeps
    # the result engine-portable on degenerate groups.
    den = n * sxx - sx * sx
    slope = F.when(den != 0.0, (n * sxy - sx * sy) / den)
    return agg.select(
        "o_orderpriority",
        "n_orders",
        slope.alias("slope_per_day"),
        F.when(den != 0.0, (sy - slope * sx) / n).alias("intercept"),
    )


def q_psi_drift(events: DataFrame, bins: int = 10) -> DataFrame:
    """Population Stability Index per event type: how far the late
    half of the stream's ``value`` distribution drifted from the early
    half — THE production drift monitor for feature pipelines (PSI
    < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 retrain).

    Timeline split: integer-microsecond midpoint ``min + (max-min)
    div 2`` — pure integer arithmetic, so the reference/current
    boundary is bit-identical in any engine (a float midpoint of
    ~1e15-microsecond epochs is NOT exactly representable).

    Bin edges are the reference half's deciles, located by explicit
    integer ranks ``ceil(j*n/bins)`` over a per-type (value, event_id)
    ordering — engine-exact order statistics, not an interpolating
    percentile whose arithmetic differs per engine. Counts are
    Laplace-smoothed (+1 per bin) so empty bins stay finite.

    Reproducibility: every input to ``ln`` is a ratio of exact
    integers (the q_entropy_profile contract), and the one rounding
    step is the final 6-decimal PSI.

    Scale shape: one scan; per-type keyed window for ranks (parallel
    per-key sorts, no global funnel); the edge table is bins-1 rows
    per type — broadcast; both count passes are partial-aggregable.
    Adding types adds keys, never stages.
    """
    us = F.unix_micros(F.col("ts"))
    span = events.agg(
        F.min(us).alias("_mn"), F.max(us).alias("_mx")
    ).select(
        (F.col("_mn") + F.expr("(_mx - _mn) div 2")).alias("_mid")
    )
    tagged = events.crossJoin(F.broadcast(span)).select(
        "event_type",
        "event_id",
        "value",
        (us <= F.col("_mid")).alias("_is_ref"),
    )
    ref = tagged.filter("_is_ref")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ref.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    # edge_j = reference value at rank ceil(j*n/bins), j = 1..bins-1
    js = F.explode(F.sequence(F.lit(1), F.lit(bins - 1))).alias("_j")
    edges = (
        ranked.select("event_type", "_rn", "_n", "value")
        .join(
            ranked.sparkSession.range(1).select(js),
            F.col("_rn")
            == F.expr(f"(_j * _n + {bins} - 1) div {bins}"),
        )
        .select("event_type", "_j", F.col("value").alias("_edge"))
    )
    binned = (
        tagged.join(F.broadcast(edges), "event_type", "left")
        .groupBy("event_type", "event_id", "_is_ref", "value")
        .agg(
            (
                1
                + F.sum(
                    F.when(F.col("value") > F.col("_edge"), 1).otherwise(0)
                )
            ).alias("_bin")
        )
    )
    counts = binned.groupBy("event_type", "_bin").agg(
        F.sum(F.when(F.col("_is_ref"), 1).otherwise(0)).alias("_cr"),
        F.sum(F.when(F.col("_is_ref"), 0).otherwise(1)).alias("_cc"),
    )
    # dense bin frame: empty bins still contribute to smoothed PSI
    all_bins = (
        counts.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(1), F.lit(bins))).alias("_bin"),
        )
    )
    dense = all_bins.join(counts, ["event_type", "_bin"], "left").select(
        "event_type",
        "_bin",
        F.coalesce("_cr", F.lit(0)).alias("_cr"),
        F.coalesce("_cc", F.lit(0)).alias("_cc"),
    )
    tot = dense.groupBy("event_type").agg(
        F.sum("_cr").alias("n_ref"), F.sum("_cc").alias("n_cur")
    )
    p = (F.col("_cr") + 1) / (F.col("n_ref") + bins)
    q = (F.col("_cc") + 1) / (F.col("n_cur") + bins)
    return (
        dense.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
        )
    )


def q_ks_drift(
    events: DataFrame,
    type_a: str = "click",
    type_b: str = "purchase",
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the ``value``
    distributions of two event types: D = max over x of
    |F_a(x) - F_b(x)| plus the x where the gap peaks — the
    distribution-shift alarm that needs no binning choices at all.

    Reproducibility: both empirical CDFs are ratios of exact integer
    cumulative counts over exact totals, and IEEE division/subtraction
    of identical operands is bit-identical in any engine — so D and
    its location are emitted RAW (per the exact-integer-ratio rule:
    quotients like 1/128 terminate exactly on round()'s half boundary,
    where engine rounding modes disagree — never round them).

    Scale shape: one combinable groupBy collapses the stream to
    distinct values with per-side counts; BOTH cumulative counts ride
    one two-phase distributed rank (``val2`` lane — one range
    repartition, parallel per-partition prefix sums, never a
    single-task global window); the argmax is an ordinary aggregate.
    """
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        _global_ordered_rank_and_prefix,
    )

    per_value = (
        events.filter(F.col("event_type").isin(type_a, type_b))
        .groupBy("value")
        .agg(
            F.sum(
                F.when(F.col("event_type") == type_a, 1).otherwise(0)
            ).alias("_ca"),
            F.sum(
                F.when(F.col("event_type") == type_b, 1).otherwise(0)
            ).alias("_cb"),
        )
    )
    ranked = _global_ordered_rank_and_prefix(
        per_value, ["value"], F.col("_ca"), val2=F.col("_cb")
    )
    totals = per_value.agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb")
    )
    # guarded: a one-sided degenerate input (one type absent) makes a
    # total 0, and ANSI-mode LONG/LONG division by zero THROWS — the
    # guard turns the whole gap NULL and the final filter drops it
    cdf_a = F.when(
        F.col("_na") > 0,
        (F.col("_gbefore") + F.col("_ca")) / F.col("_na"),
    )
    cdf_b = F.when(
        F.col("_nb") > 0,
        (F.col("_gbefore2") + F.col("_cb")) / F.col("_nb"),
    )
    gap = F.abs(cdf_a - cdf_b)
    # argmax via struct-max: max D first, then (for equal D) the
    # SMALLEST value — one aggregate, deterministic under ties
    peak = F.max(
        F.struct(gap.alias("d"), (-F.col("value")).alias("nv"))
    )
    return (
        ranked.crossJoin(F.broadcast(totals))
        .groupBy()
        .agg(
            F.first("_na").alias("n_a"),
            F.first("_nb").alias("n_b"),
            peak.alias("_pk"),
        )
        .select(
            F.lit(type_a).alias("type_a"),
            F.lit(type_b).alias("type_b"),
            "n_a",
            "n_b",
            F.col("_pk.d").alias("ks_stat"),
            (-F.col("_pk.nv")).alias("ks_at_value"),
        )
        # a groupBy() over zero rows still emits one all-NULL row;
        # an empty stream must yield an empty result (oracle parity).
        # Requiring BOTH samples non-empty also kills the one-sided
        # degenerate case, where Spark's IEEE x/0 CDF would emit an
        # Inf/NaN row DuckDB nulls out (two-sample KS is undefined
        # with an empty side).
        .filter(
            F.col("ks_stat").isNotNull()
            & (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
        )
    )


def q_did_estimate(
    events: DataFrame,
    post_epoch_day: int = 19738,
) -> DataFrame:
    """Difference-in-differences estimate over the event stream:
    treatment = even user ids (a deterministic stand-in for an
    assignment column), post = events on/after ``post_epoch_day``
    (integer epoch-day arithmetic — identical in any engine), outcome
    = mean event value. DiD = (treat_post − treat_pre) −
    (ctrl_post − ctrl_pre) — the workhorse quasi-experimental
    estimator, joining the attribution/lift/elasticity causal family.

    Reproducibility: the four cell means are double sums rounded to 6
    BEFORE the differencing (float-sum order differs across engines
    in last ulps; the differences of rounded means are then exact).

    Scale shape: ONE combinable aggregation pass with conditional
    sums — four cells regardless of stream size; no join, no window.
    """
    day = F.expr("unix_micros(ts) div 86400000000")
    post = (day >= F.lit(int(post_epoch_day))).cast("int")
    treat = (F.col("user_id") % 2 == 0).cast("int")
    cell = lambda t, p: (treat == t) & (post == p)  # noqa: E731
    n = lambda t, p: F.sum(cell(t, p).cast("long"))  # noqa: E731
    m = lambda t, p: F.round(  # noqa: E731
        F.sum(F.when(cell(t, p), F.col("value"))) / n(t, p), 6
    )
    agg = events.agg(
        n(1, 0).alias("n_treat_pre"),
        m(1, 0).alias("mean_treat_pre"),
        n(1, 1).alias("n_treat_post"),
        m(1, 1).alias("mean_treat_post"),
        n(0, 0).alias("n_ctrl_pre"),
        m(0, 0).alias("mean_ctrl_pre"),
        n(0, 1).alias("n_ctrl_post"),
        m(0, 1).alias("mean_ctrl_post"),
    )
    did = (
        F.col("mean_treat_post") - F.col("mean_treat_pre")
    ) - (F.col("mean_ctrl_post") - F.col("mean_ctrl_pre"))
    return agg.select("*", F.round(did, 6).alias("did")).filter(
        F.col("n_treat_pre").isNotNull() & (F.col("n_treat_pre") > 0)
    )


def q_srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch health check for the even-user
    experiment: USER-level counts per arm vs the designed 50/50
    split, with the one-degree chi-square statistic
    (n_t − e)²/e + (n_c − e)²/e and the crossed-the-3.84-critical
    -value flag — the first thing a trustworthy A/B readout checks
    (a mismatched split invalidates DiD/CUPED downstream).

    Engine-exactness: counts are exact integers; e = (n_t + n_c)/2.0
    and the chi-square are fixed-order arithmetic over exact
    integers — emitted raw. Empty input yields an empty result.

    Scale shape: one distinct-user aggregation (map-side combinable)
    then scalar arithmetic on a 1-row frame.
    """
    arms = (
        events.select("user_id").distinct()
        .agg(
            F.sum((F.col("user_id") % 2 == 0).cast("long")).alias(
                "n_treat"
            ),
            F.sum((F.col("user_id") % 2 != 0).cast("long")).alias(
                "n_ctrl"
            ),
        )
    )
    e = (F.col("n_treat") + F.col("n_ctrl")) / F.lit(2.0)
    chi2 = F.when(
        F.col("n_treat") + F.col("n_ctrl") > 0,
        (F.col("n_treat") - e) * (F.col("n_treat") - e) / e
        + (F.col("n_ctrl") - e) * (F.col("n_ctrl") - e) / e,
    )
    return (
        arms.select(
            "n_treat",
            "n_ctrl",
            chi2.alias("chi2"),
            (chi2 > 3.841458820694124).alias("srm_flag"),
        )
        .filter(F.col("n_treat").isNotNull() & (F.col("n_treat") + F.col("n_ctrl") > 0))
    )


def q_welch_t(
    events: DataFrame,
    type_a: str = "click",
    type_b: str = "purchase",
) -> DataFrame:
    """Welch's unequal-variance t-test between two event types' value
    distributions: t = (m_a − m_b) / sqrt(s²_a/n_a + s²_b/n_b) with
    the Welch–Satterthwaite degrees of freedom — the parametric
    member of the two-sample trio (KS = shape, Mann-Whitney = rank
    dominance, Welch = means).

    Reproducibility: per-side mean and sample variance round to 6
    first (float-sum order differs across engines in last ulps); t
    and df are then fixed-order arithmetic over identical rounded
    inputs, emitted raw. Sides with fewer than 2 values make the
    variance (hence t, df) NULL — guarded, ANSI-safe.

    Scale shape: ONE combinable aggregation pass with conditional
    moments — no join, no window, two cells regardless of stream
    size.
    """
    a = F.col("event_type") == type_a
    b = F.col("event_type") == type_b
    agg = events.filter(a | b).agg(
        F.sum(a.cast("long")).alias("n_a"),
        F.sum(b.cast("long")).alias("n_b"),
        F.round(F.avg(F.when(a, F.col("value"))), 6).alias("mean_a"),
        F.round(F.avg(F.when(b, F.col("value"))), 6).alias("mean_b"),
        F.round(F.var_samp(F.when(a, F.col("value"))), 6).alias("var_a"),
        F.round(F.var_samp(F.when(b, F.col("value"))), 6).alias("var_b"),
    )
    va_n = F.col("var_a") / F.col("n_a")
    vb_n = F.col("var_b") / F.col("n_b")
    se2 = va_n + vb_n
    t = F.when(
        se2 > 0.0,
        (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2),
    )
    df_ws = F.when(
        (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se2 > 0.0),
        (se2 * se2)
        / (
            va_n * va_n / (F.col("n_a") - 1)
            + vb_n * vb_n / (F.col("n_b") - 1)
        ),
    )
    return agg.select(
        F.lit(type_a).alias("type_a"),
        F.lit(type_b).alias("type_b"),
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "var_a",
        "var_b",
        t.alias("t_stat"),
        df_ws.alias("df_welch"),
    ).filter((F.col("n_a") > 1) & (F.col("n_b") > 1))


def q_cuped_adjustment(
    events: DataFrame,
    post_epoch_day: int = 19738,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) for the even-user
    experiment: per user, X = pre-period value sum (the covariate),
    Y = post-period value sum (the metric); θ = cov(X,Y)/var(X);
    Y_adj = Y − θ·(X − mean(X)). Reports the raw and CUPED-adjusted
    treatment/control mean difference plus the achieved variance
    reduction — the standard way to shrink A/B confidence intervals
    with pre-experiment data, completing the causal family
    (attribution → lift → elasticity → DiD → CUPED).

    Reproducibility (staged rounding): per-user X/Y sums round to 6
    (absorbing float-sum order), the θ and mean(X) SCALARS round to 6
    before broadcasting back, so every per-user adjustment is
    arithmetic over identical rounded inputs; group means and
    variances re-round at the end; ratios of rounded values are raw.

    Scale shape: one per-user conditional aggregation, one scalar
    moment row broadcast back, one final group aggregation — no
    window, no join wider than the 1-row broadcast.
    """
    day = F.expr("unix_micros(ts) div 86400000000")
    post = day >= F.lit(int(post_epoch_day))
    per_user = events.groupBy("user_id").agg(
        F.coalesce(
            F.round(F.sum(F.when(~post, F.col("value"))), 6), F.lit(0.0)
        ).alias("_x"),
        F.coalesce(
            F.round(F.sum(F.when(post, F.col("value"))), 6), F.lit(0.0)
        ).alias("_y"),
    )
    scalars = per_user.agg(
        F.round(F.covar_samp("_x", "_y"), 6).alias("_cov"),
        F.round(F.var_samp("_x"), 6).alias("_varx"),
        F.round(F.avg("_x"), 6).alias("_mx"),
    ).select(
        F.when(
            F.col("_varx") > 0.0,
            F.round(F.col("_cov") / F.col("_varx"), 6),
        ).alias("_theta"),
        "_mx",
    )
    adj = per_user.crossJoin(F.broadcast(scalars)).select(
        (F.col("user_id") % 2 == 0).cast("int").alias("_treat"),
        "_y",
        (
            F.col("_y")
            - F.col("_theta") * (F.col("_x") - F.col("_mx"))
        ).alias("_yadj"),
        "_theta",
    )
    g = adj.groupBy().agg(
        F.sum(F.col("_treat").cast("long")).alias("n_treat"),
        F.sum((1 - F.col("_treat")).cast("long")).alias("n_ctrl"),
        F.first("_theta").alias("theta"),
        F.round(F.avg(F.when(F.col("_treat") == 1, F.col("_y"))), 6).alias(
            "_mt_raw"
        ),
        F.round(F.avg(F.when(F.col("_treat") == 0, F.col("_y"))), 6).alias(
            "_mc_raw"
        ),
        F.round(
            F.avg(F.when(F.col("_treat") == 1, F.col("_yadj"))), 6
        ).alias("_mt_adj"),
        F.round(
            F.avg(F.when(F.col("_treat") == 0, F.col("_yadj"))), 6
        ).alias("_mc_adj"),
        F.round(F.var_samp("_y"), 6).alias("var_y"),
        F.round(F.var_samp("_yadj"), 6).alias("var_adj"),
    )
    return g.select(
        "n_treat",
        "n_ctrl",
        "theta",
        (F.col("_mt_raw") - F.col("_mc_raw")).alias("diff_raw"),
        (F.col("_mt_adj") - F.col("_mc_adj")).alias("diff_cuped"),
        "var_y",
        "var_adj",
        F.when(
            F.col("var_y") > 0.0,
            F.lit(1.0) - F.col("var_adj") / F.col("var_y"),
        ).alias("var_reduction"),
    ).filter(F.col("n_treat").isNotNull())


def q_mann_whitney(
    events: DataFrame,
    type_a: str = "click",
    type_b: str = "purchase",
) -> DataFrame:
    """Mann-Whitney U rank-sum test between two event types' value
    distributions: U statistics for both sides plus the rank-biserial
    effect size r = 1 − 2U_a/(n_a·n_b) — the nonparametric
    "did the distribution move?" test that (unlike the KS D) measures
    stochastic dominance, not just the largest CDF gap.

    Reproducibility: tied values get the textbook AVERAGE rank,
    computed as (count strictly below) + (ties + 1)/2 — every term an
    exact integer or half-integer, so rank sums are EXACT doubles at
    any aggregation order (all partials < 2^52; a corpus where
    n_a·n_b crosses 2^53 must upgrade the rank sum to DECIMAL). U and
    r are emitted raw (exact-integer-ratio rule — never round a
    terminating quotient).

    Scale shape: one combinable groupBy collapses the stream to
    distinct values with per-side counts; the cumulative
    count-strictly-below rides the same two-phase distributed rank as
    q_ks_drift (range repartition + per-partition prefix, no global
    window); everything after is one aggregate over distinct values.
    """
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        _global_ordered_rank_and_prefix,
    )

    per_value = (
        events.filter(F.col("event_type").isin(type_a, type_b))
        .groupBy("value")
        .agg(
            F.sum(
                F.when(F.col("event_type") == type_a, 1).otherwise(0)
            ).alias("_ca"),
            F.sum(
                F.when(F.col("event_type") == type_b, 1).otherwise(0)
            ).alias("_cb"),
        )
    )
    ranked = _global_ordered_rank_and_prefix(
        per_value, ["value"], F.col("_ca"), val2=F.col("_cb")
    )
    avg_rank = (
        F.col("_gbefore")
        + F.col("_gbefore2")
        + (F.col("_ca") + F.col("_cb") + 1) / 2.0
    )
    agg = ranked.agg(
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
        F.sum(F.col("_ca") * avg_rank).alias("_ra"),
    )
    u_a = F.col("_ra") - F.col("n_a") * (F.col("n_a") + 1) / 2.0
    return (
        agg.select(
            F.lit(type_a).alias("type_a"),
            F.lit(type_b).alias("type_b"),
            "n_a",
            "n_b",
            u_a.alias("u_a"),
            (F.col("n_a") * F.col("n_b") - u_a).alias("u_b"),
            (
                F.lit(1.0)
                - 2.0 * u_a / (F.col("n_a") * F.col("n_b"))
            ).alias("r_rank_biserial"),
        )
        # empty input: the agg still emits one all-NULL row — an
        # empty stream must yield an empty result (oracle parity)
        .filter(F.col("n_a").isNotNull() & (F.col("n_a") > 0) & (F.col("n_b") > 0))
    )


def q_cusum_changepoint(events: DataFrame) -> DataFrame:
    """CUSUM changepoint scan per event type: the running sum of
    deviations from the type mean, S_t = Σ(value_i - mean), peaks
    exactly where the level of the series shifts — the classic
    single-pass changepoint locator (Page 1954). Emits each type's
    peak |S_t|, where it happened, and how far through the stream.

    Reproducibility: deviations are quantized to EXACT integer
    micro-units — ``floor((value - round(mean, 6)) * 1e6)`` is the
    same BIGINT in any engine (floor has no rounding-mode ambiguity),
    and an integer cumulative sum is order-INSENSITIVE, so it is
    immune to how the engine associates window additions (DuckDB's
    segment-tree window sum folds doubles in a different order than
    Spark's running accumulation — integers make that difference
    unobservable). The peak and its position are exact-integer
    ratios, emitted raw (the round()-half-boundary rule).

    Scale shape: everything is keyed by event_type — the mean is a
    whole-partition window aggregate, the cumulative sum a per-key
    ordered window (parallel per-key sorts), the argmax a struct-max
    aggregate. No global funnel, no second scan.
    """
    wt = Window.partitionBy("event_type")
    wo = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mean_r = F.round(F.avg("value").over(wt), 6)
    dev_i = F.floor(
        (F.col("value") - F.col("_mean")) * F.lit(1_000_000.0)
    ).cast("long")
    scored = (
        events.select("event_type", "event_id", "ts", "value")
        .withColumn("_mean", mean_r)
        .withColumn("_s", F.sum(dev_i).over(wo))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("ts", "event_id")
            ),
        )
    )
    # struct-max argmax: peak |S| first, earliest (ts, event_id) on ties
    peak = F.max(
        F.struct(
            F.abs(F.col("_s")).alias("s"),
            (-F.col("_rn")).alias("nrn"),
            F.col("ts").alias("ts"),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            peak.alias("_pk"),
        )
        .select(
            "event_type",
            "n_events",
            (F.col("_pk.s").cast("double") / F.lit(1_000_000.0)).alias(
                "cusum_peak"
            ),
            F.col("_pk.ts").alias("peak_ts"),
            (
                (-F.col("_pk.nrn")).cast("double")
                / F.col("n_events")
            ).alias("peak_frac"),
        )
    )


def q_seasonal_naive(events: DataFrame, season_hours: int = 24) -> DataFrame:
    """Seasonal-naive forecast accuracy per event type: score the
    hour-of-day seasonal forecast (value at t - 24h) against the
    one-step naive (value at the previous hour) on the hourly revenue
    series, reporting both MAEs and their ratio — MASE, the
    scale-free "is there real seasonality?" test (MASE < 1 = the
    seasonal model beats naive; the standard go/no-go before fitting
    anything fancier).

    Hours are integer epoch indices, so lags are JOINS on hour_idx -
    1 / hour_idx - 24 — gap-correct (a missing hour never silently
    shifts the season the way a row-offset lag() would). Only hours
    where BOTH references exist are scored, keeping the two MAEs
    comparable on the identical support set.

    Reproducibility: hourly sums round to 6 decimals first, so every
    abs-error is a difference of engine-identical doubles; the MAEs
    re-round after their mean, and MASE divides the two rounded MAEs.
    A constant series makes mae_naive 0 — MASE is NULL there (guarded
    division; Spark would otherwise emit Infinity/NaN where ANSI SQL
    engines emit NULL — the q_ols_trend zero-denominator rule).

    Scale shape: one combinable hourly rollup, then two self-joins
    co-partitioned on (event_type, hour) — broadcast-free, skew-free
    (hour keys are uniform), one output row per type.
    """
    hourly = (
        events.groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("_h"),
        )
        .agg(F.round(F.sum("value"), 6).alias("_v"))
    )
    cur = hourly.select("event_type", "_h", "_v")
    prev = hourly.select(
        "event_type", (F.col("_h") + 1).alias("_h"), F.col("_v").alias("_vp")
    )
    seas = hourly.select(
        "event_type",
        (F.col("_h") + season_hours).alias("_h"),
        F.col("_v").alias("_vs"),
    )
    scored = cur.join(prev, ["event_type", "_h"]).join(
        seas, ["event_type", "_h"]
    )
    mae_n = F.round(F.avg(F.abs(F.col("_v") - F.col("_vp"))), 6)
    mae_s = F.round(F.avg(F.abs(F.col("_v") - F.col("_vs"))), 6)
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        mae_n.alias("mae_naive"),
        mae_s.alias("mae_seasonal"),
        F.when(mae_n != F.lit(0.0), mae_s / mae_n).alias("mase"),
    )


def q_chi2_independence(events: DataFrame) -> DataFrame:
    """Chi-square independence audit of event type x day-of-week: each
    type's contribution sum_j (n_ij - e_ij)^2 / e_ij against the
    e_ij = row_i * col_j / N independence expectation — the standard
    "is activity mix stable across the week?" data-quality test
    (global chi2 = the sum of the per-type rows; dof = (R-1)(C-1)).

    Day-of-week comes from pure integer epoch arithmetic
    ``(epoch_days + 3) % 7`` (0 = Monday; 1970-01-01 was a Thursday
    -> 3) — calendar functions number weekdays differently per engine,
    integer math doesn't. The contingency table is DENSE (all 7 day
    cells per type, zeros included — an absent cell still contributes
    e_ij to the statistic). Every e_ij is a ratio of exact integers;
    the one float-regrouping surface is the 7-term per-type sum,
    absorbed by the final 6-decimal rounding.

    Scale shape: ONE combinable count pass over the stream collapses
    to an R x 7 table; everything after runs on that tiny frame
    (window totals + projection). Adding rows changes nothing but the
    first pass.
    """
    dow = (F.expr("unix_micros(ts) div 86400000000") + 3) % 7
    cells = events.groupBy(
        "event_type", dow.cast("int").alias("_dow")
    ).agg(F.count(F.lit(1)).alias("_n"))
    dense = (
        cells.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(F.lit(0), F.lit(6))
            ).alias("_dow"),
        )
        .join(cells, ["event_type", "_dow"], "left")
        .select(
            "event_type",
            "_dow",
            F.coalesce("_n", F.lit(0)).alias("_n"),
        )
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("_dow")
    t = dense.select(
        "event_type",
        "_dow",
        "_n",
        F.sum("_n").over(wr).alias("_r"),
        F.sum("_n").over(wc).alias("_c"),
    )
    e = F.col("_r").cast("double") * F.col("_c") / F.sum("_n").over(
        Window.partitionBy()
    )
    return (
        t.withColumn("_e", e)
        .groupBy("event_type")
        .agg(
            F.sum("_n").alias("n_events"),
            # a structurally-empty day column gives e_ij = 0 for its
            # dense zero cells: guard to NULL so Spark's SUM skips the
            # cell exactly like DuckDB's NULL-skipping sum does
            # (IEEE 0/0 would otherwise poison the sum with NaN)
            F.round(
                F.sum(
                    F.when(
                        F.col("_e") > 0.0,
                        (F.col("_n") - F.col("_e"))
                        * (F.col("_n") - F.col("_e"))
                        / F.col("_e"),
                    )
                ),
                6,
            ).alias("chi2_contrib"),
        )
    )


def q_auc_rank(
    df: DataFrame,
    score: Column,
    label: Column,
) -> DataFrame:
    """Exact ROC AUC by rank statistic (Mann-Whitney U): AUC =
    [sum over distinct score values v of
    pos(v) * (negatives_below(v) + 0.5 * neg(v))] / (P * N) — the
    probability a random positive outscores a random negative, ties
    counted half. THE offline metric for quality/dedup classifier
    scores before a threshold is chosen.

    Reproducibility: pos/neg counts per distinct score are exact
    integers, the cumulative negative count rides the two-phase
    distributed rank, and 0.5 * integer is exact in binary — so U and
    AUC are exact rationals, emitted raw (never rounded: integer
    ratios terminate on round()'s half boundary).

    Scale shape: one combinable groupBy collapses the stream to
    distinct scores; one two-phase rank (range repartition +
    per-partition prefix sums) orders them; the final row is one
    aggregate. No global-order window, no pairwise P x N expansion
    (the textbook definition is quadratic; the rank form is the
    linear-shuffle equivalent).
    """
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        _global_ordered_rank_and_prefix,
    )

    per_score = (
        df.select(score.alias("_s"), label.cast("int").alias("_y"))
        .groupBy("_s")
        .agg(
            F.sum("_y").alias("_pos"),
            F.sum(1 - F.col("_y")).alias("_neg"),
        )
    )
    ranked = _global_ordered_rank_and_prefix(
        per_score, ["_s"], F.col("_neg")
    )
    u_terms = F.col("_pos") * (
        F.col("_gbefore") + 0.5 * F.col("_neg")
    )
    return ranked.agg(
        F.sum("_pos").alias("n_pos"),
        F.sum("_neg").alias("n_neg"),
        F.sum(u_terms).alias("_u"),
    ).select(
        "n_pos",
        "n_neg",
        (
            F.col("_u") / (F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


def q_decile_lift(orders: DataFrame) -> DataFrame:
    """Decile lift / gains table: customers ranked by total spend
    (descending), cut into 10 equal-count deciles; each decile's
    revenue share and lift over the uniform 1/10 — the targeting-model
    evaluation classic ("the top decile carries 4.2x its weight").

    Reproducibility: spend aggregates as integer cents (decimal sum),
    the rank is the two-phase distributed rank with (cents DESC,
    custkey) tie-break, decile cuts are pure integer arithmetic
    ((rank-1) * 10 div n), and share/lift are exact-integer ratios
    emitted raw.

    Scale shape: one combinable per-customer rollup, one two-phase
    rank, one 10-row aggregation; totals broadcast as a scalar row.
    """
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        _global_ordered_rank_and_prefix,
    )

    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_amt")
    ).select(
        "o_custkey",
        (F.col("_amt") * 100).cast("long").alias("_cents"),
    )
    ranked = _global_ordered_rank_and_prefix(
        spend.select(
            "o_custkey", "_cents", (-F.col("_cents")).alias("_neg")
        ),
        ["_neg", "o_custkey"],
        F.lit(0),
    )
    totals = spend.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_cents").alias("_tot")
    )
    dec = ranked.crossJoin(F.broadcast(totals)).select(
        F.expr("((_grank - 1) * 10) div _n").cast("int").alias("decile"),
        "_cents",
        "_tot",
    )
    share = F.sum("_cents") / F.first("_tot")
    return (
        dec.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("_cents").cast("double") / 100.0).alias("revenue"),
            share.alias("rev_share"),
            (share * 10.0).alias("lift"),
        )
        .select(
            "decile",
            "n_customers",
            "revenue",
            F.col("rev_share").cast("double").alias("rev_share"),
            F.col("lift").cast("double").alias("lift"),
        )
    )


def q_bootstrap_ci(events: DataFrame, replicates: int = 32) -> DataFrame:
    """Bootstrap confidence interval for the per-type mean value —
    half-sampling (Bernoulli p=0.5) bootstrap with DETERMINISTIC
    md5-derived membership: row r joins replicate b iff
    md5(event_id:b) is even, so every replicate is reproducible
    across engines, reruns, and partitionings (``rand(seed)`` is
    none of those). The interval is the [2nd, B-1] order statistics
    of the B replicate means — the percentile bootstrap at ~94%
    coverage for B=32 — answering "how much would this mean move on
    a different sample of this stream?" without any normality
    assumption.

    Reproducibility: membership is integer hash parity; replicate
    means round to 6 decimals BEFORE the order-statistic selection,
    so ranking compares engine-identical doubles (the only
    float-regrouping surface is inside each replicate's avg,
    absorbed by its rounding).

    Scale shape: the explode multiplies the scan by B (the honest
    cost of B resamples — but membership halves it), one combinable
    (type, b) aggregation collapses to B rows per type, and the
    order-statistic window runs on that B-row frame. B is a constant:
    no state grows with the corpus.
    """
    if replicates < 4:
        raise ValueError(
            f"q_bootstrap_ci: need >= 4 replicates, got {replicates}"
        )
    b = F.explode(
        F.sequence(F.lit(0), F.lit(replicates - 1))
    ).alias("_b")
    # Membership rule: conv(substring(md5, 1, 8), 16, 10) is even.
    # The parity of an 8-hex-digit value IS the parity of its last
    # digit, so the decimal parse (conv + cast + pmod — measured 34%
    # of this B·N-row query, guide §1.2 step 2 / §4) is replaced by a
    # one-char set test on the SAME hash. Identical membership per
    # (event_id, b) by construction — the oracle's conv-based SQL is
    # unchanged and still hash-matches (parity pinned in
    # tests/test_analytics_extra.py).
    member = F.substring(
        F.md5(F.concat_ws(":", F.col("event_id"), F.col("_b"))), 8, 1
    ).isin("0", "2", "4", "6", "8", "a", "c", "e")
    sampled = (
        events.select("event_type", "event_id", "value", b)
        .filter(member)
    )
    rep_means = sampled.groupBy("event_type", "_b").agg(
        F.round(F.avg("value"), 6).alias("_m")
    )
    w = Window.partitionBy("event_type").orderBy("_m", "_b")
    ranked = rep_means.withColumn("_rn", F.row_number().over(w))
    ci = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("_rn") == 2, F.col("_m"))).alias("ci_lo"),
        F.max(
            F.when(F.col("_rn") == replicates - 1, F.col("_m"))
        ).alias("ci_hi"),
    )
    point = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("mean_value"),
    )
    return point.join(ci, "event_type").select(
        "event_type", "n_events", "mean_value", "ci_lo", "ci_hi"
    )


def q_survival_km(
    events: DataFrame, censor_horizon_days: int = 7
) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (days between a
    user's first and last activity), with right-censoring: users still
    active within ``censor_horizon_days`` of the observation window's
    end are CENSORED at their observed lifetime, not counted as
    churned — dropping them (or counting them as deaths) is the
    classic retention-curve bias KM exists to fix. Output: one row
    per observed lifetime with the at-risk count, deaths, censored
    exits, and S(t) = prod over t_i <= t of (1 - d_i / n_i).

    Reproducibility: every hazard factor is an exact-integer ratio;
    the cumulative product runs as exp(cumsum(ln(factor))) over the
    ascending-lifetime order and the final survival rounds to 6
    decimals (the q_entropy_profile transcendental contract). At-risk
    counts are suffix sums of exact integers.

    Scale shape: ONE combinable per-user min/max pass collapses the
    stream to a row per user, then a row per distinct lifetime
    (<= observation days); the cumulative window runs on that tiny
    frame (documented single-partition window over <= #days rows —
    the same tiny-frame exemption as the mixture quota ranks).
    """
    day = F.to_date("ts")
    spans = events.groupBy("user_id").agg(
        F.min(day).alias("_d0"), F.max(day).alias("_d1")
    )
    wend = events.agg(F.max(day).alias("_wend"))
    per_user = spans.crossJoin(F.broadcast(wend)).select(
        F.datediff("_d1", "_d0").cast("long").alias("_t"),
        (
            F.datediff("_wend", "_d1") < censor_horizon_days
        ).alias("_cens"),
    )
    tbl = per_user.groupBy("_t").agg(
        F.sum(F.when(F.col("_cens"), 0).otherwise(1)).alias("n_deaths"),
        F.sum(F.when(F.col("_cens"), 1).otherwise(0)).alias("n_censored"),
    )
    w = Window.orderBy("_t")
    before = F.coalesce(
        F.sum(F.col("n_deaths") + F.col("n_censored")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    total = per_user.agg(F.count(F.lit(1)).alias("_n"))
    risked = tbl.crossJoin(F.broadcast(total)).withColumn(
        "n_at_risk", F.col("_n") - before
    )
    # hazard factor over exact integers; survival via exp(cumsum(ln)).
    # A terminal hazard (every at-risk user dies: factor 0) zeroes the
    # curve from there on — guarded explicitly because Spark's log(0)
    # is NULL while DuckDB's is -inf.
    factor = 1.0 - F.col("n_deaths") / F.col("n_at_risk")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    hit_zero = F.max((factor <= 0.0).cast("int")).over(cum) == 1
    surv = F.when(hit_zero, F.lit(0.0)).otherwise(
        F.exp(F.sum(F.log(factor)).over(cum))
    )
    return risked.select(
        F.col("_t").alias("t_days"),
        "n_at_risk",
        "n_deaths",
        "n_censored",
        F.round(surv, 6).alias("survival"),
    )


def q_autocorr(events: DataFrame, lags: tuple = (1, 24)) -> DataFrame:
    """Autocorrelation profile of the hourly revenue series per event
    type at the given lags — the "does last hour / yesterday-same-hour
    predict now?" diagnostic that decides between naive, seasonal, and
    AR-style forecasts (the quantitative companion to
    ``q_seasonal_naive``). r_k = sum((x_t - m)(x_{t-k} - m)) /
    sum((x_t - m)^2) over hour pairs where BOTH ends exist (gap-
    correct integer hour-index joins, never row-offset lag).

    Reproducibility: hourly sums and the mean round to 6 decimals
    first, so both engines fold identical doubles; products regroup
    inside one combinable aggregation, absorbed by the final round.

    Scale shape: one combinable hourly rollup; per lag, one
    co-partitioned (type, hour) self-join plus one aggregation — a
    constant number of keyed passes, nothing data-squared.
    """
    if not lags:
        raise ValueError("q_autocorr: need at least one lag")
    hourly = events.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("_h"),
    ).agg(F.round(F.sum("value"), 6).alias("_v"))
    mean = hourly.groupBy("event_type").agg(
        F.round(F.avg("_v"), 6).alias("_m")
    )
    centered = hourly.join(F.broadcast(mean), "event_type").select(
        "event_type", "_h", (F.col("_v") - F.col("_m")).alias("_d")
    )
    denom = centered.groupBy("event_type").agg(
        F.sum(F.col("_d") * F.col("_d")).alias("_ss")
    )
    out = None
    for lag in lags:
        lagged = centered.select(
            "event_type",
            (F.col("_h") + lag).alias("_h"),
            F.col("_d").alias("_dl"),
        )
        pairs = centered.join(lagged, ["event_type", "_h"])
        num = pairs.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("_d") * F.col("_dl")).alias("_num"),
        )
        row = (
            num.join(F.broadcast(denom), "event_type")
            .select(
                "event_type",
                F.lit(int(lag)).alias("lag_hours"),
                "n_pairs",
                # constant series: _ss = 0 -> NULL, not NaN (Spark
                # doubles follow IEEE on /0, DuckDB yields NULL — the
                # q_seasonal_naive zero-denominator rule)
                F.round(
                    F.when(
                        F.col("_ss") != 0.0,
                        F.col("_num") / F.col("_ss"),
                    ),
                    6,
                ).alias("autocorr"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def q_attribution_mt(
    events: DataFrame,
    touch_types: tuple = ("view", "click"),
    conversion_type: str = "purchase",
    window_days: int = 7,
) -> DataFrame:
    """Position-weighted multi-touch attribution (the U/bathtub
    model): every conversion distributes one unit of credit over the
    user's touch events in the preceding ``window_days`` — 40% to the
    first touch, 40% to the last, the middle 20% split evenly
    (1.0 / 0.5+0.5 for one/two-touch paths) — rolled up per touch
    channel. The standard upgrade over last-touch when the question
    is "which channel OPENS journeys vs which CLOSES them".

    Reproducibility: path positions are integer ranks with
    (ts, event_id) tie-breaks; weights are fixed literals or
    divisions of identical doubles; the per-channel credit sum rounds
    to 6 decimals.

    Scale shape: conversions join touches KEYED ON USER (the range
    predicate rides the user-keyed equi-join — co-partitioned, never
    a global theta join); per-conversion ordering is a window keyed
    by the conversion id; the rollup is one combinable aggregation.
    Blow-up is bounded by per-user conversions x touches inside the
    window — the true path size.
    """
    conv = events.filter(
        F.col("event_type") == conversion_type
    ).select(
        F.col("event_id").alias("_cid"),
        F.col("user_id").alias("_cu"),
        F.col("ts").alias("_cts"),
    )
    touch = events.filter(
        F.col("event_type").isin(*touch_types)
    ).select(
        F.col("user_id").alias("_tu"),
        F.col("event_id").alias("_tid"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("_tts"),
    )
    paths = conv.join(
        touch,
        (F.col("_cu") == F.col("_tu"))
        & (F.col("_tts") < F.col("_cts"))
        & (
            F.col("_tts")
            >= F.col("_cts") - F.expr(f"INTERVAL {window_days} DAYS")
        ),
    )
    w = Window.partitionBy("_cid")
    wo = w.orderBy("_tts", "_tid")
    ranked = paths.select(
        "_cid",
        "channel",
        F.row_number().over(wo).alias("_pos"),
        F.count(F.lit(1)).over(w).alias("_n"),
    )
    n = F.col("_n")
    pos = F.col("_pos")
    weight = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when(pos == 1, F.lit(0.4))
        .when(pos == n, F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2))
    )
    return (
        ranked.withColumn("_w", weight)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("_cid").alias("n_conversions"),
            F.round(F.sum("_w"), 6).alias("credit"),
        )
    )


def q_price_elasticity(lineitem: DataFrame) -> DataFrame:
    """Log-log price elasticity of demand per return-flag segment:
    the OLS slope of ln(quantity) on ln(effective unit price) —
    elasticity < -1 = elastic demand (discounting pays for itself),
    -1..0 = inelastic. Unit price varies per line through the
    discount, which is what gives the regression its x-variation
    (the classic within-product identification).

    Reproducibility: both regression inputs are ln() of exact
    per-row arithmetic (identical doubles in any engine — the
    q_entropy_profile transcendental contract), the fit uses the
    engine's regr_* sufficient-statistic aggregates, and slope /
    intercept / r2 round to 6 decimals (absorbing the ~1e-15
    accumulation-order differences — the q_revenue_trend precedent).

    Scale shape: ONE partial-aggregable groupBy pass (every regr_*
    statistic is a sum) over ~3 groups; nothing else touches the
    fact table.
    """
    x = F.log(
        F.col("l_extendedprice")
        * (1.0 - F.col("l_discount"))
        / F.col("l_quantity")
    )
    y = F.log(F.col("l_quantity").cast("double"))
    return (
        lineitem.select("l_returnflag", x.alias("_x"), y.alias("_y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.regr_slope("_y", "_x"), 6).alias("elasticity"),
            F.round(F.regr_intercept("_y", "_x"), 6).alias("intercept"),
            F.round(F.regr_r2("_y", "_x"), 6).alias("r2"),
        )
    )
