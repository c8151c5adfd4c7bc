"""Golden + unit tests for the reference-parity slice (SURVEY.md §5.1-§5.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.operators.clean import clean_orders, typed_orders
from gcp_food_delivery_data_pipeline_spark.operators.metrics import run_counts
from gcp_food_delivery_data_pipeline_spark.operators.split import split_by_status
from gcp_food_delivery_data_pipeline_spark.pipeline import run_pipeline
from gcp_food_delivery_data_pipeline_spark.schema import OUT_COLS
from gcp_food_delivery_data_pipeline_spark.sources.readers import read_orders_csv
from tests.fixtures import (
    N_COUNT_DELIVERED,
    N_COUNT_OTHER,
    N_COUNT_TOTAL,
    N_DELIVERED,
    N_OTHER,
    N_TOTAL,
)


@pytest.fixture(scope="module")
def cleaned(spark, food_csv):
    return clean_orders(read_orders_csv(spark, food_csv)).cache()


def test_schema_and_counts(cleaned):
    assert cleaned.columns == OUT_COLS
    assert cleaned.count() == N_TOTAL  # short row dropped


def test_golden_sentinel_row(cleaned):
    row = cleaned.filter(F.col("order_id") == "654s654").collect()[0]
    # P1: exactly one trailing colon stripped; P2 lower; P3 '?' removed.
    assert row["items"] == "pizza:margarita:waterzooi:crispy onion rings"
    assert row["customer_id"] == "abcd123456xy"
    assert row["amount"] == "21"
    assert row["new_col"] == "1"
    assert row["restaurant"] == "brussels mussels "  # trailing space survives
    assert row["status"] == "delivered"


def test_p1_strips_at_most_one_colon(cleaned):
    # multi-colon, no trailing colon → untouched
    row = cleaned.filter(F.col("order_id") == "111a222").collect()[0]
    assert row["items"] == "benedict:pickle"
    # trailing colon on multi-item value → only final char dropped
    row = cleaned.filter(F.col("order_id") == "909j010").collect()[0]
    assert row["items"] == "ramen:gyoza:edamame"


def test_p3_strips_only_special_chars(cleaned):
    row = cleaned.filter(F.col("order_id") == "343g454").collect()[0]
    assert row["items"] == "fish and chips"
    assert row["feedback"] == "why so salty"
    row = cleaned.filter(F.col("order_id") == "999e000").collect()[0]
    assert row["items"] == "burger  fries"  # '&' deleted, spaces remain
    assert row["feedback"] == "cold  soggy"


def test_empty_field_kept_as_empty_string(cleaned):
    """An 11-field row with an empty last field is a VALID row: the
    reference's split yields fields[10]='' (not a missing field), so it
    survives the len guard and the empty field stays ''. Spark's CSV
    reader parses the empty field to NULL; the clean step coalesces it
    back to '' for parity (ADVICE r1)."""
    rows = cleaned.filter(F.col("order_id") == "232k323").collect()
    assert len(rows) == 1
    assert rows[0]["feedback"] == ""
    assert rows[0]["status"] == "delivered"


def test_split_partition_invariants(cleaned):
    delivered, other = split_by_status(cleaned)
    nd, no = delivered.count(), other.count()
    assert nd == N_DELIVERED and no == N_OTHER
    assert nd + no == cleaned.count()
    # 'not delivered' is in OTHER, not delivered (exact equality)
    assert other.filter(F.col("status") == "not delivered").count() == 1
    # disjoint
    assert delivered.intersect(other).count() == 0


def test_counts_single_pass(cleaned):
    c = run_counts(cleaned)
    assert (c.total, c.delivered, c.other) == (N_TOTAL, N_DELIVERED, N_OTHER)


def test_cleaning_idempotent(spark, cleaned):
    """P1..P4 applied twice ≡ once (outputs contain no ?%&, no trailing
    colon, no uppercase) — SURVEY.md §5.4."""
    from gcp_food_delivery_data_pipeline_spark.functions.cleaning import (
        strip_one_trailing_colon,
        strip_special_chars,
    )

    again = cleaned.withColumn("items", strip_one_trailing_colon("items"))
    again = again.select(
        *[strip_special_chars(F.lower(c)).alias(c) for c in again.columns]
    )
    assert again.exceptAll(cleaned).count() == 0
    assert cleaned.exceptAll(again).count() == 0


def test_typed_orders(cleaned):
    t = typed_orders(cleaned)
    row = t.filter(F.col("order_id") == "654s654").collect()[0]
    assert str(row["order_date"]) == "2023-11-10"
    assert row["order_ts"].hour == 8 and row["order_ts"].minute == 31
    assert row["items"] == ["pizza", "margarita", "waterzooi", "crispy onion rings"]
    assert float(row["amount"]) == 21.0
    assert row["ratings"] == 5


def test_run_pipeline_end_to_end(spark, food_csv, tmp_path):
    out = str(tmp_path / "warehouse")
    res = run_pipeline(spark, food_csv, out)
    # Run counts are PRE-drop (reference counts before the len<12
    # guard); sink row counts below are post-drop.
    assert (res.counts.total, res.counts.delivered, res.counts.other) == (
        N_COUNT_TOTAL,
        N_COUNT_DELIVERED,
        N_COUNT_OTHER,
    )
    delivered = spark.read.parquet(res.delivered_path)
    other = spark.read.parquet(res.other_path)
    assert delivered.count() == N_DELIVERED
    assert other.count() == N_OTHER
    assert "ingest_date" in delivered.columns
    # append semantics: second run doubles the rows
    run_pipeline(spark, food_csv, out)
    assert spark.read.parquet(res.delivered_path).count() == 2 * N_DELIVERED


def test_repair_scientific_id_golden(spark):
    from pyspark.sql import functions as F

    from gcp_food_delivery_data_pipeline_spark.operators.clean import (
        is_scientific_id,
        repair_scientific_id,
    )

    cases = [
        ("1.00e+102", "1" + "0" * 102),  # the reference's literal corruption
        ("1.23e+4", "12300"),
        ("5e+3", "5000"),
        ("9.876e+3", "9876"),
        ("1.23e+1", "1.23e+1"),  # encodes 12.3 — non-integer, pass through
        ("ord123", "ord123"),  # ordinary id untouched
        ("", ""),
        ("1.00E+102", "1.00E+102"),  # pre-lowercase form: not this op's input
    ]
    df = spark.createDataFrame(cases, ["raw", "want"])
    rows = df.select(
        "raw",
        "want",
        is_scientific_id("raw").alias("flag"),
        repair_scientific_id("raw").alias("got"),
    ).collect()
    for r in rows:
        assert r.got == r.want, (r.raw, r.got, r.want)
    flags = {r.raw: r.flag for r in rows}
    assert flags["1.00e+102"] and flags["1.23e+1"]
    assert not flags["ord123"] and not flags["1.00E+102"]


def test_repair_scientific_id_no_float_detour(spark):
    """10^102 has no numeric round-trip; the repaired string must be
    digit-exact, which a DOUBLE detour could not guarantee."""
    from gcp_food_delivery_data_pipeline_spark.operators.clean import (
        repair_scientific_id,
    )

    df = spark.createDataFrame([("7.77e+50",)], ["raw"])
    got = df.select(repair_scientific_id("raw").alias("g")).collect()[0].g
    assert got == "777" + "0" * 48
    assert len(got) == 51


def test_repair_scientific_id_matches_python_model(spark):
    """Property: for any positive int, its 3-significant-digit Excel
    rendering repairs to the exact mantissa-padded digit string."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gcp_food_delivery_data_pipeline_spark.operators.clean import (
        repair_scientific_id,
    )

    @settings(max_examples=8, deadline=None)
    @given(ns=st.lists(st.integers(min_value=100, max_value=10**18),
                       min_size=1, max_size=20))
    def inner(ns):
        rows = []
        for n in ns:
            s = str(n)
            sci = f"{s[0]}.{s[1:3]}e+{len(s) - 1}"
            want = s[0:3] + "0" * (len(s) - 3)
            rows.append((sci, want))
        df = spark.createDataFrame(rows, ["raw", "want"])
        got = df.select("want",
                        repair_scientific_id("raw").alias("got")).collect()
        for r in got:
            assert r.got == r.want

    inner()


def test_reader_conveniences(spark, tmp_path):
    """read_orders_lines (raw ReadFromText parity: BOM and header
    dropped) and load_tables (bulk loader over load_table)."""
    from gcp_food_delivery_data_pipeline_spark.sources.readers import (
        load_tables,
        read_orders_lines,
    )

    p = tmp_path / "f.csv"
    p.write_text("\ufeffCustomer_id,h2\na,b\n", encoding="utf-8")
    lines = read_orders_lines(spark, str(p))
    assert lines.columns == ["line"] and [r.line for r in lines.collect()] == ["a,b"]
    tabs = load_tables(
        spark, "/root/testdata/sf0.001", ["region", "nation"]
    )
    assert set(tabs) == {"region", "nation"}
    assert tabs["region"].count() == 5
