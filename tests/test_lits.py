"""dense_lit: large constant arrays as ONE folded plan literal.

The optimization contract (OPTIMIZATION_r15.md): ``dense_lit(values,
ddl)`` must be value-identical to ``F.lit(values)`` — bit-for-bit for
finite doubles — while keeping the pre-optimization plan at 2 nodes
and constant-folding to a single array Literal in the optimized plan.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.functions.lits import dense_lit

AWKWARD_DOUBLES = [
    0.1,
    -0.1,
    1.0 / 3.0,
    2.0**-1022,        # smallest normal
    5e-324,            # smallest subnormal
    1.7976931348623157e308,  # largest finite
    -0.0,
    123456789.123456789,
    3.141592653589793,
]


def test_values_bit_identical_to_classic_lit(spark):
    classic = spark.range(1).select(
        F.lit(AWKWARD_DOUBLES).alias("a")
    ).collect()[0].a
    dense = spark.range(1).select(
        dense_lit(AWKWARD_DOUBLES, "array<double>").alias("a")
    ).collect()[0].a
    assert len(classic) == len(dense)
    for c, d in zip(classic, dense):
        # bit-for-bit: struct-pack equality, not approx
        import struct

        assert struct.pack("<d", c) == struct.pack("<d", d), (c, d)


def test_nested_and_integer_arrays(spark):
    nested = [[1.5, 2.5], [3.25, -4.75]]
    got = spark.range(1).select(
        dense_lit(nested, "array<array<double>>").alias("a")
    ).collect()[0].a
    assert [list(x) for x in got] == nested
    longs = [1, -(1 << 62), (1 << 62) + 7, 0]
    got_l = spark.range(1).select(
        dense_lit(longs, "array<bigint>").alias("a")
    ).collect()[0].a
    assert list(got_l) == longs


def test_optimized_plan_is_single_literal(spark):
    df = spark.range(1).select(
        dense_lit([[float(i + j) for j in range(8)] for i in range(4)],
                  "array<array<double>>").alias("a")
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # folded: no from_json left, the values appear as one literal
    assert "from_json" not in opt
    assert "jsontostructs" not in opt.lower()


def test_non_finite_falls_back_to_classic_lit(spark):
    vals = [1.0, float("nan"), float("inf")]
    got = spark.range(1).select(
        dense_lit(vals, "array<double>").alias("a")
    ).collect()[0].a
    assert got[0] == 1.0
    assert math.isnan(got[1])
    assert math.isinf(got[2])


def test_load_table_leaves_excluded_rules_untouched(spark, tmp_path):
    """load_table sets only its reader confs: a caller's own
    optimizer exclusions come back byte-identical."""
    from gcp_food_delivery_data_pipeline_spark.sources.readers import (
        load_table,
    )

    key = "spark.sql.optimizer.excludedRules"
    mine = "org.apache.spark.sql.catalyst.optimizer.CombineFilters"
    try:
        spark.conf.set(key, mine)
        p = tmp_path / "t.parquet"
        spark.range(3).write.mode("overwrite").parquet(str(p))
        load_table(spark, str(tmp_path), "t")
        assert spark.conf.get(key) == mine
    finally:
        spark.conf.unset(key)
