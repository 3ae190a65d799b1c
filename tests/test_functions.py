"""functions/ helpers: salted join correctness + time_bucket,
plans/ helpers sanity."""

import pytest
from pyspark.sql import functions as F

from beametrics_spark.functions import time_bucket
from beametrics_spark.plans import (
    pushed_filters,
    scan_count,
    uses_hash_aggregate,
)
from beametrics_spark.sources import load_table


def test_time_bucket_matches_window(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").limit(200)
    both = events.select(
        time_bucket(F.col("ts"), 300).alias("b"),
        F.window("ts", "300 seconds").start.alias("w"),
    )
    assert both.filter(F.col("b") != F.col("w")).count() == 0


def test_plan_helpers(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "A"
    ).groupBy("l_linestatus").agg(F.sum("l_quantity").alias("q"))
    assert scan_count(li) == 1
    assert uses_hash_aggregate(li)
    assert any("l_returnflag" in f for f in pushed_filters(li))


def test_guard_quadratic_blocks_and_allows(spark):
    from beametrics_spark.functions import guard_quadratic

    small = spark.range(10)
    # within bounds: passthrough
    assert guard_quadratic(small, "small", scale_path="lsh").count() == 10

    big = spark.range(500)
    with pytest.raises(ValueError, match="refusing O"):
        guard_quadratic(big, "big", scale_path="lsh", limit=100)
    # explicit override skips even the count
    assert guard_quadratic(
        big, "big", scale_path="lsh", limit=100, allow_quadratic=True
    ).count() == 500


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salted join returns exactly the plain join's rows — only the
    shuffle distribution differs."""
    from beametrics_spark.functions import salted_join
    from beametrics_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    plain = orders.join(li, "o_orderkey")
    salted = salted_join(orders, li, "o_orderkey", salt_buckets=8)
    assert salted.count() == plain.count()
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b


def test_salted_join_spreads_hot_key(spark):
    """A 10k-row hot key must land in multiple salt buckets, and the join
    key of the exchange must include the salt column."""
    from beametrics_spark.functions import salted_join

    hot = spark.range(10000).select(
        F.lit(1).alias("k"), F.col("id").alias("payload")
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold")], "k int, name string")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = salted_join(hot, dim, "k", salt_buckets=8)
        assert out.count() == 10000
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan  # the exchange partitions on (k, _salt)
        # distribution check: the hot key's rows hash into >1 salt bucket
        salts = (
            hot.withColumn(
                "_salt",
                F.pmod(
                    F.xxhash64(
                        F.concat_ws(
                            "\x02", *[F.col(c).cast("string") for c in hot.columns]
                        )
                    ),
                    F.lit(8),
                ),
            )
            .select("_salt")
            .distinct()
            .count()
        )
        assert salts == 8
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_rejects_unsupported_how(spark):
    import pytest

    from beametrics_spark.functions import salted_join

    df = spark.range(1).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", how="full")


def test_salting_rejects_existing_salt_column(spark):
    import pytest

    from beametrics_spark.functions import salted_join

    df = spark.createDataFrame([(1, 2)], "k long, _salt long")
    clean = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="_salt"):
        salted_join(df, clean, "k")
    with pytest.raises(ValueError, match="_salt"):
        salted_join(clean, df, "k")


# --- broadcast-cutoff exact ranking ------------------------------------------


def test_order_boundary_rows_matches_global_rank(spark):
    """order_boundary_rows must return exactly the rows a global
    row_number would place at the target positions — including under
    heavy primary-key ties (unique tiebreak id) and skewed values."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from beametrics_spark.functions import order_boundary_rows

    # 1000 rows, primary key with many ties and a hot value
    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 7 == 0, F.lit(5))
        .otherwise((F.col("id") * 37 % 43).cast("long"))
        .alias("v"),
    )
    keys = [F.col("v"), F.col("id")]
    targets = [(1, lambda n: F.lit(100)), (2, lambda n: F.lit(501)),
               (3, lambda n: n - 1)]
    bnd = order_boundary_rows(df, keys, targets).collect()[0]
    assert bnd["_n"] == 1000
    got = {b["_label"]: (b["_key"]["k0"], b["_key"]["k1"]) for b in bnd["_bnds"]}

    ranked = df.withColumn(
        "rk", F.row_number().over(Window.orderBy("v", "id"))
    )
    want = {
        lbl: (r["v"], r["id"])
        for lbl, pos in [(1, 100), (2, 501), (3, 999)]
        for r in ranked.filter(F.col("rk") == pos).collect()
    }
    assert got == want


def test_rfm_cutoff_path_matches_ntile(spark, sf_dir):
    """The flag-gated broadcast-cutoff quartile path must be
    bit-identical to the ntile window path (VERDICT r5 #8)."""
    from beametrics_spark.operators.mining import rfm_customer_segments

    a = sorted(map(tuple, rfm_customer_segments(spark, sf_dir).collect()))
    b = sorted(
        map(
            tuple,
            rfm_customer_segments(
                spark, sf_dir, use_cutoff_quartiles=True
            ).collect(),
        )
    )
    assert a == b


def test_power_law_cutoff_path_matches_rank(spark, sf_dir):
    """The flag-gated top-1% cutoff path must be bit-identical to the
    global row_number path (VERDICT r5 #8)."""
    from beametrics_spark.operators.events3 import user_activity_power_law

    a = sorted(map(tuple, user_activity_power_law(spark, sf_dir).collect()))
    b = sorted(
        map(
            tuple,
            user_activity_power_law(
                spark, sf_dir, use_cutoff_rank=True
            ).collect(),
        )
    )
    assert a == b


def test_cutoff_path_has_no_global_sort(spark, sf_dir):
    """The cutoff paths must contain no single-task global sort: every
    Sort in the plan is either partitioned (window within hash
    partitions) or over the tiny bin/boundary tables — i.e. no
    rangepartitioning exchange anywhere."""
    from beametrics_spark.operators.events3 import user_activity_power_law
    from beametrics_spark.operators.mining import rfm_customer_segments

    for df in (
        rfm_customer_segments(spark, sf_dir, use_cutoff_quartiles=True),
        user_activity_power_law(spark, sf_dir, use_cutoff_rank=True),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan.lower().replace(" ", ""), plan
        # the ntile/global-rank shape would show an empty-partition-spec
        # window over the full reduced table
        for line in plan.splitlines():
            if "row_number()" in line and "windowspecdefinition(" in line:
                spec = line.split("windowspecdefinition(", 1)[1]
                assert spec.split(",")[0].strip().startswith("_bin"), line
