"""Physical-plan shape assertions — the 100-TB design properties the
engine promises (SURVEY.md §4.3, build-plan north star):

  * filters compiled from FilterConditions reach the parquet scan
    (PushedFilters) and prune columns (ReadSchema);
  * the multi-metric fan-out scans the source ONCE regardless of the
    number of configs (no union-of-branches re-scan);
  * small dimension joins broadcast;
  * windowed aggregation is partial (map-side combine) before the shuffle.
"""

import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from beametrics_spark.config import FilterCondition, MetricConfig, MetricDefinition
from beametrics_spark.pipeline import build_metrics_pipeline
from beametrics_spark.sources import load_table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def configs(n=1):
    return [
        MetricConfig(
            metric_definition=MetricDefinition(name=f"m{i}", type="count"),
            filter_conditions=[FilterCondition("event_type", "error", "equals")],
        )
        for i in range(n)
    ]


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    """equals-condition must appear in PushedFilters of the parquet scan."""
    events = load_table(spark, sf_dir, "events")
    out = build_metrics_pipeline(events, configs(1), window_size=60)
    plan = formatted_plan(out)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, plan
    assert "event_type" in pushed.group(1), pushed.group(1)


def test_column_pruning(spark, sf_dir):
    """A count-only pipeline must not read the unused value/props columns."""
    events = load_table(spark, sf_dir, "events")
    out = build_metrics_pipeline(events, configs(1), window_size=60)
    plan = formatted_plan(out)
    schema = re.search(r"ReadSchema: (.*)", plan)
    assert schema, plan
    read = schema.group(1)
    assert "event_type" in read and "ts" in read
    assert "props" not in read and "value" not in read and "user_id" not in read


def test_fanout_single_scan(spark, sf_dir):
    """N metric configs ⇒ exactly one FileScan of the events table."""
    events = load_table(spark, sf_dir, "events")
    out = build_metrics_pipeline(events, configs(5), window_size=60)
    plan = plan_of(out)
    assert plan.count("FileScan parquet") == 1, plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """HashAggregate(partial) → Exchange → HashAggregate(final) — Catalyst's
    combiner lifting (the reference relies on Beam's CombinePerKey for the
    same property, pipeline.py:180). With dynamic labels the array<string>
    label key must keep both shapes (flat and exploded fan-out) on hash
    aggregation: no SortAggregate, no ObjectHashAggregate."""
    events = load_table(spark, sf_dir, "events")
    out = build_metrics_pipeline(events, configs(1), window_size=60)
    plan = plan_of(out)
    assert re.search(r"partial_(sum|first)", plan), plan
    assert "Exchange hashpartitioning" in plan
    labeled = MetricConfig(
        metric_definition=MetricDefinition(
            name="by_user",
            type="count",
            metric_labels={"svc": "api"},
            dynamic_labels={"user": "user_id", "et": "event_type"},
        ),
        filter_conditions=[FilterCondition("event_type", "error", "equals")],
    )
    for cfgs in ([labeled], configs(1) + [labeled]):
        out = build_metrics_pipeline(events, cfgs, window_size=60)
        out.collect()
        plan = plan_of(out)
        assert "HashAggregate" in plan, plan
        assert "SortAggregate" not in plan, plan
        assert "ObjectHashAggregate" not in plan, plan


def test_hot_key_partial_aggregate_bounded(spark):
    """Hot key: 90 % of the rows share one (window, metric, labels) key.
    The windowed counts match a direct count of the input, and the partial
    aggregate ships at most one row per key per map partition, which is
    why the engine needs no salting."""
    map_partitions = 4
    hot = spark.range(0, 20_000, 1, map_partitions).select(
        F.timestamp_seconds(F.lit(1_704_067_230)).alias("ts"),
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 7).cast("string")))
        .alias("user_id"),
    )
    by_user = MetricConfig(
        metric_definition=MetricDefinition(
            name="by_user", type="count", dynamic_labels={"user": "user_id"}
        ),
    )
    out = build_metrics_pipeline(hot, [by_user], window_size=60)
    rows = out.collect()
    want: dict = {}
    for i in range(20_000):
        user = "hot" if i % 10 < 9 else f"cold{i % 7}"
        want[user] = want.get(user, 0) + 1
    assert want["hot"] == 18_000
    assert {r["labels"]["user"]: r["value"] for r in rows} == want
    assert {(r["metric_name"], r["window_start"]) for r in rows} == {
        ("by_user", datetime(2024, 1, 1, 0, 0, 0))
    }
    partial_rows = partial_aggregate_output_rows(out)
    assert 0 < partial_rows <= len(rows) * map_partitions, partial_rows


def partial_aggregate_output_rows(df) -> int:
    """numOutputRows of the HashAggregates below the first Exchange of the
    executed (adaptive, final) plan; read after an action on ``df``."""
    total = 0

    def walk(node, below_exchange):
        nonlocal total
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), below_exchange)
        if cls.endswith("QueryStageExec"):
            return walk(node.plan(), below_exchange)
        name = node.nodeName()
        below_exchange = below_exchange or "Exchange" in name
        if name == "HashAggregate" and below_exchange:
            total += node.metrics().apply("numOutputRows").value()
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), below_exchange)

    walk(df._jdf.queryExecution().executedPlan(), False)
    return total


def test_broadcast_dimension_join(spark, sf_dir):
    from beametrics_spark.operators.relational import revenue_by_nation

    plan = plan_of(revenue_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_no_global_sort(spark, sf_dir):
    """row_number top-k must window-sort within partitions, not globally
    sort the fact table (no Exchange rangepartitioning)."""
    from beametrics_spark.operators.relational import topk_orders_per_priority

    plan = plan_of(topk_orders_per_priority(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower().replace(" ", ""), plan


def test_contamination_no_cartesian_and_single_gram_shuffle(spark, sf_dir):
    """Decontamination must stay an inverted-index semi join on the gram
    string — no doc x doc product anywhere in the plan."""
    from beametrics_spark.operators.curation2 import contamination_ngram_overlap

    plan = plan_of(contamination_ngram_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_q9_broadcasts_all_dimensions(spark, sf_dir):
    """Q9's three dimension joins (part/supplier/nation) broadcast; only
    lineitem-orders may shuffle."""
    from beametrics_spark.operators.relational6 import tpch_q9_product_type_profit

    plan = plan_of(tpch_q9_product_type_profit(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_pii_detection_single_scan_no_join(spark, sf_dir):
    """PII detection is one codegen regex pass + a tiny rollup — a single
    scan, no join of any kind."""
    from beametrics_spark.operators.curation2 import pii_detection_rates

    plan = plan_of(pii_detection_rates(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_sequence_packing_one_shuffle_per_window(spark, sf_dir):
    """Packing is one window per source partition: exactly one
    hash-partitioning exchange feeds the window sort."""
    from beametrics_spark.operators.curation2 import sequence_packing

    plan = plan_of(sequence_packing(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # window + agg
    assert "rangepartitioning" not in plan.lower().replace(" ", ""), plan


def test_aqe_splits_planted_skew_join(spark):
    """Runtime complement to salted_join: AQE's skew-join split must kick
    in on a planted hot key (one key holding ~all rows) once thresholds
    are scaled down to test-data sizes — the executed sort-merge join is
    marked skew=true. At 100 TB the same mechanism splits hot partitions
    at real thresholds; salted_join remains the deterministic,
    planner-independent fallback (functions/__init__.py)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4KB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(200_000).select(
            F.when(F.col("id") % 50 == 0, F.col("id") % 7).otherwise(F.lit(1)).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("v"),
        )
        dim = spark.range(2_000).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("name")
        )
        # no key-partitioned operator downstream of the join: AQE skips
        # the skew split when it would force an extra shuffle (e.g. a
        # groupBy on the join key right after) — itself a useful fact:
        # in that shape, reach for salted_join instead
        # collect() (not a noop write) so the inspected QueryExecution is
        # the one that actually ran; a tiny projection keeps it cheap
        out = hot.join(dim, "k").select(F.length("v").alias("lv"))
        assert out.count() >= 200_000 // 50  # sanity: join matched
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q21_one_pass_no_sort_merge_join(spark, sf_dir):
    """The Q21 rewrite's contract: lineitem is consumed by ONE broadcast
    join + ONE aggregate — no SortMergeJoin anywhere, orders and
    supplier both broadcast, and only aggregate exchanges remain."""
    from beametrics_spark.operators.relational5 import (
        tpch_q21_suppliers_kept_waiting,
    )

    df = tpch_q21_suppliers_kept_waiting(spark, sf_dir)
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert final.count("BroadcastHashJoin") == 2
    assert final.count("FileScan parquet") == 3  # lineitem, orders, supplier


def test_simhash_signature_packed_lanes(spark, sf_dir):
    """The packed-lane signature aggregate: the per-doc groupBy buffer
    carries the 20 lane sums + n, NOT 60 per-bit columns — pinned by
    counting sum aggregates in the plan's first aggregation."""
    from beametrics_spark.operators.dedup import (
        _LANE_STRIDE,
        simhash_pairs,
    )
    from beametrics_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(simhash_pairs(docs))
    first_agg = re.search(
        r"Functions \[\d+\]: \[([^\]]*)\]", plan
    )
    assert first_agg, plan
    n_sums = first_agg.group(1).count("sum(")
    assert n_sums <= _LANE_STRIDE, f"{n_sums} sum aggregates (packing lost?)"


def test_bpe_single_scan_no_positional_join(spark, sf_dir):
    """bpe_merge_candidates builds adjacent pairs from per-row slice+zip
    — ONE documents scan, no join of any kind (the oracle's positional
    self-join is exactly the shape this plan must avoid), and the
    top-K is TakeOrderedAndProject, not a global sort."""
    from beametrics_spark.operators.text6 import bpe_merge_candidates

    df = bpe_merge_candidates(spark, sf_dir)
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "Join" not in final, final[:2000]
    assert "TakeOrderedAndProject" in final
    assert final.count("Exchange hashpartitioning") == 1  # the pair count


def test_attribution_equi_hash_join_not_nested_loop(spark, sf_dir):
    """The attribution range join must hash-partition on the user
    equi-key with the time range as a residual predicate — never a
    BroadcastNestedLoopJoin (the shape a pure interval join degrades
    to, quadratic at scale)."""
    from beametrics_spark.operators.events4 import multi_touch_attribution

    df = multi_touch_attribution(spark, sf_dir)
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in final, final[:2000]
    assert ("SortMergeJoin" in final) or ("ShuffledHashJoin" in final) or (
        "BroadcastHashJoin" in final
    )


def test_snapshot_diff_shuffles_digests_not_bodies(spark, sf_dir):
    """The CDC reconciliation computes md5 fingerprints BELOW the
    full-outer join's exchanges: the text column must not appear in any
    exchange's input schema — only (doc_id, source, fp) digests move."""
    from beametrics_spark.operators.curation3 import snapshot_diff_documents

    df = snapshot_diff_documents(spark, sf_dir)
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    for line in final.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_incremental_merge_two_partial_aggregates(spark, sf_dir):
    """Base and delta each aggregate map-side (partial_count) before the
    merge — the partials shuffle, never the events."""
    from beametrics_spark.operators.events4 import incremental_aggregate_merge

    plan = formatted_plan(incremental_aggregate_merge(spark, sf_dir))
    assert plan.count("partial_count") >= 2, plan[:3000]


def test_runtime_bloom_filter_injects_under_scale_thresholds(spark, sf_dir):
    """Runtime bloom-filter join pruning — the AQE feature that matters
    at 100 TB: when the fact-side scan is large and the dim side is
    selective, Spark builds a bloom filter from the dim's join keys and
    pushes might_contain() into the fact scan's filter, dropping
    non-joining rows BEFORE the shuffle. The 10 GB application-side
    default means it never fires at local SF, so this test lowers the
    thresholds to pin the exact plan shape a production-scale run gets
    for free (the engine keeps the defaults — no local-only tuning
    ships in session.py)."""
    from beametrics_spark.sources import load_table

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
        )
        j.collect()
        plan = plan_of(j)
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_weighted_median_sorts_only_straddling_bin(spark, sf_dir):
    """weighted_median_price_per_flag must NOT run its exact
    cumulative-weight window over the full lineitem table partitioned by
    the 3-value return flag (VERDICT r5 #1: three reducers each sorting
    ~2B rows at 100 TB). The two-scan plan sorts only the straddling
    quantile bin: the single (price, orderkey, linenumber) Sort consumes
    the output of the broadcast bin-range join, visible as a
    BroadcastHashJoin/BroadcastNestedLoopJoin with price-bound
    conditions BELOW the Sort in the plan tree."""
    from beametrics_spark.operators.relational5 import (
        weighted_median_price_per_flag,
    )

    df = weighted_median_price_per_flag(spark, sf_dir)
    df.collect()  # let AQE finalize the join strategy
    plan = plan_of(df).split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    sort_idx = [
        i
        for i, line in enumerate(lines)
        if "Sort [" in line
        and "l_extendedprice" in line
        and "l_orderkey" in line
        and "l_linenumber" in line
    ]
    assert len(sort_idx) == 1, "\n".join(lines)
    below = "\n".join(lines[sort_idx[0] :])
    assert "Join" in below and "l_extendedprice" in below.split("Join", 1)[1], (
        "exact sort must consume the broadcast bin-range join output:\n"
        + "\n".join(lines)
    )


def test_watermark_audit_partitions_arrival_sort_by_source(spark, sf_dir):
    """watermark_lateness_audit's default plan must partition the
    running-max window by the simulated source key — per-source arrival
    logs are the real multi-source deployment shape — so no single task
    sorts the whole events table (VERDICT r5 #3). The global replay
    stays available behind global_replay=True."""
    from beametrics_spark.operators.events4 import watermark_lateness_audit

    plan = plan_of(watermark_lateness_audit(spark, sf_dir))
    assert "hashpartitioning(source_id" in plan, plan
    # no empty-partition (global) window sort over arrival order
    for line in plan.splitlines():
        if "Window" in line and "arrival_us" in line:
            assert "source_id" in line, line

    gplan = plan_of(watermark_lateness_audit(spark, sf_dir, global_replay=True))
    assert "hashpartitioning(source_id" not in gplan


def test_basket_lift_pair_stage_plan(spark, sf_dir):
    """Round-10 pair-stage shape: ONE fact-table exchange builds the
    per-order array table (superset Apriori prune as a BroadcastHashJoin
    on pk BELOW the explicit ok repartition, then a single collect_set
    aggregate — no separate dropDuplicates pass); the pair and
    item-count consumers share that shuffle via ReusedExchange (a cache
    was A/B'd slower than recomputation, mining.py docstring); the
    packed-pair partial aggregation still fires before the pkey
    exchange (r7 #3 pin)."""
    from beametrics_spark.operators.mining import basket_part_pair_lift

    df = basket_part_pair_lift(spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    # consumers share the single fact-table shuffle
    assert "ReusedExchange" in plan, plan
    # pair emission is two Generates, not a self-join on ok
    assert plan.count("Generate") >= 2, plan
    assert not re.search(r"(ShuffledHashJoin|SortMergeJoin) \[ok", plan), plan
    # the only exchange clustering by ok is the explicit repartition:
    # the basket collect_list and the dedup both ride it, so NO
    # planner-inserted (ENSURE_REQUIREMENTS) ok-exchange may appear
    assert not re.search(
        r"Exchange hashpartitioning\(ok[^)]*\), ENSURE_REQUIREMENTS", plan
    ), plan
    assert re.search(
        r"Exchange hashpartitioning\(ok[^)]*\), REPARTITION_BY_NUM", plan
    ), plan
    # the Apriori prefilter survives, below the Generates
    gen = re.search(r"Generate posexplode", plan)
    prefilter = re.search(r"BroadcastHashJoin \[pk", plan)
    assert gen and prefilter and prefilter.start() > gen.start(), plan
    # partial aggregation on the packed key before the pkey exchange
    fplan = formatted_plan(df)
    assert "partial_count" in fplan, fplan


def test_contribution_cap_pure_aggregation_plan(spark, sf_dir):
    """The capping audit promises the cheapest 100-TB shape: two chained
    hash aggregations, map-side combined — no window, no join, and the
    only exchanges are the two aggregation shuffles."""
    from beametrics_spark.operators.curation4 import user_contribution_capping

    df = user_contribution_capping(spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "partial_count" in formatted_plan(df)


def test_boilerplate_mask_exchanges_carry_digests_not_text(spark, sf_dir):
    """Every shuffle in the boilerplate plan moves (md5-hash, ids,
    counts) — never the text or token-array columns — and nothing is
    quadratic (no nested-loop/cartesian joins)."""
    from beametrics_spark.operators.curation4 import boilerplate_block_mask

    df = boilerplate_block_mask(spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line and "toks" not in line, line


def test_brown_smoothing_windows_share_one_sort(spark, sf_dir):
    """Both smoother windows partition and order identically
    ((event_type, bucket)), so Catalyst must plan ONE exchange + sort
    for the window stage — two Window nodes, at most two exchanges
    total (aggregation + window)."""
    from beametrics_spark.operators.timeseries import (
        brown_double_smoothing_error,
    )

    df = brown_double_smoothing_error(spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert plan.count("Window") >= 2, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_minhash_audit_no_quadratic_join_single_sig_aggregate(spark, sf_dir):
    """The signature stage is ONE partially-aggregated hash aggregate
    (k string-min columns), and every join in the audit is an equi
    hash/sort join — no nested-loop anywhere."""
    from beametrics_spark.operators.dedup3 import minhash_estimate_error_audit

    df = minhash_estimate_error_audit(spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    fp = formatted_plan(df)
    assert "partial_min" in fp, fp[:3000]


def test_truncation_fidelity_single_scan_single_exchange(spark, sf_dir):
    """Per-row array folds + one hash aggregate: exactly one parquet
    scan, one exchange, no joins — scan-bound at any corpus size."""
    from beametrics_spark.operators.similarity4 import (
        embedding_truncation_fidelity,
    )

    df = embedding_truncation_fidelity(spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_bigram_lm_broadcasts_lm_tables(spark, sf_dir):
    """The per-doc scoring join keys on the bigram (wide shuffle), while
    the context table and the |V| scalar broadcast — exactly one
    single-row nested-loop (the scalar), everything else equi joins."""
    from beametrics_spark.operators.text7 import bigram_logprob_quality

    df = bigram_logprob_quality(spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
