"""Plan builder: parsed events → fan-out → window → count/sum.

This is the Spark-first re-expression of the reference's 6-stage Beam chain
(beametrics/pipeline.py:164-186):

    Decode → FilterAndLabel (FlatMap fan-out) → DynamicFixedWindows
           → CombinePerKey(sum) → Format → Export

Design choices for 100-TB scale (SURVEY.md §4.3):
  - SINGLE-PASS fan-out: the reference's per-message Python loop over N
    configs becomes one `explode` over an array of per-config structs, so
    the source is scanned ONCE regardless of metric count (a union of N
    filtered branches would re-read the stream N times).
  - Catalyst supplies filter pushdown, partial (map-side) aggregation and
    whole-stage codegen for free — the reference hand-rolls filter-before-
    shuffle and relies on Beam combiner lifting (pipeline.py:168-180).
    Partial aggregation sends a hot (window, metric, labels) key through
    the shuffle as at most one row per map partition, so there is no
    salting: one groupBy + sum per window spec is the only shape, built
    by one loop over the specs, in batch and in streaming alike.
  - Labels travel pre-shuffle as ONE ARRAY<STRING> key: the label
    values in sorted-name order, the analog of the reference's
    tuple(sorted(labels.items())) normalization (pipeline.py:172). The
    MAP<STRING,STRING> is rebuilt post-aggregation with map_from_arrays.
    Spark cannot group by MapType, and a map in any aggregate buffer
    forces SortAggregate — keeping the hot path map-free keeps it
    HashAggregate + codegen.
  - An OR-of-all-configs prefilter runs before the explode so simple
    predicates reach the parquet scan as PushedFilters.
  - Aggregation is always sum-of-contributions; COUNT rows contribute 1.0
    (reference pipeline.py:206-207 + CombinePerKey(sum) at :180), so one
    physical aggregate serves both metric types.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from functools import reduce

from beametrics_spark.config import MetricConfig, normalize_window_size
from beametrics_spark.filters import FieldResolver, compile_filter, schema_resolver
from beametrics_spark.metrics import label_names, labels_key_expr, value_expr


def prefilter_expr(
    configs: list[MetricConfig],
    resolve: FieldResolver,
    *,
    preds: list[Column] | None = None,
) -> Column | None:
    """OR of all config predicates, applied BEFORE the fan-out explode.

    Semantically exact: a row matching no config explodes to zero records
    anyway — but expressed as a plain Filter, Catalyst pushes the
    disjunction into the parquet scan (PushedFilters), which the
    generator-embedded predicates alone cannot achieve. None ⇒ some
    config is match-all, skip the filter. ``preds`` are the configs'
    compiled predicates, when the caller already has them.
    """
    if any(not cfg.filter_conditions for cfg in configs):
        return None  # match-all config: every row survives anyway
    if preds is None:
        preds = [compile_filter(cfg.filter_conditions, resolve) for cfg in configs]
    return reduce(lambda a, b: a | b, preds)


def _contribution(
    cfg: MetricConfig, metric_id: int, resolve: FieldResolver
) -> list[Column]:
    """(metric_id, value, labels_key) of one config's record."""
    return [
        F.lit(metric_id).cast("int").alias("metric_id"),
        value_expr(cfg.metric_definition, resolve).alias("value"),
        labels_key_expr(cfg.metric_definition, resolve).alias("labels_key"),
    ]


def fan_out(
    df: DataFrame,
    configs: list[MetricConfig],
    *,
    ts_col: str = "ts",
    resolve: FieldResolver | None = None,
    ids: list[int] | None = None,
) -> DataFrame:
    """events → (ts, metric_id, value, labels_key), single scan.

    ``ids`` are the metric_ids written for ``configs`` (default
    0..n-1): the caller's global config indices, so no later projection
    re-tags them. Each config's predicate is compiled once and serves
    both the prefilter and its fan-out entry.

    Single-config fast path (the reference's own deployment shape — one
    MetricConfig per pipeline is its documented common case): no array,
    no Generate — the config's predicate is a plain Filter (already the
    prefilter) and the contribution is a flat projection, so the whole
    pre-aggregation stage is one codegen span over the scan. Measured
    decomposition for ref_grouped_labels at sf1 (VERDICT r9 #3, all
    same-session min-of-3): full query 2.73 s, the bare
    `get_json_object(props, '$.k')` scan alone 1.90 s, the same
    window+aggregate with only the typed event_type label 0.48-0.65 s —
    the remaining cost IS the per-row JSON parse the dynamic-label
    semantics require, not the pipeline around it (from_json and
    Spark-4 variant_get were A/B'd at 2.17 s / 2.07 s — no faster).

    Multi-config: one explode over an array of per-config structs, one
    message → 0..N keyed records (reference FlatMap, pipeline.py:168-178),
    built as a single expression tree evaluated in one scan. A
    non-matching config's entry is a NULL struct, dropped by a plain
    post-Generate Filter — NOT by an ArrayFilter lambda on the array
    (higher-order functions are CodegenFallback in Spark: the r9 shape
    evaluated an interpreted filter per row on the hot path). Pre-shuffle
    rows carry no map types, so the windowed aggregation stays
    hash-based (maps force SortAggregate).
    """
    resolve = resolve or schema_resolver(df)
    ids = list(range(len(configs))) if ids is None else ids
    preds = [compile_filter(cfg.filter_conditions, resolve) for cfg in configs]
    pre = prefilter_expr(configs, resolve, preds=preds)
    src = df if pre is None else df.filter(pre)
    ts = F.col(ts_col).alias("ts")
    if len(configs) == 1:
        return src.select(ts, *_contribution(configs[0], ids[0], resolve))
    entries = [
        F.when(pred, F.struct(*_contribution(cfg, i, resolve)))
        for i, (cfg, pred) in enumerate(zip(configs, preds))
    ]
    exploded = src.select(ts, F.explode(F.array(*entries)).alias("m")).filter(
        F.col("m").isNotNull()
    )
    # entry position -> id by indexing a literal array: unlike the
    # nullable struct field, the result is non-nullable, and the
    # streaming state key's schema (nullability included) must match the
    # checkpoint's for a query to resume
    return exploded.select(
        "ts",
        F.array(*map(F.lit, ids))[F.col("m.metric_id")].alias("metric_id"),
        "m.value",
        "m.labels_key",
    )


def window_spec_of(cfg: MetricConfig) -> tuple[int, int | None, int | None]:
    """(size, slide, session_gap) — the windowing identity of a config."""
    return (
        normalize_window_size(cfg.window_size),
        cfg.window_slide,
        cfg.session_gap,
    )


def _window_expr(spec: tuple[int, int | None, int | None]):
    size, slide, gap = spec
    if gap is not None:
        # gap-merged sessions per (metric_id, labels_key) — engine
        # extension, the reference has fixed windows only (SURVEY.md §2.2)
        return F.session_window("ts", f"{gap} seconds")
    if slide is not None and slide != size:
        return F.window("ts", f"{size} seconds", f"{slide} seconds")
    return F.window("ts", f"{size} seconds")


def aggregate_windows(
    fanned: DataFrame,
    configs: list[MetricConfig],
    *,
    window_spec: tuple[int, int | None, int | None],
    watermark: str | None = None,
) -> DataFrame:
    """Windowed sum per (window, metric_id, labels_key) for one window spec.

    One groupBy + sum: Catalyst plans it as HashAggregate partial → final,
    so a hot key reaches the shuffle as at most one row per map partition
    — the reference's combiner lifting (CombinePerKey(sum),
    pipeline.py:180). Tumbling buckets are ts - ts % size, the reference's
    DynamicFixedWindows.assign (pipeline.py:67-70); sliding and session
    windows come from the spec (see MetricConfig).

    The labels MAP is rebuilt from the label-value array AFTER the
    aggregation (bounded-cardinality rows), so the pre-shuffle path is
    map-free and stays hash-based.

    ``watermark`` (e.g. "30 seconds") is only applied to streaming frames —
    the reference has NO watermark (SURVEY.md §2.2); bounded state at scale
    requires one, so streaming callers must pass it.
    """
    src = fanned
    if watermark is not None and fanned.isStreaming:
        src = fanned.withWatermark("ts", watermark)
    agg = src.groupBy(
        _window_expr(window_spec).alias("window"),
        "metric_id",
        "labels_key",
    ).agg(F.sum("value").alias("value"))
    # config-side projections on aggregated rows: metric name + labels map,
    # each one lookup by metric_id into a literal per-config array (the
    # reference keeps configs in a Python list the same way,
    # pipeline.py:225-231)
    metric_id = F.col("metric_id")
    names = F.array(*[F.lit(cfg.export_metric_name) for cfg in configs])
    label_keys = F.array(
        *[
            F.array(*map(F.lit, label_names(cfg.metric_definition))).cast(
                "array<string>"
            )
            for cfg in configs
        ]
    )
    return agg.select(
        "metric_id",
        names[metric_id].alias("metric_name"),
        F.map_from_arrays(label_keys[metric_id], F.col("labels_key")).alias("labels"),
        F.col("value").cast("double").alias("value"),
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
    )


def build_metrics_pipeline(
    events: DataFrame,
    configs: list[MetricConfig],
    *,
    ts_col: str = "ts",
    window_size: int | None = None,
    watermark: str | None = None,
    resolve: FieldResolver | None = None,
) -> DataFrame:
    """Full plan: fan-out → window aggregate → formatted metric points.

    Works identically on batch and streaming DataFrames; the DuckDB oracle
    checks the batch plan, streaming deployment adds watermark + sink.
    Configs are grouped by window spec (``window_size`` forces one tumbling
    spec for all); each spec is one branch that fans out its configs in
    one scan and aggregates once, and the branches are unioned (the
    reference supports only a single pipeline-wide window).

    Each branch's fan-out writes the global config index as metric_id,
    so the streaming state key (window, metric_id, labels_key) holds
    global ids whatever the spec grouping.
    """
    if not configs:
        raise ValueError("at least one MetricConfig required")
    resolve = resolve or schema_resolver(events)
    specs: dict[tuple[int, int | None, int | None], list[int]] = {}
    for i, cfg in enumerate(configs):
        spec = (
            window_spec_of(cfg)
            if window_size is None
            else (normalize_window_size(window_size), None, None)
        )
        specs.setdefault(spec, []).append(i)
    branches = []
    for spec, idxs in specs.items():
        fanned = fan_out(
            events,
            [configs[i] for i in idxs],
            ts_col=ts_col,
            resolve=resolve,
            ids=idxs,
        )
        branches.append(
            aggregate_windows(fanned, configs, window_spec=spec, watermark=watermark)
        )
    return reduce(DataFrame.unionByName, branches)
