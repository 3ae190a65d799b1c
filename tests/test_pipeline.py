"""In-pipeline aggregation semantics, ported from the reference's
tests/test_pipeline.py (count=2 / sum=250 scenarios, label merge,
missing-field defaults — SURVEY.md §5)."""

from collections import Counter
from datetime import datetime

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from beametrics_spark.config import ExporterConfig, FilterCondition, MetricConfig, MetricDefinition
from beametrics_spark.pipeline import build_metrics_pipeline

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("severity", T.StringType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("region", T.StringType()),
        T.StructField("props", T.StringType()),
    ]
)

T0 = datetime(2024, 1, 1, 0, 0, 30)

ROWS = [
    (T0, "ERROR", 100, "us", "{}"),
    (T0, "ERROR", 150, None, "{}"),
    (T0, "INFO", 200, "eu", "{}"),
]


@pytest.fixture(scope="module")
def logs(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def run(logs, configs, **kw):
    rows = build_metrics_pipeline(logs, configs, **kw).collect()
    return [r.asDict(recursive=True) for r in rows]


def test_filtered_count(logs):
    # reference tests/test_pipeline.py:119-145 — ERROR count == 2
    cfg = MetricConfig(
        metric_definition=MetricDefinition(name="error_count", type="count"),
        filter_conditions=[FilterCondition("severity", "ERROR", "equals")],
    )
    out = run(logs, [cfg])
    assert len(out) == 1
    assert out[0]["value"] == 2.0
    assert out[0]["metric_name"] == "error_count"
    assert out[0]["window_start"] == datetime(2024, 1, 1, 0, 0, 0)
    assert out[0]["window_end"] == datetime(2024, 1, 1, 0, 1, 0)


def test_filtered_sum(logs):
    # reference tests/test_pipeline.py:148-178 — ERROR bytes sum == 250
    cfg = MetricConfig(
        metric_definition=MetricDefinition(name="bytes_sum", type="sum", field="bytes"),
        filter_conditions=[FilterCondition("severity", "ERROR", "equals")],
    )
    out = run(logs, [cfg])
    assert len(out) == 1 and out[0]["value"] == 250.0


def test_sum_missing_field_contributes_zero(logs):
    # reference pipeline.py:208 — float(msg.get(field, 0))
    cfg = MetricConfig(
        metric_definition=MetricDefinition(name="s", type="sum", field="nonexistent"),
    )
    out = run(logs, [cfg])
    assert len(out) == 1 and out[0]["value"] == 0.0


def test_label_merge_dynamic_wins_and_missing_empty(logs):
    # reference pipeline.py:188-198: dynamic labels override static;
    # missing dynamic field ⇒ ""
    cfg = MetricConfig(
        metric_definition=MetricDefinition(
            name="c",
            type="count",
            metric_labels={"service": "api", "region": "static"},
            dynamic_labels={"region": "region"},
        ),
        filter_conditions=[FilterCondition("severity", "ERROR", "equals")],
    )
    out = run(logs, [cfg])
    labels = {frozenset(o["labels"].items()) for o in out}
    assert frozenset({("service", "api"), ("region", "us")}.union(set())) in labels
    assert frozenset({("service", "api"), ("region", "")}) in labels  # null region ⇒ ""


def test_multi_metric_fanout(logs):
    cfgs = [
        MetricConfig(
            metric_definition=MetricDefinition(name="error_count", type="count"),
            filter_conditions=[FilterCondition("severity", "ERROR", "equals")],
        ),
        MetricConfig(
            metric_definition=MetricDefinition(name="all_bytes", type="sum", field="bytes"),
        ),
    ]
    out = run(logs, cfgs)
    by_id = {o["metric_id"]: o for o in out}
    assert by_id[0]["value"] == 2.0
    assert by_id[1]["value"] == 450.0


def test_monitoring_prefix_in_output(logs):
    cfg = MetricConfig(
        metric_definition=MetricDefinition(name="error_count", type="count"),
        exporter=ExporterConfig(export_type="google-cloud-monitoring"),
    )
    out = run(logs, [cfg])
    assert out[0]["metric_name"] == "custom.googleapis.com/error_count"


def test_heterogeneous_window_sizes(logs):
    # specs group configs [0, 2] and [1]: the 60 s branch's local ids 0, 1
    # must come back as global ids 0, 2, with that config's name and labels
    cfgs = [
        MetricConfig(
            metric_definition=MetricDefinition(name="m60", type="count"),
            window_size=60,
        ),
        MetricConfig(
            metric_definition=MetricDefinition(name="m120", type="count"),
            window_size=120,
        ),
        MetricConfig(
            metric_definition=MetricDefinition(
                name="m60_region", type="count", dynamic_labels={"region": "region"}
            ),
            window_size=60,
        ),
    ]
    out = run(logs, cfgs)
    end60, end120 = datetime(2024, 1, 1, 0, 1, 0), datetime(2024, 1, 1, 0, 2, 0)
    assert sorted(
        (o["metric_id"], o["metric_name"], sorted(o["labels"].items()),
         o["window_end"], o["value"])
        for o in out
    ) == [
        (0, "m60", [], end60, 3.0),
        (1, "m120", [], end120, 3.0),
        (2, "m60_region", [("region", "")], end60, 1.0),
        (2, "m60_region", [("region", "eu")], end60, 1.0),
        (2, "m60_region", [("region", "us")], end60, 1.0),
    ]
    # metric_id is part of the streaming state key, whose schema a
    # checkpoint stores with its nullability: it must stay non-nullable
    # in single- and multi-config branches alike
    for configs in (cfgs, cfgs[:1]):
        plan = build_metrics_pipeline(logs, configs)
        assert plan.schema["metric_id"].nullable is False


LABEL_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("u1", T.StringType()),
        T.StructField("u2", T.StringType()),
    ]
)

# metric a: static + two dynamic labels; metric b: one dynamic label
LABEL_CONFIGS = [
    MetricConfig(
        metric_definition=MetricDefinition(
            name="a",
            type="count",
            metric_labels={"svc": "api"},
            dynamic_labels={"u1": "u1", "u2": "u2"},
        ),
    ),
    MetricConfig(
        metric_definition=MetricDefinition(
            name="b", type="count", dynamic_labels={"u": "u2"}
        ),
    ),
]


def utf8_text(s: str) -> str:
    """``s`` as it reaches a Spark string column: text crosses to the JVM
    as UTF-8, which cannot encode a surrogate code point (Python strings
    may hold one, even two that would pair in UTF-16), so each becomes
    U+FFFD."""
    return "".join("\ufffd" if "\ud800" <= c <= "\udfff" else c for c in s)


def model_label_counts(rows, configs):
    """Pure-Python group-by: (metric, label set) -> count, with the
    reference's label merge (pipeline.py:188-198, missing field => "")."""
    out = Counter()
    for _ts, u1, u2 in rows:
        msg = {"u1": u1, "u2": u2}
        for cfg in configs:
            d = cfg.metric_definition
            labels = dict(d.metric_labels)
            for name, field_name in d.dynamic_labels.items():
                v = msg.get(field_name)
                labels[name] = "" if v is None else utf8_text(str(v))
            out[(d.name, frozenset(labels.items()))] += 1.0
    return out


def engine_label_counts(spark, rows, configs):
    out = build_metrics_pipeline(
        spark.createDataFrame(rows, LABEL_SCHEMA), configs
    ).collect()
    got = {(r["metric_name"], frozenset(r["labels"].items())): r["value"] for r in out}
    assert len(got) == len(out)  # one row per (metric, label set)
    return got


@pytest.mark.parametrize("n_configs", [1, 2])  # flat projection / explode
def test_label_values_with_any_character(spark, n_configs):
    """Label values holding \\x01, NUL, the empty string and non-ASCII
    text round-trip exactly; ("a\\x01b", "c") and ("a", "b\\x01c") stay
    two label sets."""
    rows = [
        (T0, "a\x01b", "c"),
        (T0, "a", "b\x01c"),
        (T0, "x\x00y", ""),
        (T0, "", None),
        (T0, "ünïcødé ✓ 日本", "a\x01b"),
        (T0, "a\x01b", "c"),
    ]
    configs = LABEL_CONFIGS[:n_configs]
    got = engine_label_counts(spark, rows, configs)
    assert got == model_label_counts(rows, configs)
    assert got[("a", frozenset({("svc", "api"), ("u1", "a\x01b"), ("u2", "c")}))] == 2.0


# any character, with the control bytes a separator-joined key would
# trip on drawn often enough to appear in most examples
label_text = st.text(
    alphabet=st.one_of(st.sampled_from("\x00\x01a"), st.characters()), max_size=4
)


@given(
    values=st.lists(
        st.tuples(st.one_of(st.none(), label_text), label_text),
        min_size=1,
        max_size=8,
    ),
    n_configs=st.sampled_from([1, 2]),
)
@example(values=[(None, "\ud800")], n_configs=1)
@example(values=[("\ud800", "\udc00"), ("\udfff", "\ud83d\ude00")], n_configs=2)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_label_group_by_matches_model_property(spark, values, n_configs):
    rows = [(T0, u1, u2) for u1, u2 in values]
    configs = LABEL_CONFIGS[:n_configs]
    assert engine_label_counts(spark, rows, configs) == model_label_counts(rows, configs)


def test_label_cardinality_guard(spark, sf_dir):
    """SURVEY §4.3: an unbounded dynamic label must be cappable."""
    from beametrics_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")
    uncapped = MetricConfig(
        metric_definition=MetricDefinition(
            name="u", type="count", dynamic_labels={"user": "user_id"}
        ),
    )
    capped = MetricConfig(
        metric_definition=MetricDefinition(
            name="c",
            type="count",
            dynamic_labels={"user": "user_id"},
            label_cardinality_cap=5,
        ),
    )
    out = build_metrics_pipeline(events, [uncapped, capped], window_size=10**9)
    labels = {}
    total = {}
    for r in out.collect():
        labels.setdefault(r["metric_id"], set()).add(r["labels"]["user"])
        total[r["metric_id"]] = total.get(r["metric_id"], 0) + r["value"]
    assert len(labels[0]) > 5  # raw user cardinality
    assert len(labels[1]) <= 5  # guard bounds the domain
    assert all(v.startswith("b") for v in labels[1])
    assert total[0] == total[1]  # no events lost, only re-bucketed
