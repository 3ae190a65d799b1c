"""Config-model semantics, ported from the reference's tests/test_metrics.py
and tests/test_main.py (SURVEY.md §5)."""

import json

import pytest

from beametrics_spark.config import (
    DEFAULT_WINDOW_SIZE,
    FilterCondition,
    MetricConfig,
    MetricDefinition,
    MetricType,
    load_metric_configs,
    normalize_window_size,
    parse_filter_conditions,
)


def test_metric_type_values():
    assert MetricType.COUNT.value == "count"
    assert MetricType.SUM.value == "sum"


def test_sum_requires_field():
    # reference metrics.py:24-32, tests/test_metrics.py:28-38
    with pytest.raises(ValueError):
        MetricDefinition(name="x", type="sum", field=None)
    MetricDefinition(name="x", type="sum", field="bytes")  # ok


def test_label_normalization():
    # None / empty labels normalize to {} (tests/test_metrics.py:58-103)
    d = MetricDefinition(name="x", type="count", metric_labels=None, dynamic_labels=None)
    assert d.metric_labels == {} and d.dynamic_labels == {}


def test_window_size_fallback_matrix():
    # reference pipeline.py:50-65, tests/test_pipeline.py:274-333
    assert normalize_window_size(120) == 120
    assert normalize_window_size("90") == 90
    for bad in (0, -5, None, "abc", 2.5, object()):
        assert normalize_window_size(bad) == DEFAULT_WINDOW_SIZE


def test_filter_conditions_must_be_nonempty():
    # reference main.py:145-158
    with pytest.raises(ValueError):
        parse_filter_conditions("[]")
    with pytest.raises(ValueError):
        parse_filter_conditions('"x"')
    out = parse_filter_conditions(
        '[{"field":"severity","value":"ERROR","operator":"equals"}]'
    )
    assert out == [FilterCondition("severity", "ERROR", "equals")]


def test_monitoring_name_prefixing():
    # reference main.py:221-232, tests/test_main.py:134-147
    cloud = MetricConfig(
        metric_definition=MetricDefinition(name="error_count"),
        exporter=__import__(
            "beametrics_spark.config", fromlist=["ExporterConfig"]
        ).ExporterConfig(export_type="google-cloud-monitoring"),
    )
    local = MetricConfig(metric_definition=MetricDefinition(name="error_count"))
    assert cloud.export_metric_name == "custom.googleapis.com/error_count"
    assert local.export_metric_name == "error_count"


def test_yaml_config_loading(tmp_path):
    yaml_text = """
metrics:
  - name: error_count
    type: count
    labels: {service: api}
    dynamic_labels: {user: user_id}
    filter-conditions:
      - {field: event_type, value: error, operator: equals}
    export_type: local
  - name: big_values_sum
    type: sum
    field: value
    filter-conditions:
      - {field: value, value: "100", operator: greater_than}
    export_type: local
"""
    p = tmp_path / "config.yaml"
    p.write_text(yaml_text)
    configs = load_metric_configs(config_path=str(p))
    assert len(configs) == 2
    assert configs[0].metric_definition.name == "error_count"
    assert configs[0].metric_definition.dynamic_labels == {"user": "user_id"}
    assert configs[1].metric_definition.type == MetricType.SUM
    assert configs[1].filter_conditions[0].operator == "greater_than"


def test_yaml_config_url_schemes(tmp_path):
    """file:// and memory:// URLs resolve like the reference's gs://
    dispatch (reference config.py:19-23) without a cloud client."""
    import pytest

    from beametrics_spark.config import MEMORY_CONFIGS, load_yaml_config

    yaml_text = """
metrics:
  - name: url_count
    type: count
    filter-conditions:
      - {field: event_type, value: error, operator: equals}
    export_type: local
"""
    p = tmp_path / "config.yaml"
    p.write_text(yaml_text)

    via_file_url = load_yaml_config(f"file://{p}")
    assert via_file_url["metrics"][0]["name"] == "url_count"

    MEMORY_CONFIGS["team/config.yaml"] = yaml_text
    try:
        via_memory = load_yaml_config("memory://team/config.yaml")
        assert via_memory == via_file_url
    finally:
        del MEMORY_CONFIGS["team/config.yaml"]

    with pytest.raises(FileNotFoundError):
        load_yaml_config("memory://missing.yaml")

    configs = load_metric_configs(config_path=f"file://{p}")
    assert configs[0].metric_definition.name == "url_count"


def test_metrics_json_precedence_and_fallback():
    # --metrics JSON parses (main.py:288-308); bad JSON falls back to single
    metrics = json.dumps(
        [{"name": "a", "type": "count", "filter_conditions": []}]
    )
    configs = load_metric_configs(metrics_json=metrics)
    assert len(configs) == 1 and configs[0].metric_definition.name == "a"

    single = {"name": "solo", "type": "count"}
    configs = load_metric_configs(metrics_json="not json", single=single)
    assert configs[0].metric_definition.name == "solo"

    with pytest.raises(ValueError):
        load_metric_configs(metrics_json="not json", single=None)


def test_yaml_window_extensions(tmp_path):
    yaml_text = """
metrics:
  - name: sliding
    type: count
    window_size: 120
    window_slide: 60
  - name: sessions
    type: sum
    field: value
    session_gap: 1800
"""
    p = tmp_path / "w.yaml"
    p.write_text(yaml_text)
    configs = load_metric_configs(config_path=str(p))
    assert configs[0].window_size == 120 and configs[0].window_slide == 60
    assert configs[0].session_gap is None
    assert configs[1].session_gap == 1800 and configs[1].window_slide is None


@pytest.mark.parametrize(
    "extension, match",
    [
        ({"window_size": 60, "window_slide": 120}, "window_slide"),
        ({"window_size": 60, "window_slide": -30}, "window_slide"),
        ({"session_gap": -5}, "session_gap"),
        ({"session_gap": 0}, "session_gap"),
    ],
)
def test_invalid_window_extension_rejected_at_load(extension, match):
    # a slide longer than the window (or negative) used to load and then
    # fail at plan time; a negative session gap loaded and the pipeline
    # emitted zero points; a zero gap silently became a tumbling window
    metrics = json.dumps([{"name": "bad_window", "type": "count", **extension}])
    with pytest.raises(ValueError, match=f"'bad_window'.*{match}"):
        load_metric_configs(metrics_json=metrics)


def test_window_slide_equal_to_size_is_accepted():
    cfg = MetricConfig(
        metric_definition=MetricDefinition(name="m"), window_size=60, window_slide=60
    )
    assert cfg.window_slide == 60
