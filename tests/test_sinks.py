"""Sink semantics, ported from the reference's tests/test_metrics_exporter.py
(factory dispatch, Cloud request shape, label merge, stdout golden output,
failure swallowing — SURVEY.md §5)."""

import io
import json
import uuid

import pytest

from beametrics_spark.sinks import (
    GoogleCloudMonitoringSink,
    LocalSink,
    MemorySink,
    ParquetSink,
    build_time_series_request,
    create_sink,
    minute_aligned_interval,
    route_by_metric,
)


def _points_df(spark):
    return spark.createDataFrame(
        [
            (0, "error_count", {"service": "api"}, 42.0),
            (1, "bytes_sum", {"service": "api"}, 250.0),
        ],
        "metric_id int, metric_name string, labels map<string,string>, value double",
    )


def test_factory_dispatch_and_invalid():
    # reference tests/test_metrics_exporter.py:17-33,149-158
    assert isinstance(create_sink("local"), LocalSink)
    assert isinstance(create_sink("memory"), MemorySink)
    assert isinstance(
        create_sink("google-cloud-monitoring", project_id="p"),
        GoogleCloudMonitoringSink,
    )
    with pytest.raises(ValueError, match="Unsupported export type"):
        create_sink("bogus")


def test_export_types_match_sink_registry():
    """config validates export types against one tuple; it must name
    exactly the sinks the registry can build."""
    from beametrics_spark.config import VALID_EXPORT_TYPES
    from beametrics_spark.sinks import SINK_REGISTRY

    assert len(set(VALID_EXPORT_TYPES)) == len(VALID_EXPORT_TYPES)
    assert set(SINK_REGISTRY) == set(VALID_EXPORT_TYPES)


def test_local_sink_golden_output(spark):
    # golden format: {"timestamp", "metric_name", "value", "labels"}
    # (reference metrics_exporter.py:213-220, test:161-178)
    buf = io.StringIO()
    LocalSink(stream=buf).write(_points_df(spark).filter("metric_id = 0"))
    lines = [json.loads(x) for x in buf.getvalue().strip().splitlines()]
    assert len(lines) == 1
    rec = lines[0]
    assert set(rec) == {"timestamp", "metric_name", "value", "labels"}
    assert rec["metric_name"] == "error_count"
    assert rec["value"] == 42.0
    assert rec["labels"] == {"service": "api"}
    assert isinstance(rec["timestamp"], float)


def test_minute_alignment():
    # reference metrics_exporter.py:76-78
    start, end = minute_aligned_interval(1700000123.9)
    assert start == end == 1700000100


def test_time_series_request_shape():
    # reference metrics_exporter.py:80-109, test:75-101
    req = build_time_series_request(
        project_id="proj",
        metric_name="custom.googleapis.com/error_count",
        value=7.0,
        static_labels={"service": "api", "region": "static"},
        dynamic_labels={"region": "us"},  # dynamic wins (test:130-146)
        now=1700000123.0,
    )
    assert req["name"] == "projects/proj"
    ts = req["time_series"]
    assert ts["metric"]["type"] == "custom.googleapis.com/error_count"
    assert ts["metric"]["labels"] == {"service": "api", "region": "us"}
    assert ts["resource"]["type"] == "global"
    point = ts["points"][0]
    assert point["value"]["double_value"] == 7.0
    assert point["interval"]["start_time"] == 1700000100


def test_monitoring_sink_swallows_invalid_argument(spark):
    # reference metrics_exporter.py:116-121 — InvalidArgument swallowed,
    # other exceptions re-raised
    class InvalidArgument(Exception):
        pass

    class FlakyClient:
        def __init__(self):
            self.calls = 0

        def create_time_series(self, req):
            self.calls += 1
            raise InvalidArgument("bad label")

    client = FlakyClient()
    sink = GoogleCloudMonitoringSink("proj", client_factory=lambda: client)
    sink.write(_points_df(spark))  # must not raise
    assert client.calls == 2

    class Fatal(Exception):
        pass

    class FatalClient:
        def create_time_series(self, req):
            raise Fatal("boom")

    sink2 = GoogleCloudMonitoringSink("proj", client_factory=FatalClient)
    with pytest.raises(Fatal):
        sink2.write(_points_df(spark))


def test_monitoring_sink_without_client_raises(spark):
    with pytest.raises(NotImplementedError):
        GoogleCloudMonitoringSink("proj").write(_points_df(spark))


def test_parquet_sink_roundtrip(spark, tmp_path):
    path = str(tmp_path / "out")
    ParquetSink(path).write(_points_df(spark))
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert {r["metric_name"] for r in back.collect()} == {"error_count", "bytes_sum"}


def test_route_by_metric_dispatch(spark):
    # MultiMetricsExporter dispatch (reference pipeline.py:225-231)
    s0, s1 = MemorySink(), MemorySink()
    route_by_metric({0: s0, 1: s1})(_points_df(spark), 0)
    assert [r["metric_name"] for r in s0.rows] == ["error_count"]
    assert [r["metric_name"] for r in s1.rows] == ["bytes_sum"]


def _jobs_run_by(spark, fn) -> int:
    """How many Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    gid = "test-" + uuid.uuid4().hex[:12]
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _three_metric_points(spark):
    """30 points over 6 partitions; point ``id`` belongs to metric id % 3."""
    return spark.range(0, 30, numPartitions=6).selectExpr(
        "CAST(id % 3 AS INT) AS metric_id",
        "concat('m', CAST(id % 3 AS STRING)) AS metric_name",
        "map('id', CAST(id AS STRING)) AS labels",
        "CAST(id AS DOUBLE) AS value",
    )


def test_route_by_metric_runs_one_job(spark):
    """Row sinks share one collect() of the batch: one Spark job however
    many metrics and partitions, and each sink gets exactly its points."""
    df = _three_metric_points(spark)
    assert df.rdd.getNumPartitions() >= 4
    sinks = {m: MemorySink() for m in range(3)}
    assert _jobs_run_by(spark, lambda: route_by_metric(sinks)(df, 0)) == 1
    for m, sink in sinks.items():
        assert sorted(r["value"] for r in sink.rows) == [
            float(i) for i in range(m, 30, 3)
        ]
        assert {r["metric_name"] for r in sink.rows} == {f"m{m}"}
        assert all(r["labels"] == {"id": str(int(r["value"]))} for r in sink.rows)


def test_route_by_metric_dataframe_sink_beside_row_sinks(spark, tmp_path):
    """A DataFrame sink gets only its metric's frame; the row sinks beside
    it get only theirs."""
    path = str(tmp_path / "out")
    s0, s2 = MemorySink(), MemorySink()
    route_by_metric({0: s0, 1: ParquetSink(path), 2: s2})(
        _three_metric_points(spark), 0
    )
    back = spark.read.parquet(path)
    assert sorted(r["value"] for r in back.collect()) == [
        float(i) for i in range(1, 30, 3)
    ]
    assert {r["metric_id"] for r in back.collect()} == {1}
    assert sorted(r["value"] for r in s0.rows) == [float(i) for i in range(0, 30, 3)]
    assert sorted(r["value"] for r in s2.rows) == [float(i) for i in range(2, 30, 3)]


def test_route_by_metric_drops_metric_without_sink(spark):
    s1 = MemorySink()
    route_by_metric({1: s1})(_three_metric_points(spark), 0)
    assert sorted(r["value"] for r in s1.rows) == [float(i) for i in range(1, 30, 3)]


def test_route_by_metric_empty_batch_builds_no_client(spark):
    built = []

    class Client:
        def __init__(self):
            built.append(self)

        def create_time_series(self, req):
            pass

    sink = GoogleCloudMonitoringSink("proj", client_factory=Client)
    empty = _three_metric_points(spark).limit(0)
    route_by_metric({0: sink, 1: sink})(empty, 0)
    assert built == []
    route_by_metric({0: sink, 1: sink})(_three_metric_points(spark), 1)
    assert len(built) == 2  # one per metric's points of a non-empty batch


def test_monitoring_adapter_fake_records_and_swallows(spark):
    """The adapter seam: GoogleCloudMonitoringSink drives any object with
    create_time_series(req) — the recorded fake captures every request
    and its InvalidArgument-shaped rejections are swallowed (at-least-
    once, reference metrics_exporter.py:116-121)."""
    from beametrics_spark.sinks import GoogleCloudMonitoringSink
    from beametrics_spark.sinks.monitoring_adapter import RecordingFakeClient

    fake = RecordingFakeClient(
        fail_when=lambda req: "bad" in req["time_series"]["metric"]["type"]
    )
    sink = GoogleCloudMonitoringSink("proj", client_factory=lambda: fake)
    df = _points_df(spark)
    sink.write(df)
    assert len(fake.requests) == df.count()  # every point attempted
    types = [r["time_series"]["metric"]["type"] for r in fake.requests]
    assert all(r["name"] == "projects/proj" for r in fake.requests)
    assert types  # shape sanity: metric type strings present


def test_monitoring_adapter_real_factory_gated(spark):
    """Without the SDK installed, the real factory raises the documented
    NotImplementedError instead of an obscure import failure."""
    import pytest

    from beametrics_spark.sinks.monitoring_adapter import real_client_factory

    with pytest.raises(NotImplementedError, match="google-cloud-monitoring"):
        real_client_factory("proj")()


def test_partitioned_monitoring_sink_one_client_per_partition(spark):
    """Executor-side export contract: one client construction per
    NON-EMPTY partition (the DoFn.setup analog), every aggregate row
    exported, nothing serialized through the driver. Counters cross the
    executor boundary via accumulators."""
    from beametrics_spark.sinks import GoogleCloudMonitoringPartitionedSink

    sc = spark.sparkContext
    constructions = sc.accumulator(0)
    requests = sc.accumulator(0)

    class CountingClient:
        def __init__(self):
            constructions.add(1)

        def create_time_series(self, req):
            assert req["time_series"]["resource"]["type"] == "global"
            assert req["name"] == "projects/test-proj"
            requests.add(1)

    df = (
        spark.range(40)
        .selectExpr(
            "'m' AS metric_name",
            "CAST(id AS DOUBLE) AS value",
            "map('k', CAST(id AS STRING)) AS labels",
        )
        .repartition(4)
    )
    sink = GoogleCloudMonitoringPartitionedSink(
        "test-proj", client_factory=CountingClient
    )
    sink.write(df)
    assert requests.value == 40
    assert constructions.value == 4  # one per (non-empty) partition


def test_partitioned_monitoring_sink_swallows_invalid_argument(spark):
    from beametrics_spark.sinks import GoogleCloudMonitoringPartitionedSink

    sc = spark.sparkContext
    ok = sc.accumulator(0)

    class InvalidArgument(Exception):
        pass

    class FlakyClient:
        def create_time_series(self, req):
            if req["time_series"]["points"][0]["value"]["double_value"] == 1.0:
                raise InvalidArgument("bad point")
            ok.add(1)

    df = spark.range(5).selectExpr(
        "'m' AS metric_name", "CAST(id AS DOUBLE) AS value"
    ).coalesce(1)
    GoogleCloudMonitoringPartitionedSink(
        "p", client_factory=FlakyClient
    ).write(df)
    assert ok.value == 4  # the InvalidArgument row skipped, rest exported


def test_partitioned_monitoring_sink_without_client_raises(spark):
    import pytest

    from beametrics_spark.sinks import GoogleCloudMonitoringPartitionedSink

    df = spark.range(1).selectExpr("'m' AS metric_name", "1.0 AS value")
    with pytest.raises(NotImplementedError):
        GoogleCloudMonitoringPartitionedSink("p").write(df)


def test_csv_and_orc_sinks_roundtrip(spark, tmp_path):
    """CSV (with MAP labels rendered as JSON text) and ORC sinks write
    batches a reader can load back."""
    from beametrics_spark.sinks import create_sink

    df = spark.range(5).selectExpr(
        "'m' AS metric_name",
        "CAST(id AS DOUBLE) AS value",
        "map('k', CAST(id AS STRING)) AS labels",
    )
    csv_path = str(tmp_path / "csv_out")
    orc_path = str(tmp_path / "orc_out")
    create_sink("csv", path=csv_path).write(df)
    create_sink("orc", path=orc_path).write(df)

    back_csv = spark.read.option("header", "true").csv(csv_path)
    assert back_csv.count() == 5
    assert set(back_csv.columns) == {"metric_name", "value", "labels"}
    assert back_csv.filter("labels LIKE '{\"k\":%'").count() == 5

    back_orc = spark.read.orc(orc_path)
    assert back_orc.count() == 5
    assert dict(back_orc.dtypes)["labels"].startswith("map")
