"""Batch ≡ streaming parity, surfaced in the correctness gate.

The same logical plan (`build_metrics_pipeline`) runs here as a
Structured Streaming query over a file source, drained synchronously
with processAllAvailable into a memory sink — and is checked against the
SAME DuckDB oracle as the batch `ref_equals_count`. This is the claim
the reference can't test (Beam TestPipeline only) made into a gate:
stream mode computes byte-identical aggregates to batch mode.

complete output mode: every window is final after the single batch, so
no watermark-advancement second trigger is needed to flush results.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beametrics_spark.config import FilterCondition, MetricConfig, MetricDefinition
from beametrics_spark.operators.dedup import INCREMENTAL_ORACLE
from beametrics_spark.pipeline import build_metrics_pipeline
from beametrics_spark.registry import register


# Footer-interpretation confs every parity run needs: nanos columns read as
# long (r1 testdata), and micros-without-timezone read as LTZ rather than
# TIMESTAMP_NTZ (r2 testdata) — NTZ is rejected as an event-time column.
_PARQUET_TS_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


@contextmanager
def _scoped_conf(spark: SparkSession, confs: dict[str, str] | None = None):
    """Set session confs for the duration of one parity run, then restore
    (or unset) them — they must stay in effect through query drain, since
    the parquet scan interprets footers at execution time, but must not
    leak into whatever the session runs next."""
    confs = confs or _PARQUET_TS_CONFS
    saved: dict[str, str | None] = {}
    for key, value in confs.items():
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, old in saved.items():
            if old is None:
                try:
                    spark.conf.unset(key)
                except Exception:
                    pass
            else:
                spark.conf.set(key, old)


def _file_stream(spark: SparkSession, path: str, table: str, prefix: str):
    """File-source stream over a single parquet file (FileStreamSource wants
    a directory, so the file is exposed through a symlink dir), with the ts
    column normalized from nanos-long when the footer stores TIMESTAMP(NANOS).
    Returns (stream_df, stream_dir); the caller removes stream_dir after
    draining."""
    raw_schema = spark.read.parquet(path).schema
    stream_dir = tempfile.mkdtemp(prefix=prefix)
    os.symlink(path, os.path.join(stream_dir, f"{table}.parquet"))
    stream = spark.readStream.schema(raw_schema).format("parquet").load(stream_dir)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream, stream_dir


# Checkpoint/state scratch on tmpfs when the host has one: a micro-batch
# commit is dozens of small fsynced writes + renames (offsets, commits,
# state-store deltas), which dominate drain latency on a disk-backed
# /tmp but cost microseconds on tmpfs. The dirs are removed right after
# the drain, so nothing rides on tmpfs persistence. (A real deployment
# keeps checkpoints on durable storage — this is the PARITY harness,
# whose checkpoint is scratch by construction.)
_FAST_TMP = "/dev/shm" if os.path.isdir("/dev/shm") else None


def _scratch(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=_FAST_TMP)


def _drain_to_table(
    spark: SparkSession, df: DataFrame, name_prefix: str, mode: str, *cleanup_dirs: str
) -> DataFrame:
    """start → processAllAvailable → stop into a memory sink; removes the
    checkpoint dir and any caller temp dirs once the sink is materialized."""
    from beametrics_spark.streaming import scoped_state_partitions

    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch("beametrics_ckpt_")
    with scoped_state_partitions(spark):
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        for d in (ckpt, *cleanup_dirs):
            shutil.rmtree(d, ignore_errors=True)
    return spark.table(name)


@register(
    "stream_equals_count_parity",
    """
    SELECT time_bucket(INTERVAL '60 seconds', ts) AS window_start,
           CAST(count(*) AS DOUBLE) AS value
    FROM events WHERE event_type = 'error'
    GROUP BY 1
    """,
)
def stream_equals_count_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ref_equals_count, but executed via readStream → memory sink."""
    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "events", "beametrics_stream_src_"
        )
        cfg = MetricConfig(
            metric_definition=MetricDefinition(name="error_count", type="count"),
            filter_conditions=[FilterCondition("event_type", "error", "equals")],
        )
        plan = build_metrics_pipeline(stream, [cfg], window_size=60)
        out = _drain_to_table(spark, plan, "parity", "complete", stream_dir)
    return out.select("window_start", F.col("value").cast("double").alias("value"))


@register(
    "stream_sliding_window_parity",
    """
    WITH starts AS (
      SELECT time_bucket(INTERVAL '60 seconds', ts) AS window_start
      FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT time_bucket(INTERVAL '60 seconds', ts) - INTERVAL '60 seconds'
      FROM events WHERE event_type = 'error'
    )
    SELECT window_start, CAST(count(*) AS DOUBLE) AS value
    FROM starts GROUP BY 1
    """,
)
def stream_sliding_window_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ref_sliding_window_count (120 s windows hopping every 60 s), but
    executed via readStream → memory sink: hopping windows assign each
    event to size/slide streaming state entries, and the engine's
    window_slide path must produce the identical window set in both
    execution modes. Shares the batch query's enumerate-both-offsets
    DuckDB oracle."""
    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "events", "beametrics_stream_slide_"
        )
        cfg = MetricConfig(
            metric_definition=MetricDefinition(name="sliding_errors", type="count"),
            filter_conditions=[FilterCondition("event_type", "error", "equals")],
            window_size=120,
            window_slide=60,
        )
        plan = build_metrics_pipeline(stream, [cfg])
        out = _drain_to_table(spark, plan, "slide_parity", "complete", stream_dir)
    return out.select("window_start", F.col("value").cast("double").alias("value"))


@register(
    "stream_session_window_parity",
    """
    WITH seq AS (
      SELECT event_type, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events WHERE event_type IN ('error', 'purchase')
      WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    ),
    sess AS (
      SELECT event_type, ts, value,
             SUM(brk) OVER (PARTITION BY event_type ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    )
    SELECT event_type, min(ts) AS window_start,
           max(ts) + INTERVAL '1800 seconds' AS window_end,
           ROUND(SUM(value), 2) AS value
    FROM sess GROUP BY event_type, sid
    """,
)
def stream_session_window_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ref_session_window_sum via readStream: gap-merged session windows as
    a STREAMING aggregation — the state store merges overlapping sessions
    per key as batches arrive, and the watermark bounds session state
    (sessions whose end precedes the watermark finalize and evict; Spark
    permits complete/append but not update output for session windows).
    Values must equal the batch window-function construction, so this
    shares ref_session_window_sum's lag/cumsum DuckDB oracle."""
    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "events", "beametrics_stream_sess_"
        )
        stream = stream.filter(F.col("event_type").isin("error", "purchase"))
        cfg = MetricConfig(
            metric_definition=MetricDefinition(
                name="session_value",
                type="sum",
                field="value",
                dynamic_labels={"event_type": "event_type"},
            ),
            session_gap=1800,
        )
        plan = build_metrics_pipeline(stream, [cfg], watermark="30 seconds")
        out = _drain_to_table(spark, plan, "sess_parity", "complete", stream_dir)
    return out.select(
        F.element_at("labels", "event_type").alias("event_type"),
        "window_start",
        "window_end",
        F.round("value", 2).alias("value"),
    )


@register(
    "stream_dedup_exact_parity",
    """
    SELECT DISTINCT md5(text) AS fp FROM documents
    """,
)
def stream_dedup_exact_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a STREAMING operator: dropDuplicatesWithinWatermark
    on the content fingerprint over a documents file-stream, checked
    against the batch DISTINCT oracle.

    WithinWatermark is the state-evicting variant — dedup state for a
    fingerprint is dropped once the watermark passes it, so a continuous
    100 TB ingest keeps bounded state (plain streaming dropDuplicates
    retains every key forever). The fingerprint (not the body) is what
    enters the state store: 32 bytes per doc, same shuffle discipline as
    batch dedup_exact. Event time is synthesized monotonically from
    doc_id — the corpus has no ingest timestamp; any real pipeline's
    arrival time slots in unchanged.
    """
    path = os.path.join(sf_dir, "documents.parquet")
    stream_dir = tempfile.mkdtemp(prefix="beametrics_stream_doc_")
    os.symlink(path, os.path.join(stream_dir, "documents.parquet"))
    try:
        return stream_dedup_exact(spark, stream_dir)
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


@register(
    "stream_join_click_purchase_parity",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts >= p.ts - INTERVAL 60 MINUTE AND c.ts <= p.ts
    """,
)
def stream_join_click_purchase_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: click→purchase attribution (clicks joined
    to same-user purchases within the preceding 60 min), both sides
    watermarked, checked against the batch self-join oracle.

    The watermarks + the time-bound join condition are what make this run
    forever on unbounded input: each side's join state is evicted once the
    watermark passes the 60-min attribution horizon, so state is
    O(events in horizon), not O(stream). Inner-join matches emit eagerly
    per micro-batch (no watermark wait), which is why a single-batch file
    source drains to the complete result. The equi-key (user_id) carries
    the shuffle partitioning; the range condition is a residual, exactly
    like the batch range join (relational3.py).
    """
    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):

        def side(event_type: str, prefix: str, stream: DataFrame) -> DataFrame:
            return (
                stream.filter(F.col("event_type") == event_type)
                .select(
                    F.col("event_id").alias(f"{prefix}_id"),
                    F.col("user_id").alias(f"{prefix}_user"),
                    F.col("ts").alias(f"{prefix}_ts"),
                )
                .withWatermark(f"{prefix}_ts", "30 seconds")
            )

        s1, stream_dir = _file_stream(spark, path, "events", "beametrics_stream_ev_")
        s2 = spark.readStream.schema(
            spark.read.parquet(stream_dir).schema
        ).format("parquet").load(stream_dir)
        if dict(s2.dtypes).get("ts") == "bigint":
            s2 = s2.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        clicks = side("click", "click", s1)
        purchases = side("purchase", "purchase", s2)
        joined = clicks.join(
            purchases,
            (F.col("click_user") == F.col("purchase_user"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 60 MINUTES")
            )
            & (F.col("click_ts") <= F.col("purchase_ts")),
            "inner",
        ).select(
            "click_id",
            "purchase_id",
            F.col("purchase_user").alias("user_id"),
        )
        out = _drain_to_table(spark, joined, "sjoin", "append", stream_dir)
    return out


@register(
    "stream_static_enrich_parity",
    """
    SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start,
           c.c_nationkey,
           count(*) AS n_purchases,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def stream_static_enrich_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: a purchase stream joined to the
    static customer dimension (user_id = c_custkey), aggregated to
    hourly revenue per nation — the canonical "enrich events against a
    dimension table" streaming pattern the previous parity queries
    didn't cover. The static side is read fresh per micro-batch and
    BROADCAST (no stream-side shuffle before the join, no state stores
    for the join itself — only the downstream windowed aggregation
    keeps state). Checked against the batch join oracle; complete mode
    finalizes every window after the single file-source batch."""
    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "events", "beametrics_stream_se_"
        )

        from beametrics_spark.sources import load_table

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        enriched = (
            stream.filter(F.col("event_type") == "purchase")
            .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
            .groupBy(
                F.window("ts", "1 hour").alias("w"),
                "c_nationkey",
            )
            .agg(
                F.count(F.lit(1)).alias("n_purchases"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "c_nationkey",
                "n_purchases",
                "total_value",
            )
        )
        out = _drain_to_table(spark, enriched, "enrich", "complete", stream_dir)
    return out


def stream_dedup_exact(spark: SparkSession, stream_dir: str) -> DataFrame:
    """The streaming dedup plan over any parquet directory of documents
    (doc_id, text, ...); returns first-seen fingerprints, one per distinct
    text. Separated from the registry entry so tests can feed a corpus
    that actually contains duplicates (the small SFs don't)."""
    raw_schema = spark.read.parquet(stream_dir).schema
    stream = spark.readStream.schema(raw_schema).format("parquet").load(stream_dir)
    deduped = (
        stream.select(
            F.md5("text").alias("fp"),
            # offset past epoch 0: the initial watermark IS epoch 0, and
            # a row landing exactly on it is dropped as late
            F.timestamp_seconds(F.col("doc_id") + F.lit(86400)).alias("ingest_ts"),
        )
        .withWatermark("ingest_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["fp"])
        .select("fp")
    )
    # stream_dir belongs to the caller — only the checkpoint is cleaned here
    return _drain_to_table(spark, deduped, "dedup", "append")


@register(
    "stream_multi_metric_fanout_parity",
    """
    SELECT CAST(0 AS INT) AS metric_id,
           time_bucket(INTERVAL '60 seconds', ts) AS window_start,
           CAST(count(*) AS DOUBLE) AS value
    FROM events WHERE event_type = 'error' GROUP BY 2
    UNION ALL
    SELECT CAST(1 AS INT) AS metric_id,
           time_bucket(INTERVAL '60 seconds', ts) AS window_start,
           ROUND(SUM(value), 2) AS value
    FROM events WHERE value > 100 GROUP BY 2
    """,
)
def stream_multi_metric_fanout_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ref_multi_metric_fanout — the reference's flagship shape (N configs
    over one stream, reference pipeline.py:168-178) — executed via
    readStream → memory sink. The single-scan explode fan-out matters
    MORE in streaming than batch: a union-of-branches plan would attach
    N separate file-stream sources re-reading every micro-batch, while
    the explode keeps one source feeding N metric groups. Shares the
    batch query's two-branch UNION oracle."""
    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "events", "beametrics_stream_fanout_"
        )
        cfgs = [
            MetricConfig(
                metric_definition=MetricDefinition(name="error_count", type="count"),
                filter_conditions=[FilterCondition("event_type", "error", "equals")],
            ),
            MetricConfig(
                metric_definition=MetricDefinition(
                    name="big_value_sum", type="sum", field="value"
                ),
                filter_conditions=[FilterCondition("value", 100, "greater_than")],
            ),
        ]
        plan = build_metrics_pipeline(stream, cfgs, window_size=60)
        out = _drain_to_table(spark, plan, "fanout_parity", "complete", stream_dir)
    return out.select(
        F.col("metric_id").cast("int").alias("metric_id"),
        "window_start",
        F.round("value", 2).alias("value"),
    )


def run_incremental_dedup_stream(
    spark: SparkSession, corpus: DataFrame, stream_df: DataFrame
) -> DataFrame:
    """Continuous corpus intake: classify every micro-batch of incoming
    documents as dup_of_corpus / dup_in_batch / new via foreachBatch.

    Per epoch the micro-batch is joined (broadcast, stream side never
    reshuffled) against TWO fingerprint indexes:
      - the historical corpus index (DISTINCT md5 fingerprints — at
        100 TB this is the persistent dedup index table, a few TB of
        16-byte keys bucketed by fp; document bodies are never rescanned);
      - the seen-within-this-drop index, refreshed per epoch: each
        epoch appends its (fp, first doc_id) table, so a document whose
        duplicate arrived in an EARLIER micro-batch classifies as
        dup_in_batch exactly like the batch twin (dedup_incremental_batch)
        would have classified it, regardless of how the stream chops the
        drop into epochs.
    Corpus-dup beats batch-dup, matching classify_incremental.

    foreachBatch is the right tool (not a stateful operator): the logic
    needs per-epoch BATCH joins against external index tables plus an
    index append — exactly the batch-DataFrame-per-epoch contract.
    """
    out_dir = _scratch("beametrics_incr_out_")
    seen_dir = _scratch("beametrics_incr_seen_")
    ckpt = _scratch("beametrics_incr_ckpt_")
    corpus_fp = (
        corpus.select(F.md5("text").alias("fp"))
        .distinct()
        .withColumn("_in_corpus", F.lit(True))
    )

    def classify_epoch(mb: DataFrame, _epoch_id: int) -> None:
        mb_fp = mb.select("doc_id", F.md5("text").alias("fp"))
        first_mb = mb_fp.groupBy("fp").agg(F.min("doc_id").alias("_mb_first"))
        # empty-dir read needs the explicit schema (no footers to infer from)
        seen = (
            spark.read.schema("fp string, first_id long")
            .parquet(seen_dir)
            .groupBy("fp")
            .agg(F.min("first_id").alias("_seen_first"))
        )
        eff_first = F.least(
            F.coalesce(F.col("_seen_first"), F.col("_mb_first")), F.col("_mb_first")
        )
        status = (
            F.when(F.col("_in_corpus").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("doc_id") > eff_first, F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
        )
        (
            mb_fp.join(F.broadcast(corpus_fp), "fp", "left")
            .join(F.broadcast(first_mb), "fp")
            .join(F.broadcast(seen), "fp", "left")
            .select("doc_id", status.alias("status"))
            .write.mode("append")
            .parquet(out_dir)
        )
        # refresh the drop-local index AFTER classifying (a doc is never
        # a duplicate of itself)
        first_mb.select(
            "fp", F.col("_mb_first").alias("first_id")
        ).write.mode("append").parquet(seen_dir)

    q = (
        stream_df.writeStream.foreachBatch(classify_epoch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        # pin rows before the temp dirs vanish (registry callers collect later)
        return (
            spark.read.schema("doc_id long, status string")
            .parquet(out_dir)
            .localCheckpoint(eager=True)
        )
    finally:
        for d in (out_dir, seen_dir, ckpt):
            shutil.rmtree(d, ignore_errors=True)


@register("stream_incremental_dedup_parity", INCREMENTAL_ORACLE)
def stream_incremental_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental_batch lifted to Structured Streaming: the new
    drop (doc_id >= 400) arrives as a file-source stream and every
    micro-batch is classified against the historical corpus index via
    foreachBatch (see run_incremental_dedup_stream). Shares the batch
    twin's oracle — the stream must converge to the identical
    classification."""
    from beametrics_spark.sources import load_table

    path = os.path.join(sf_dir, "documents.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "documents", "beametrics_stream_incr_"
        )
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") < 400)
        try:
            out = run_incremental_dedup_stream(
                spark, corpus, stream.filter(F.col("doc_id") >= 400)
            )
        finally:
            shutil.rmtree(stream_dir, ignore_errors=True)
    return out


@register(
    "stream_ohlc_parity",
    """
    WITH b AS (
      SELECT event_type, value, ts, event_id,
             time_bucket(INTERVAL 6 HOUR, ts) AS bucket,
             row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL 6 HOUR, ts)
                                ORDER BY ts ASC, event_id ASC) AS rk_open,
             row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL 6 HOUR, ts)
                                ORDER BY ts DESC, event_id DESC) AS rk_close
      FROM events
    )
    SELECT event_type, bucket,
           round(max(CASE WHEN rk_open = 1 THEN value END), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(max(CASE WHEN rk_close = 1 THEN value END), 2) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY 1, 2
    """,
)
def stream_ohlc_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ohlc_downsample executed via readStream → memory sink: open/close
    as min_by/max_by over the (ts, event_id) total order are ordinary
    partial-merge aggregates, so the SAME candle computation is legal as
    a streaming stateful aggregate — each micro-batch merges its
    partials into window state, no per-bucket sort, no arrays of bucket
    rows in state.  Shares the batch twin's row_number-formulated DuckDB
    oracle: stream state merge must reproduce the identical order
    statistics."""
    from beametrics_spark.operators.events2 import ohlc_agg

    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "events", "beametrics_stream_ohlc_"
        )
        b = stream.select(
            "event_type",
            "value",
            "ts",
            "event_id",
            F.window("ts", "6 hours").getField("start").alias("bucket"),
        )
        plan = ohlc_agg(b.groupBy("event_type", "bucket"))
        out = _drain_to_table(spark, plan, "ohlc_parity", "complete", stream_dir)
    return out.select("event_type", "bucket", "open", "high", "low", "close", "n")


@register(
    "stream_funnel_parity",
    """
    WITH stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS reached_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase
    FROM stages
    """,
)
def stream_funnel_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """funnel_conversion's per-user stage table executed as a STREAMING
    stateful aggregate: the conditional-MIN of three stage timestamps is
    a partial-merge aggregate, so each user's state is exactly three
    timestamps regardless of event-history length — the bounded-state
    property that makes the funnel streamable at all. The scalar funnel
    readout then runs over the drained state table (Structured Streaming
    rejects chained stateful aggregations by design; the readout is the
    "query the state store" step — stateless arithmetic over one row per
    user, the same rollup the batch twin performs). Shares
    funnel_conversion's DuckDB oracle: the stream's merged state must
    reproduce the identical first-occurrence timestamps."""
    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "events", "beametrics_stream_funnel_"
        )

        def first_ts(stage: str):
            return F.min(F.when(F.col("event_type") == stage, F.col("ts")))

        stages = stream.groupBy("user_id").agg(
            first_ts("view").alias("t_view"),
            first_ts("click").alias("t_click"),
            first_ts("purchase").alias("t_purchase"),
        )
        state = _drain_to_table(spark, stages, "funnel_state", "complete", stream_dir)
    saw_view = F.col("t_view").isNotNull()
    clicked = saw_view & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return state.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(saw_view.cast("long")).alias("reached_view"),
        F.sum(clicked.cast("long")).alias("reached_click"),
        F.sum(purchased.cast("long")).alias("reached_purchase"),
    )


@register(
    "stream_salted_fanout_parity",
    """
    WITH cutoff AS (
      -- the stream's watermark advances on the max event time of rows
      -- SURVIVING the fan-out's OR-prefilter, not of the raw file
      SELECT max(ts) - INTERVAL 180 SECONDS AS c
      FROM events WHERE event_type = 'error' OR value > 100
    )
    SELECT CAST(0 AS INT) AS metric_id,
           time_bucket(INTERVAL '60 seconds', ts) AS window_start,
           CAST(count(*) AS DOUBLE) AS value
    FROM events, cutoff
    WHERE event_type = 'error'
      AND time_bucket(INTERVAL '60 seconds', ts) <= cutoff.c
    GROUP BY 2
    UNION ALL
    SELECT CAST(1 AS INT) AS metric_id,
           time_bucket(INTERVAL '60 seconds', ts) AS window_start,
           ROUND(SUM(value), 2) AS value
    FROM events, cutoff
    WHERE value > 100
      AND time_bucket(INTERVAL '60 seconds', ts) <= cutoff.c
    GROUP BY 2
    """,
)
def stream_salted_fanout_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-metric fan-out executed as a stream in APPEND mode,
    checked against the plain batch SQL oracle: the values must be
    IDENTICAL to the batch aggregate. The name is historical: the engine
    no longer salts, since partial aggregation already sends a hot key
    through the shuffle as at most one row per map partition.

    APPEND output emits only watermark-finalized windows; both sides
    therefore cut to windows whose start precedes the fanned stream's max
    event time by >= 180 s — every such window's end provably precedes
    the final watermark (max_ts - 60 s), independent of any emit-boundary
    tie semantics."""
    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "events", "beametrics_stream_salted_"
        )
        cfgs = [
            MetricConfig(
                metric_definition=MetricDefinition(name="error_count", type="count"),
                filter_conditions=[FilterCondition("event_type", "error", "equals")],
            ),
            MetricConfig(
                metric_definition=MetricDefinition(
                    name="big_value_sum", type="sum", field="value"
                ),
                filter_conditions=[FilterCondition("value", 100, "greater_than")],
            ),
        ]
        plan = build_metrics_pipeline(
            stream, cfgs, window_size=60, watermark="60 seconds"
        )
        out = _drain_to_table(spark, plan, "salted_parity", "append", stream_dir)
        batch = spark.read.parquet(path)
        if dict(batch.dtypes).get("ts") == "bigint":
            batch = batch.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        cut = batch.filter(
            (F.col("event_type") == "error") | (F.col("value") > 100)
        ).agg((F.max("ts") - F.expr("INTERVAL 180 SECONDS")).alias("c"))
    return (
        out.crossJoin(F.broadcast(cut))
        .filter(F.col("window_start") <= F.col("c"))
        .select(
            F.col("metric_id").cast("int").alias("metric_id"),
            "window_start",
            F.round("value", 2).alias("value"),
        )
    )


@register(
    "stream_topk_per_window_parity",
    """
    WITH c AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT bucket, event_type, cnt,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY cnt DESC, event_type ASC) AS rk
      FROM c
    )
    SELECT bucket, event_type, cnt, rk FROM r WHERE rk <= 3
    """,
)
def stream_topk_per_window_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-3 event-type leaderboard, streaming-first.

    The stateful part — tumbling 1 h counts per (window, event_type) —
    runs as a streaming aggregate and drains to a memory sink; the
    rank-and-truncate runs as a BATCH window function over the drained
    (already closed) windows.  That split is deliberate and is the
    production shape: Spark cannot chain a ranking over a streaming
    aggregate in one query (4.1.2 limits chained stateful aggs to
    append-only), and at scale the leaderboard finalization belongs in
    foreachBatch / the downstream reader over watermark-closed windows,
    where it ranks |event_types| rows per window, not raw events.
    Tiebreak on event_type makes top-3 deterministic cross-engine."""
    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "events", "beametrics_stream_topk_"
        )
        counts = (
            stream.groupBy(
                F.window("ts", "1 hour").getField("start").alias("bucket"),
                "event_type",
            ).agg(F.count(F.lit(1)).alias("cnt"))
        )
        out = _drain_to_table(spark, counts, "topk_parity", "complete", stream_dir)
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("bucket").orderBy(F.desc("cnt"), F.asc("event_type"))
    )
    return (
        out.withColumn("rk", rk)
        .where(F.col("rk") <= 3)
        .select("bucket", "event_type", "cnt", "rk")
    )


@register(
    "stream_passage_dedup_parity",
    """
    WITH d AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n
      FROM documents
      WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 16
    ),
    occ AS (
      SELECT doc_id, source,
             unnest(generate_series(1, n - 16 + 1, 16)) AS st
      FROM d
    ),
    p AS (
      SELECT o.source,
             md5(array_to_string(list_slice(d.toks, o.st, o.st + 16 - 1), ' ')) AS h
      FROM occ o JOIN d USING (doc_id)
    ),
    cnt AS (SELECT h, count(*) AS c FROM p GROUP BY h)
    SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(sum(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
           ROUND(sum(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_rate
    FROM p JOIN cnt USING (h)
    GROUP BY p.source
    """,
)
def stream_passage_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """passage_dedup_rate as a STREAMING operator (VERDICT r6 #7 —
    incremental corpus curation is the production deployment of every
    dedup family): documents arrive as a file stream, passages explode
    and COUNT per (source, passage-hash) as a stateful streaming
    aggregate, and the per-source dup rates roll up from the drained
    counts — checked against the same DuckDB oracle as the batch twin.

    The passage definition comes from the SAME helper as the batch
    operator (dedup2.passage_occurrences), so the two cannot drift. The
    streaming state is one counter per distinct (source, 16-token
    block) — 16-byte md5 keys, never text bodies — i.e. the state store
    holds exactly the table the batch plan's first hash aggregation
    builds; counting is algebraic, so epoch boundaries cannot change
    the totals. Complete output mode re-emits the counts each trigger
    (single trigger here); a continuous deployment would run the same
    plan in update mode with the counts merged into an external index
    per epoch, the stream_incremental_dedup_parity shape, or bound
    state by arrival-time watermark when passages expire.

    The final rollup (global count per hash >= 2, per-source rates) is
    a small batch join over the drained aggregate — the same two-agg +
    one-join plan as the batch twin, just reading the state-store
    output instead of the corpus.
    """
    from beametrics_spark.operators.dedup2 import passage_occurrences

    path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(path).schema
    stream_dir = tempfile.mkdtemp(prefix="beametrics_stream_doc_")
    os.symlink(path, os.path.join(stream_dir, "documents.parquet"))
    stream = spark.readStream.schema(raw_schema).format("parquet").load(stream_dir)
    agg = passage_occurrences(stream).groupBy("source", "h").agg(
        F.count(F.lit(1)).alias("c")
    )
    tbl = _drain_to_table(spark, agg, "passage_dedup", "complete", stream_dir)
    # global per-hash count via a window over the drained aggregate (a
    # self-join of the memory-sink view trips Spark 4.1's resolver);
    # one shuffle on the 16-byte hash, state-table-sized input
    from pyspark.sql import Window

    cnt = F.sum("c").over(Window.partitionBy("h"))
    enriched = tbl.withColumn("cnt", cnt)
    dup = F.when(F.col("cnt") >= 2, F.col("c")).otherwise(F.lit(0))
    return enriched.groupBy("source").agg(
        F.sum("c").alias("n_passages"),
        F.sum(dup).alias("n_dup_passages"),
        F.round(F.sum(dup) / F.sum("c"), 4).alias("dup_rate"),
    )


from beametrics_spark.operators.timeseries import _DEBOUNCE_ORACLE


@register("stream_debounce_parity", _DEBOUNCE_ORACLE)
def stream_debounce_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_debounce_rate (operators/timeseries.py) lifted to a CUSTOM
    STATEFUL streaming operator — and the first parity twin that is
    genuinely MULTI-micro-batch: the events table is split into four
    event-time-ordered parquet files fed one per trigger
    (maxFilesPerTrigger=1), so the per-type rate-limiter state (one
    long: last event-time seen) must carry across four micro-batch
    boundaries to reproduce the batch answer. A single-lag gap audit is
    order-sensitive, so unlike the algebraic twins (counts, OHLC
    min/max_by) it cannot be written as a windowed aggregate — it is
    exactly the shape applyInPandasWithState exists for
    (streaming/stateful.py:debounce_stream).

    Boundary correctness: files split on day boundaries, so two events
    with equal timestamps are always in the same batch, and the
    cross-boundary gap is computed against the carried state — the
    identical single-lag chain the batch window computes. Each
    invocation emits per-batch INCREMENTS; the final kept-rate rollup
    is a 5-row batch aggregate over the drained increments. Shares
    event_debounce_rate's oracle verbatim.

    r14 cost decomposition (VERDICT r13 #8, measured this box at
    sf0.1): total ~3.5 s = chunk build 0.47 s (one partitionBy write —
    was 1.16 s as four filter+coalesce jobs) + ~2.8 s of 4-trigger
    drain + sub-0.1 s rollup. The drain is HARNESS FLOOR, not state
    work: the same 4-trigger applyInPandasWithState harness over 40
    synthetic rows costs ~4.8 s cold / ~1.2 s of it pure foreachBatch
    scheduling (probe in OPTIMIZATION_r14.md) — per-trigger state-store
    commit + Python state-worker round trips dominate, and the pandas
    sort/scan inside is microseconds. Declared floor: on a real
    deployment this is a long-running query whose per-trigger constant
    amortizes; only the chunk build was code-improvable.
    """
    from beametrics_spark.operators.timeseries import DEBOUNCE_GAP_US
    from beametrics_spark.sources import load_table
    from beametrics_spark.streaming.stateful import debounce_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id"
    )
    stream_dir = tempfile.mkdtemp(prefix="beametrics_stream_deb_")
    try:
        # four single-file chunks in event-time order with increasing
        # mtimes (FileStreamSource processes oldest-first). r14 (§2.4
        # fewer passes): ONE partitionBy write replaces four
        # filter+coalesce(1) jobs that each re-scanned events — same
        # day-boundary chunk SETS (the state fn sorts each batch into
        # the (ts_us, event_id) total order, so in-file row order is
        # irrelevant); measured 1.16 s -> 0.47 s for the chunk build
        # at sf0.1.
        day = F.dayofmonth("ts")
        bucket = (
            F.when(day < 8, 0)
            .when(day < 16, 1)
            .when(day < 24, 2)
            .otherwise(3)
        )
        tmp = os.path.join(stream_dir, "_build")
        (
            ev.withColumn("_chunk", bucket)
            .repartition(4, "_chunk")
            .write.partitionBy("_chunk")
            .mode("overwrite")
            .parquet(tmp)
        )
        for i in range(4):
            d = os.path.join(tmp, f"_chunk={i}")
            part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
            dst = os.path.join(stream_dir, f"{i:02d}.parquet")
            os.replace(os.path.join(d, part), dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        shutil.rmtree(tmp, ignore_errors=True)
        schema = spark.read.parquet(stream_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        increments = debounce_stream(stream, gap_us=DEBOUNCE_GAP_US)
        drained = _drain_to_table(
            spark, increments, "stream_debounce", "append"
        )
        return drained.groupBy("event_type").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("n_kept").alias("n_kept"),
            F.round(
                F.sum("n_kept") * F.lit(1.0) / F.sum("n_events"), 4
            ).alias("kept_rate"),
        )
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


from beametrics_spark.operators.timeseries import _EWMA_ORACLE


@register("stream_ewma_parity", _EWMA_ORACLE)
def stream_ewma_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ewma_forecast_error as a streaming pipeline: the stateful part —
    tumbling 1 h counts per (type, window) — runs as a streaming
    aggregate and drains to a memory sink; the order-sensitive EWMA
    fold finalizes as BATCH code over the drained (closed) windows,
    the same split as stream_topk_per_window_parity and for the same
    reason (4.1.2 chains stateful aggs append-only, and a recursive
    fold is not a streaming aggregate at all). The finalization is
    ewma_rollup — the BATCH twin's code object, shared verbatim, so
    the two cannot drift; at scale it runs over |types|x|hours| rows
    in foreachBatch or the downstream reader, never raw events.
    Shares the batch twin's oracle (and its dyadic bit-exactness)."""
    from beametrics_spark.operators.timeseries import ewma_rollup

    path = os.path.join(sf_dir, "events.parquet")
    with _scoped_conf(spark):
        stream, stream_dir = _file_stream(
            spark, path, "events", "beametrics_stream_ewma_"
        )
        counts = stream.groupBy(
            "event_type",
            F.window("ts", "1 hour").getField("start").alias("bucket"),
        ).agg(F.count(F.lit(1)).alias("x"))
        out = _drain_to_table(spark, counts, "ewma_parity", "complete", stream_dir)
    return ewma_rollup(out)


from beametrics_spark.operators.sampling import (
    _WEIGHTED_SAMPLE_ORACLE,
    SAMPLE_K,
)


@register("stream_weighted_sample_parity", _WEIGHTED_SAMPLE_ORACLE)
def stream_weighted_sample_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weighted_sample_wor as a STREAMING RESERVOIR: documents arrive
    as four files fed one per trigger, and foreachBatch maintains a
    bounded per-source reservoir (the running top-SAMPLE_K by the A-ES
    key ln(u)/w). Efraimidis–Spirakis keys make weighted sampling
    without replacement exactly MERGEABLE — top-k(A ∪ B) =
    top-k(top-k(A) ∪ top-k(B)) — so the drained reservoir equals the
    batch sample REGARDLESS of how the stream chops the corpus, and
    the parity needs no event-time ordering at all (contrast
    stream_debounce_parity, which is order-sensitive by nature). State
    is K×|strata| rows of ids and keys in an external table — the
    production shape for continuous corpus subsampling at 100 TB,
    where the reservoir is the only thing that persists between drops.
    Shares the batch twin's oracle verbatim."""
    from pyspark.sql import Window

    from beametrics_spark.operators.dedup import md5_hash60
    from beametrics_spark.operators.sampling import _HASH_SPAN
    from beametrics_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    stream_dir = tempfile.mkdtemp(prefix="beametrics_stream_wsr_")
    res_dir = _scratch("beametrics_wsr_state_")
    ckpt = _scratch("beametrics_wsr_ckpt_")
    try:
        hi = docs.agg(F.max("doc_id")).first()[0] + 1
        step = (hi + 3) // 4
        # r14: ONE partitionBy write replaces four filter+coalesce(1)
        # jobs re-scanning documents (same key-range chunk SETS; the
        # reservoir merge is row-order-insensitive — its window is the
        # (k DESC, doc_id) total order). Same move as
        # stream_debounce_parity; measurement there.
        tmp = os.path.join(stream_dir, "_build")
        (
            docs.withColumn(
                "_chunk", F.floor(F.col("doc_id") / step).cast("int")
            )
            .repartition(4, "_chunk")
            .write.partitionBy("_chunk")
            .mode("overwrite")
            .parquet(tmp)
        )
        for i in range(4):
            d = os.path.join(tmp, f"_chunk={i}")
            part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
            dst = os.path.join(stream_dir, f"{i:02d}.parquet")
            os.replace(os.path.join(d, part), dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        shutil.rmtree(tmp, ignore_errors=True)

        state_schema = "source string, doc_id long, weight long, k double"
        w = Window.partitionBy("source").orderBy(F.desc("k"), F.asc("doc_id"))

        def merge_epoch(mb: DataFrame, _epoch_id: int) -> None:
            u = (
                md5_hash60(
                    F.concat(F.lit("wsr:"), F.col("doc_id").cast("string"))
                )
                + 1
            ) / F.lit(_HASH_SPAN)
            keyed = mb.filter(F.col("n_chars") > 0).select(
                "source",
                "doc_id",
                F.col("n_chars").cast("long").alias("weight"),
                (F.log(u) / F.col("n_chars")).alias("k"),
            )
            prev = spark.read.schema(state_schema).parquet(res_dir)
            # bounded union: |strata|*K state rows + the batch
            merged = (
                prev.unionByName(keyed)
                .withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= SAMPLE_K)
                .drop("_rk")
                .localCheckpoint(eager=True)  # free the dir for overwrite
            )
            merged.write.mode("overwrite").parquet(res_dir)

        schema = spark.read.parquet(stream_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = (
            stream.writeStream.foreachBatch(merge_epoch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        final = spark.read.schema(state_schema).parquet(res_dir)
        return (
            final.withColumn("rank", F.row_number().over(w))
            .select(
                "source", F.col("rank").cast("int").alias("rank"),
                "doc_id", "weight",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        for d in (stream_dir, res_dir, ckpt):
            shutil.rmtree(d, ignore_errors=True)


from beametrics_spark.operators.curation4 import _CONTRIB_ORACLE, CONTRIB_CAP


@register("stream_contribution_cap_parity", _CONTRIB_ORACLE)
def stream_contribution_cap_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_contribution_capping as a STREAMING operator — the
    production shape: contribution bounding happens at INGEST, where a
    stateful per-(user, type) counter decides whether an arriving event
    is inside its user's cap, not in a nightly batch sweep.

    The streaming state is the exact table the batch plan's first
    aggregation builds: one integer counter per (user_id, event_type) —
    bounded by the user×type universe, never by event volume, and the
    count is algebraic so epoch boundaries cannot change it (same
    argument as the passage-dedup twin). The per-type cap rollup
    (least(c, CAP), over-cap users, drop rate) finalizes batch-side
    over the drained counters, byte-identical code path to the batch
    twin's second aggregation, checked against the same DuckDB oracle.

    A continuous deployment keeps the counters in update mode and tags
    each arriving event kept/dropped by comparing its running count to
    the cap (applyInPandasWithState, the stream_debounce_parity shape);
    the audit totals here are that pipeline's monitoring output.
    """
    path = os.path.join(sf_dir, "events.parquet")
    stream, stream_dir = _file_stream(
        spark, path, "events", "beametrics_stream_cap_"
    )
    agg = stream.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per = _drain_to_table(spark, agg, "contribution_cap", "complete", stream_dir)
    kept = F.least(F.col("c"), F.lit(CONTRIB_CAP))
    return per.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("n_events"),
        F.sum(kept).alias("n_kept"),
        F.sum((F.col("c") > CONTRIB_CAP).cast("long")).alias("users_over_cap"),
        F.round((F.sum("c") - F.sum(kept)) / F.sum("c"), 4).alias("drop_rate"),
    )


from beametrics_spark.operators.curation4 import _BOILER_ORACLE, BOILER_DF_MIN
from beametrics_spark.operators.dedup2 import PASSAGE_WIDTH as _BLOCK_W


@register("stream_boilerplate_mask_parity", _BOILER_ORACLE)
def stream_boilerplate_mask_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boilerplate_block_mask as a STREAMING operator — continuous
    corpus ingest keeps a per-(block-hash, doc) occurrence counter as
    streaming state; boilerplate document frequency and the per-doc
    keep plan roll up batch-side from the drained counters.

    State is one integer per distinct (16-byte block md5, doc_id) —
    exactly the batch plan's pre-count-distinct table, algebraic under
    any epoch batching. The batch-side finalize (distinct-doc count per
    hash >= BOILER_DF_MIN, per-doc mask totals, left-join to re-attach
    block-less docs from the STATIC side) is the identical second half
    of the batch twin, checked against the same DuckDB oracle. A
    continuous deployment ages blocks out by arrival-time watermark
    when the corpus is a sliding snapshot.
    """
    from beametrics_spark.operators.dedup import tokens_expr

    P = _BLOCK_W
    path = os.path.join(sf_dir, "documents.parquet")
    stream, stream_dir = _file_stream(
        spark, path, "documents", "beametrics_stream_boiler_"
    )
    d = stream.select(
        "doc_id", tokens_expr(F.col("text")).alias("toks")
    ).withColumn("n", F.size("toks"))
    blk = (
        d.filter(F.col("n") >= P)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.col("n") - P + 1, F.lit(P))
            ).alias("st"),
        )
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("st"), P))).alias("h"),
        )
    )
    agg = blk.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    tbl = _drain_to_table(spark, agg, "boiler_mask", "complete", stream_dir)

    from pyspark.sql import Window

    ddf = F.count(F.lit(1)).over(Window.partitionBy("h"))
    marked = tbl.withColumn("ddf", ddf)
    per_doc = marked.groupBy("doc_id").agg(
        F.sum("c").alias("n_blocks"),
        F.sum(
            F.when(F.col("ddf") >= BOILER_DF_MIN, F.col("c")).otherwise(
                F.lit(0)
            )
        ).alias("n_boiler_blocks"),
    )
    from beametrics_spark.sources import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    n_tok = docs.select(
        "doc_id", F.size(tokens_expr(F.col("text"))).cast("long").alias("n_tokens")
    )
    n_boiler = F.coalesce(F.col("n_boiler_blocks"), F.lit(0))
    return (
        n_tok.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_blocks"), F.lit(0)).cast("long").alias("n_blocks"),
            n_boiler.cast("long").alias("n_boiler_blocks"),
            (F.col("n_tokens") - P * n_boiler).cast("long").alias("kept_tokens"),
            F.round(P * n_boiler / F.col("n_tokens"), 4).alias("boiler_frac"),
        )
    )


from beametrics_spark.operators.curation4 import (
    _K_ANON_ORACLE,
    K_ANON_LEVELS,
    K_ANON_VALUE_BUCKET,
)


@register("stream_k_anonymity_parity", _K_ANON_ORACLE)
def stream_k_anonymity_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k_anonymity_audit as a STREAMING operator — privacy monitoring at
    INGEST: the quasi-identifier group sizes accumulate as streaming
    state (one counter per (type, hour-of-day, day-of-week, value
    bucket) — a FIXED-size key space, so state is bounded by schema,
    not volume), and the per-k risk rollups finalize batch-side over
    the drained counters, the identical second half of the batch twin
    against the same oracle. This is the alerting shape: a release
    gate watches rows_at_risk climb as events arrive instead of
    auditing after the fact.
    """
    path = os.path.join(sf_dir, "events.parquet")
    stream, stream_dir = _file_stream(
        spark, path, "events", "beametrics_stream_kanon_"
    )
    agg = stream.groupBy(
        "event_type",
        F.hour("ts").alias("hod"),
        F.dayofweek("ts").alias("dow"),
        F.floor(F.col("value") / K_ANON_VALUE_BUCKET).cast("long").alias("vb"),
    ).agg(F.count(F.lit(1)).alias("n"))
    g = _drain_to_table(spark, agg, "k_anon", "complete", stream_dir)

    aggs = [
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n").alias("n_rows"),
    ]
    for k in K_ANON_LEVELS:
        below = F.when(F.col("n") < k, F.col("n")).otherwise(F.lit(0))
        aggs.append(F.sum((F.col("n") < k).cast("long")).alias(f"gb_{k}"))
        aggs.append(F.sum(below).alias(f"rr_{k}"))
    row = g.agg(*aggs)
    levels = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.col("n_groups").alias("n_groups"),
                F.col(f"gb_{k}").alias("groups_below_k"),
                F.col(f"rr_{k}").alias("rows_at_risk"),
                F.round(F.col(f"rr_{k}") / F.col("n_rows"), 4).alias(
                    "risk_rate"
                ),
            )
            for k in K_ANON_LEVELS
        ]
    )
    return row.select(F.explode(levels).alias("l")).select("l.*")


from beametrics_spark.operators.multimodal import MEDIA_SCHEMA as _MEDIA_SCHEMA
from beametrics_spark.operators.multimodal import (
    _AVI_INDEX_ORACLE,
    _AVI_INDEX_SCHEMA,
)


@register("stream_avi_ingest_parity", _AVI_INDEX_ORACLE)
def stream_avi_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_avi_frame_index as a STREAMING operator — continuous
    MEDIA ingest: documents arrive as a file stream and the
    encode-container + parse-index Python stages run as Arrow-batched
    mapInPandas ON THE STREAM (stateless per-row transforms are
    streaming-legal; this is the one twin exercising the binary/Python
    path under the micro-batch scheduler — every other twin is
    JVM-expression or applyInPandasWithState). Per-doc frame-index
    stats append to the sink with no aggregation state at all; parity
    against the same value oracle as the batch twin.
    """
    import pandas as _pd

    from beametrics_spark.operators.videocodec import (
        decode_avi_index,
        encode_avi,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    stream, stream_dir = _file_stream(
        spark, path, "documents", "beametrics_stream_avi_"
    )

    def _encode(batches):
        for pdf in batches:
            payloads = [encode_avi(int(d)) for d in pdf["doc_id"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": ["video/avi"] * len(payloads),
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    def _stats(batches):
        for pdf in batches:
            out = {
                "doc_id": [],
                "n_frames": [],
                "n_keyframes": [],
                "total_frame_bytes": [],
                "max_frame_bytes": [],
                "max_key_gap": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                plan = decode_avi_index(bytes(payload))
                sizes = [s for s, _ in plan]
                keys = [i for i, (_s, k) in enumerate(plan) if k]
                gaps = [b - a for a, b in zip(keys, keys[1:])]
                out["doc_id"].append(doc_id)
                out["n_frames"].append(len(plan))
                out["n_keyframes"].append(len(keys))
                out["total_frame_bytes"].append(sum(sizes))
                out["max_frame_bytes"].append(max(sizes))
                out["max_key_gap"].append(max(gaps))
            yield _pd.DataFrame(out)

    media = stream.select("doc_id").mapInPandas(_encode, schema=_MEDIA_SCHEMA)
    stats = media.mapInPandas(_stats, schema=_AVI_INDEX_SCHEMA)
    return _drain_to_table(spark, stats, "avi_ingest", "append", stream_dir)


from beametrics_spark.operators.curation3 import _CDC_MERGE_ORACLE, CDC_INSERTS


@register("stream_cdc_merge_parity", _CDC_MERGE_ORACLE)
def stream_cdc_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cdc_upsert_merge_audit as CONTINUOUS CDC (VERDICT r7 #6): the
    change feed (delete / update / insert verbs) arrives as four files
    fed one per trigger, and foreachBatch applies MERGE-INTO semantics
    per micro-batch against an external base table — matched keys drop
    out (anti join), update/insert rows land — exactly the lakehouse
    upsert loop a real deployment runs against Delta/Iceberg. The feed
    is key-disjoint across micro-batches (each doc_id carries one
    verb), so chunked application provably equals the one-shot batch
    MERGE, and the drained snapshot audits against the SAME
    content-checksum oracle verbatim — count parity alone can't see a
    wrong-version row survive; the 40-bit md5-prefix checksum can.

    State is the full base table in an external parquet dir (the
    production shape: the table IS the state; nothing rides in the
    state store). Per-batch cost: one anti join + one union + one
    rewrite — on a lakehouse the rewrite is file-level (copy-on-write /
    merge-on-read), not a full table scan; the audit aggregates per
    source are batch-side, computed once after the drain.

    r14 cost decomposition (VERDICT r13 #8, sf0.1 this box): total
    ~3.2 s = base snapshot write + ONE partitionBy feed write (was four
    filter+coalesce jobs re-executing the feed unions per chunk) +
    4 foreachBatch merges, each a real anti-join + full-table parquet
    rewrite — the rewrite per trigger IS the operator's semantics
    (copy-on-write state table), and the bare 4-trigger foreachBatch
    harness alone floors at ~1.2 s. Declared floor beyond the chunk
    build fix (alternating A/B 3.57 -> 3.19 s)."""
    from beametrics_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    max_id = docs.agg(F.max("doc_id")).first()[0]
    is_del = F.col("doc_id") % 13 == 0
    is_upd = (F.col("doc_id") % 13 != 0) & (F.col("doc_id") % 7 == 0)
    inserts = spark.range(1, CDC_INSERTS + 1).select(
        (F.col("id") + max_id).alias("doc_id"),
        F.concat(
            F.lit("src"), ((F.col("id") + max_id) % 20).cast("string")
        ).alias("source"),
        F.concat(
            F.lit("inserted doc "), (F.col("id") + max_id).cast("string")
        ).alias("text"),
    )
    feed = (
        docs.filter(is_del)
        .select(
            "doc_id",
            F.lit(None).cast("string").alias("source"),
            F.lit(None).cast("string").alias("text"),
            F.lit("D").alias("verb"),
        )
        .unionAll(
            docs.filter(is_upd).select(
                "doc_id",
                "source",
                F.concat(F.col("text"), F.lit(" v2")).alias("text"),
                F.lit("U").alias("verb"),
            )
        )
        .unionAll(
            inserts.select(
                "doc_id", "source", "text", F.lit("I").alias("verb")
            )
        )
    )

    stream_dir = tempfile.mkdtemp(prefix="beametrics_stream_cdc_")
    base_dir = _scratch("beametrics_cdc_state_")
    ckpt = _scratch("beametrics_cdc_ckpt_")
    try:
        # initial snapshot = the base table
        docs.write.mode("overwrite").parquet(base_dir)
        # feed chopped into 4 key-range files, one per trigger. r14
        # (§2.4 fewer passes): ONE partitionBy write replaces four
        # filter+coalesce(1) jobs that each re-executed the whole feed
        # subtree (docs scans + unions); chunk SETS are identical
        # (floor(doc_id/step) == the old range predicates) and
        # merge-into is row-order-insensitive. A missing partition dir
        # (empty chunk) falls back to writing that chunk the old way,
        # keeping the 4-trigger contract.
        hi = max_id + CDC_INSERTS + 1
        step = (hi + 3) // 4
        tmp = os.path.join(stream_dir, "_build")
        (
            feed.withColumn(
                "_chunk", F.floor(F.col("doc_id") / step).cast("int")
            )
            .repartition(4, "_chunk")
            .write.partitionBy("_chunk")
            .mode("overwrite")
            .parquet(tmp)
        )
        for i in range(4):
            d = os.path.join(tmp, f"_chunk={i}")
            dst = os.path.join(stream_dir, f"{i:02d}.parquet")
            if os.path.isdir(d):
                part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
                os.replace(os.path.join(d, part), dst)
            else:  # empty chunk: still emit a file so trigger i fires
                etmp = os.path.join(stream_dir, f"_build_empty_{i}")
                feed.filter(F.lit(False)).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(etmp)
                part = next(
                    p for p in os.listdir(etmp) if p.endswith(".parquet")
                )
                os.replace(os.path.join(etmp, part), dst)
                shutil.rmtree(etmp, ignore_errors=True)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        shutil.rmtree(tmp, ignore_errors=True)

        state_schema = "doc_id long, source string, text string"

        def merge_epoch(mb: DataFrame, _epoch_id: int) -> None:
            prev = spark.read.schema(state_schema).parquet(base_dir)
            keys = mb.select("doc_id")
            upserts = mb.filter(F.col("verb").isin("U", "I")).select(
                "doc_id", "source", "text"
            )
            merged = (
                prev.join(keys, "doc_id", "left_anti")
                .unionByName(upserts)
                .localCheckpoint(eager=True)  # free the dir for overwrite
            )
            merged.write.mode("overwrite").parquet(base_dir)

        schema = spark.read.parquet(stream_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = (
            stream.writeStream.foreachBatch(merge_epoch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        final = spark.read.schema(state_schema).parquet(base_dir)
        term = F.conv(F.substring(F.md5("text"), 1, 10), 16, 10).cast("long")
        stats = final.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_final"),
            F.sum(term).alias("content_checksum"),
        )
        feed_counts = docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_base"),
            F.sum(is_del.cast("long")).alias("n_deleted"),
            F.sum(is_upd.cast("long")).alias("n_updated"),
        )
        ins_counts = inserts.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_inserted")
        )
        z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
        return (
            stats.join(F.broadcast(feed_counts), "source", "left")
            .join(F.broadcast(ins_counts), "source", "left")
            .select(
                "source",
                z("n_base").alias("n_base"),
                z("n_deleted").alias("n_deleted"),
                z("n_updated").alias("n_updated"),
                z("n_inserted").alias("n_inserted"),
                F.col("n_final").cast("long").alias("n_final"),
                F.col("content_checksum").cast("long").alias("content_checksum"),
            )
            .localCheckpoint(eager=True)  # materialize before dir cleanup
        )
    finally:
        for d in (stream_dir, base_dir, ckpt):
            shutil.rmtree(d, ignore_errors=True)


from beametrics_spark.operators.curation3 import _MOR_ORACLE, mor_reconcile_audit


@register("stream_cdc_mor_parity", _MOR_ORACLE)
def stream_cdc_mor_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cdc_merge_on_read_audit as CONTINUOUS CDC (VERDICT r9 #5): the
    MERGE-ON-READ write path under the micro-batch scheduler. Each of
    the four sequenced log waves arrives as one file per trigger, and
    foreachBatch APPENDS the micro-batch to a log partition dir —
    O(|feed|) written per batch, the fix for the measured ~19x
    copy-on-write amplification (SCALING.md round-9: COW's
    stream_cdc_merge_parity rewrites B·|base| bytes per drained feed).
    No base-table read, no join, no state-store rows ride in the hot
    loop — the append IS the whole per-batch cost, which is exactly why
    MOR is the high-churn lakehouse bracket.

    The reconcile (per-key max-seq last-writer-wins + base anti join +
    40-bit-md5 content checksum) runs ONCE after the drain through the
    SAME mor_reconcile_audit plan the batch twin certifies, against the
    SAME oracle — so a green row here proves chunked append-only
    ingestion followed by one read-side merge equals the one-shot batch
    reconcile bit-for-bit. Unlike the COW twin, the feed is NOT
    key-disjoint across micro-batches (seq 1/2/4 overlap keys by
    design); append order can't matter because seq travels WITH the
    row — last-writer-wins is decided at read time, the property that
    makes MOR ingestion embarrassingly parallel at 100 TB."""
    from beametrics_spark.operators.curation3 import mor_base_and_log

    # the waves come from the ONE shared definition (ADVICE r10: this
    # function used to hand-replicate all four wave builders, which
    # could drift from the batch twin's): each trigger's feed file is
    # the shared log filtered to its sequence number
    base, log = mor_base_and_log(spark, sf_dir)

    stream_dir = tempfile.mkdtemp(prefix="beametrics_stream_mor_")
    log_dir = _scratch("beametrics_mor_log_")
    ckpt = _scratch("beametrics_mor_ckpt_")
    try:
        # one feed file per log wave, one wave per trigger. r14: ONE
        # write partitioned by seq replaces four filter+coalesce(1)
        # jobs re-executing the shared log subtree (same wave SETS;
        # last-writer-wins resolves on the seq column at read time, so
        # in-file row order is irrelevant).
        tmp = os.path.join(stream_dir, "_build")
        (
            # partition on a COPY of seq: partitionBy lifts its column
            # into the directory key, and the feed rows must keep seq
            # (read-side last-writer-wins resolves on it)
            log.withColumn("_wave", F.col("seq"))
            .repartition(4, "_wave")
            .write.partitionBy("_wave")
            .mode("overwrite")
            .parquet(tmp)
        )
        for i, s in enumerate((1, 2, 3, 4)):
            d = os.path.join(tmp, f"_wave={s}")
            part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
            dst = os.path.join(stream_dir, f"{i:02d}.parquet")
            os.replace(os.path.join(d, part), dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        shutil.rmtree(tmp, ignore_errors=True)

        def append_epoch(mb: DataFrame, _epoch_id: int) -> None:
            # the ENTIRE merge-on-read write path: append the delta,
            # touch nothing else
            mb.write.mode("append").parquet(log_dir)

        schema = spark.read.parquet(stream_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = (
            stream.writeStream.foreachBatch(append_epoch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        log_schema = "doc_id long, seq int, verb string, source string, text string"
        drained = spark.read.schema(log_schema).parquet(log_dir)
        return mor_reconcile_audit(base, drained).localCheckpoint(
            eager=True  # materialize before dir cleanup
        )
    finally:
        for d in (stream_dir, log_dir, ckpt):
            shutil.rmtree(d, ignore_errors=True)
