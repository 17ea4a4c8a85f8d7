"""Incremental (streaming) tier rollup — watermarked window aggregation.

The batch jobs in plans/rollup.py reproduce GraphiteMergeTree's tiered
retention (README.md:66-86) as scheduled passes. This module is the
Structured-Streaming variant (SURVEY §2.9 T5 / §4.3): new raw files are
picked up as they land, bucketed into ``precision_s`` tumbling windows,
and finalized windows are appended to the tier table once the event-time
watermark passes them.

Semantics vs the batch tier job:

- late data within ``watermark`` is folded into its window before the
  window finalizes — same result as the batch job over the same rows;
- data later than the watermark is DROPPED by the streaming engine
  (the batch job would still absorb it on its next pass) — the
  watermark is the staleness bound an operator chooses;
- LWW versioning (README.md:70, version column ``updated``,
  0001-create-table.sql:8): the reference keeps the max-``updated``
  row per (name, tags, ts) before averaging. The stream reproduces
  that with a chained stateful pre-aggregation: stage 1 keeps the
  max-(updated, val) row's value per exact (window, name, tags, ts)
  key, stage 2 averages the winners per (window, name, tags). A
  rewrite of the same sample key landing ANY number of micro-batches
  later — as long as it is within the watermark — replaces the stale
  value in stage-1 state before the window finalizes, so the
  finalized output equals the batch ``plans/rollup.rollup`` over the
  same rows (e2e-asserted in tests/test_streaming_ops.py). Rewrites
  older than the watermark are late data like any other: dropped
  here, absorbed by the authoritative periodic batch pass.

At 100 TB: stage-1 state holds one scalar row per in-flight raw sample
key (bounded by watermark × ingest rate; evicted at finalization),
stage-2 state one row per open window per series. Both stages shuffle
on the same (name, tags)-dominated key family the batch job pays, but
only over each micro-batch's new rows.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from remote_storage_adapter_spark.functions.codecs import labels_from_tags
from remote_storage_adapter_spark.schema import METRICS_SCHEMA
from remote_storage_adapter_spark.streaming.source import file_stream


def stream_rollup(
    spark: SparkSession,
    raw_path: str,
    out_path: str,
    checkpoint_dir: str,
    *,
    precision_s: int = 30,
    watermark: str = "10 minutes",
    agg: str = "avg",
    available_now: bool = False,
    max_files_per_trigger: int = 64,
):
    """Start the incremental rollup stream; returns the StreamingQuery."""
    raw = file_stream(spark, METRICS_SCHEMA, raw_path, fmt="parquet",
                      max_files_per_trigger=max_files_per_trigger)
    agg_fn = getattr(F, agg)
    window = F.window(F.col("ts"), f"{precision_s} seconds")
    # stage 1 — streaming LWW: one state row per exact sample key; the
    # winning value is max_by over the (updated, val) order, matching
    # the batch tie-break (max ``updated``, then max ``val``; see
    # plans/rollup.lww_dedup). The window is part of the grouping key
    # so append-mode finalization applies; the exact timestamp rides
    # along as ``unix_millis(ts)`` — a derived long, NOT the
    # watermarked column itself, which would put two event-time
    # columns in one stream (every exact ts maps into one window, so
    # the dedup key is unchanged).
    deduped = (
        raw.withWatermark("ts", watermark)
        .groupBy(window.alias("w"), F.col("name"), F.col("tags"),
                 F.unix_millis(F.col("ts")).alias("ts_ms"))
        .agg(
            F.max_by(
                F.col("val"), F.struct(F.col("updated"), F.col("val"))
            ).alias("val"),
            F.max(F.col("updated")).alias("updated"),
        )
    )
    # stage 2 — the tier aggregate over LWW winners. Re-windowing the
    # stage-1 window's event time into the same-width tumbling window
    # is the documented chained-stateful-aggregation form (the result
    # is the identical window, carrying event-time semantics through).
    rolled = (
        deduped
        .groupBy(
            F.window(F.window_time("w"), f"{precision_s} seconds")
            .alias("w"),
            F.col("name"),
            F.col("tags"),
        )
        .agg(
            agg_fn(F.col("val")).alias("val"),
            F.max(F.col("updated")).alias("updated"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("date"),
            "name", "tags",
            # labels re-derived from tags (W5 codec) exactly as the
            # batch tier job does — keeps aggregation buffers scalar
            # and the streaming output schema equal to rollup()'s.
            labels_from_tags(F.col("tags")).alias("labels"),
            "val",
            F.col("w.start").alias("ts"),
            "updated",
        )
    )
    writer = (
        rolled.writeStream.format("parquet")
        .outputMode("append")  # only watermark-finalized windows
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
