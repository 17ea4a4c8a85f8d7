"""Streaming ingest: landing dir → canonical table (SURVEY §2.9, K1/K2).

Reference flow: one HTTP remote-write request = one micro-batch
(main.go:286-320); at-least-once, failed batches counted and dropped
(main.go:396-406); fan-out to N writers in parallel goroutines
(main.go:311-319).

Spark-first: the protocol gateway (non-Spark, like the adapter itself
is to ClickHouse) decodes snappy+protobuf and lands one JSON file per
request into ``landing_dir``; here ``readStream`` picks files up
(micro-batch ≙ request batch, ``maxFilesPerTrigger`` = T4
backpressure), runs the W1-W8+F1 pipeline, and ``foreachBatch``
appends date-partitioned parquet per sink (K2 fan-out = sequential
sink writes inside one batch). ``exactly_once=True`` swaps the plain
append for the batch-ledger sink
(operators.ingest.write_metrics_exactly_once): a checkpoint-replayed
batch republishes idempotently — no duplicate and no partial rows,
crash-tested at every protocol step in tests/test_ingest.py. Delta
remains the opt-in upgrade for all-or-nothing reader snapshots.

Per-trigger cost: a micro-batch of small requests is cheap, so the
Spark jobs a trigger runs set most of a drain's time. The landing
directory is read through ``streaming.source.file_stream``, whose
source lives in a session of its own that lists a trigger's files on
the driver (a trigger of more than 32 files would otherwise launch a
listing job for files already listed). A batch is cached only when it
fans out to two or more sinks; with one sink the write is its only
action and a cache would cost one more job a trigger.

Late/out-of-order samples are accepted unconditionally (T2): raw
ingest is append-only with event-time columns; ordering is imposed at
read/rollup time, so no watermark is needed (the reference behaves
identically). The checkpoint gives at-least-once (T3).
"""

from __future__ import annotations

import json
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from remote_storage_adapter_spark.operators.ingest import (
    ingest_batch,
    write_metrics,
    write_metrics_exactly_once,
)
from remote_storage_adapter_spark.schema import WRITE_REQUEST_SCHEMA
from remote_storage_adapter_spark.streaming.source import file_stream


def land_write_request(landing_dir: str, timeseries: list, seq: int) -> str:
    """Gateway-side helper: land one decoded WriteRequest as a JSON file.

    (Stands in for the HTTP+snappy+protobuf front door, S1-S3; the
    wire decode itself is out of Spark by design.)
    """
    import os

    os.makedirs(landing_dir, exist_ok=True)
    path = os.path.join(landing_dir, f"write-{seq:012d}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"timeseries": timeseries}, f)
    os.rename(tmp, path)  # atomic publish so readStream never sees partials
    return path


def dedup_within_watermark(samples: DataFrame,
                           watermark: str = "1 hour") -> DataFrame:
    """Upgrade T3's at-least-once toward effectively-once: drop
    duplicate samples (gateway retries re-landing a request) whose
    event time is within ``watermark``.

    Key = (name, series, event time): a retried sample is byte-identical
    so first-wins is exact. Duplicates older than the watermark pass
    through and are reconciled by the authoritative batch LWW pass
    (plans/rollup.lww_dedup) — the same division of labor the reference
    relies on (its adapter dedups nothing; the storage engine's merge
    does, clickhouse/sqlscripts/0001-create-table.sql:8).

    Input/output: samples shape (ts_ms, name, labels, val). State is
    bounded by the watermark horizon per series.
    """
    from pyspark.sql import functions as F

    from remote_storage_adapter_spark.functions.codecs import tags_from_labels

    keyed = samples.withColumn(
        "_series", F.array_join(tags_from_labels(F.col("labels")), ",")
    ).withColumn("_ts", F.timestamp_millis(F.col("ts_ms")))
    return (
        keyed.withWatermark("_ts", watermark)
        .dropDuplicatesWithinWatermark(["name", "_series", "_ts"])
        .drop("_series", "_ts")
    )


def stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    table_paths: Sequence[str],
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 64,
    available_now: bool = False,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    exactly_once: bool = False,
):
    """Start the ingest stream; returns the StreamingQuery.

    ``exactly_once``: publish each micro-batch through the
    batch-ledger sink instead of plain append — a replayed batch
    (crash before checkpoint commit) is re-published idempotently,
    per sink path. Costs one extra rename per output file.

    The file source is created in a clone of ``spark`` that carries
    the caller's runtime conf and a parallel-listing threshold of at
    least ``max_files_per_trigger``, so no trigger runs a listing job
    (see ``streaming.source.file_stream``). The query itself belongs
    to ``spark``, whose conf is left unchanged. With two or more
    ``table_paths`` the batch is persisted, so every sink writes the
    same rows, one ``updated`` stamp included; with one path it is
    not, since the write is the batch's only action.
    """
    raw = file_stream(spark, WRITE_REQUEST_SCHEMA, landing_dir, fmt="json",
                      max_files_per_trigger=max_files_per_trigger)
    fan_out = len(table_paths) > 1

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        metrics = ingest_batch(batch_df)
        if transform is not None:
            metrics = transform(metrics)
        if fan_out:
            metrics.persist()
        try:
            for path in table_paths:  # K2 fan-out
                if exactly_once:
                    write_metrics_exactly_once(metrics, path, batch_id)
                else:
                    write_metrics(metrics, path)
        finally:
            if fan_out:
                metrics.unpersist()

    writer = (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
