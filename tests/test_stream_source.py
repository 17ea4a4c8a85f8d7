"""The file source every streaming maintainer reads through
(streaming/source.py): no listing job however wide a trigger, a
threshold raised only where the source lists, and queries that still
belong to the caller's session."""

from __future__ import annotations

import time

from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import LongType, StructField, StructType

from remote_storage_adapter_spark.schema import WRITE_REQUEST_SCHEMA
from remote_storage_adapter_spark.streaming.ingest import (
    land_write_request,
    stream_ingest,
)
from remote_storage_adapter_spark.streaming.sketch import stream_hll_maintain
from remote_storage_adapter_spark.streaming.source import (
    LISTING_THRESHOLD,
    file_stream,
)

REQUEST = [{
    "labels": [{"name": "__name__", "value": "m"},
               {"name": "job", "value": "a"}],
    "samples": [{"value": 1.0, "timestamp": 1704067200000}],
}]
WIDE = 40  # one trigger, wider than the default threshold of 32


def _land(landing, n):
    for seq in range(n):
        land_write_request(landing, REQUEST, seq)


def _jobs(spark, q):
    """Spark jobs the query ran, once the status store has seen them."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))


def _ingest_jobs(spark, tmp_path, n_files):
    landing = str(tmp_path / f"landing{n_files}")
    out = str(tmp_path / f"tbl{n_files}")
    _land(landing, n_files)
    q = stream_ingest(spark, landing, [out], str(tmp_path / f"ck{n_files}"),
                      max_files_per_trigger=WIDE, available_now=True,
                      exactly_once=True)
    q.awaitTermination(120)
    assert q.exception() is None
    assert spark.read.parquet(out).count() == n_files
    return _jobs(spark, q)


def test_ingest_trigger_runs_no_listing_job(spark, tmp_path):
    """A 40-file trigger runs no more jobs than a 20-file one: the
    trigger's files are not listed again by a Spark job."""
    assert _ingest_jobs(spark, tmp_path, WIDE) <= _ingest_jobs(
        spark, tmp_path, WIDE // 2)


def test_maintainer_trigger_runs_no_listing_job(spark, tmp_path):
    schema = StructType([StructField("user_id", LongType())])

    def jobs(n_files):
        landing = str(tmp_path / f"landing{n_files}")
        spark.range(0, n_files, 1, n_files).write.parquet(landing)  # a file each
        q = stream_hll_maintain(
            spark, landing, str(tmp_path / f"hll{n_files}"),
            str(tmp_path / f"ck{n_files}"), schema=schema,
            key_col="user_id", p=4, available_now=True,
            max_files_per_trigger=WIDE)
        q.awaitTermination(120)
        assert q.exception() is None
        return _jobs(spark, q)

    assert jobs(WIDE) <= jobs(WIDE // 2)


def test_source_session_is_scoped(spark, tmp_path):
    """Only the source's session raises the threshold. It carries the
    caller's runtime conf; the micro-batches run with the caller's
    conf, threshold included; the caller's session keeps its own
    threshold while the stream runs and after it."""
    landing = str(tmp_path / "landing")
    _land(landing, 3)
    saved = {k: spark.conf.get(k)
             for k in (LISTING_THRESHOLD, "spark.sql.shuffle.partitions")}
    seen = {}

    def transform(metrics):
        batch = metrics.sparkSession
        seen["batch"] = (batch.conf.get(LISTING_THRESHOLD),
                         batch.conf.get("spark.sql.shuffle.partitions"))
        seen["caller"] = spark.conf.get(LISTING_THRESHOLD)
        return metrics

    try:
        spark.conf.set(LISTING_THRESHOLD, "16")
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        raw = file_stream(spark, WRITE_REQUEST_SCHEMA, landing, fmt="json",
                          max_files_per_trigger=WIDE)
        source = raw._jdf.logicalPlan().dataSource().sparkSession().conf()
        assert source.get(LISTING_THRESHOLD) == str(WIDE)
        assert source.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get(LISTING_THRESHOLD) == "16"

        q = stream_ingest(spark, landing, [str(tmp_path / "tbl")],
                          str(tmp_path / "ck"), max_files_per_trigger=WIDE,
                          available_now=True, transform=transform)
        q.awaitTermination(120)
        assert q.exception() is None
        assert seen == {"batch": ("16", "3"), "caller": "16"}
        assert spark.conf.get(LISTING_THRESHOLD) == "16"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


class _Progress(StreamingQueryListener):
    def __init__(self):
        self.run_ids = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.run_ids.add(str(event.progress.runId))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def test_query_belongs_to_callers_session(spark, tmp_path):
    """The query is listed in the caller's ``spark.streams`` and its
    progress reaches the listeners added there."""
    landing = str(tmp_path / "landing")
    _land(landing, 2)
    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        q = stream_ingest(spark, landing, [str(tmp_path / "tbl")],
                          str(tmp_path / "ck"))  # runs until stopped
        try:
            assert q.id in [a.id for a in spark.streams.active]
            q.processAllAvailable()
        finally:
            q.stop()
        for _ in range(100):  # listener events arrive asynchronously
            if str(q.runId) in listener.run_ids:
                break
            time.sleep(0.1)
        assert str(q.runId) in listener.run_ids
    finally:
        spark.streams.removeListener(listener)
