"""Ingest pipeline tests: W2 flatten, F1 gate, W1-W8 canonicalization,
K1 partitioned write, A9 observation, streaming end-to-end (T1-T3)."""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F

from remote_storage_adapter_spark.operators.ingest import (
    flatten_write_requests,
    ingest_batch,
    observed_ingest,
    to_metrics,
    write_metrics,
)
from remote_storage_adapter_spark.schema import WRITE_REQUEST_SCHEMA
from remote_storage_adapter_spark.streaming.ingest import (
    land_write_request,
    stream_ingest,
)

# the reference's canonical 5-sample fixture (clickhouse/client_test.go:24-62)
FIXTURE_TS = [
    {
        "labels": [
            {"name": "__name__", "value": "testmetric"},
            {"name": "test_label", "value": "test_label_value1"},
        ],
        "samples": [{"value": 1.23, "timestamp": 123456789123}],
    },
    {
        "labels": [
            {"name": "__name__", "value": "testmetric"},
            {"name": "test_label", "value": "test_label_value2"},
        ],
        "samples": [{"value": 5.1234, "timestamp": 123456789123}],
    },
    {
        "labels": [{"name": "__name__", "value": "nan_value"}],
        "samples": [{"value": float("nan"), "timestamp": 123456789123}],
    },
    {
        "labels": [{"name": "__name__", "value": "pos_inf_value"}],
        "samples": [{"value": float("inf"), "timestamp": 123456789123}],
    },
    {
        "labels": [{"name": "__name__", "value": "neg_inf_value"}],
        "samples": [{"value": float("-inf"), "timestamp": 123456789123}],
    },
]


def _requests(spark):
    return spark.createDataFrame([(FIXTURE_TS,)], WRITE_REQUEST_SCHEMA)


def test_flatten(spark):
    samples = flatten_write_requests(_requests(spark)).collect()
    assert len(samples) == 5  # one row per sample (main.go:377-394)
    byname = {r["name"]: r for r in samples}
    assert byname["testmetric"]["ts_ms"] == 123456789123
    assert byname["testmetric"]["labels"]["test_label"] in (
        "test_label_value1", "test_label_value2",
    )


def test_nan_inf_dropped(spark):
    out = ingest_batch(_requests(spark)).collect()
    # only the two finite samples survive (clickhouse/client.go:137-141)
    assert sorted(r["val"] for r in out) == [1.23, 5.1234]
    for r in out:
        assert r["tags"][0] == "__name__=testmetric"
        assert r["labels"]["__name__"] == "testmetric"
        assert r["ts"].isoformat().startswith("1973-11-29")  # 123456789s
        assert r["date"].isoformat() == "1973-11-29"


def test_observed_drop_counts(spark):
    samples = flatten_write_requests(_requests(spark))
    filtered, obs = observed_ingest(samples)
    assert filtered.count() == 2
    got = obs.get
    assert got["received"] == 5 and got["sent"] == 2  # 3 drops counted


def test_partitioned_write_layout(spark, tmp_path):
    path = str(tmp_path / "metrics")
    m = to_metrics(
        flatten_write_requests(_requests(spark)),
        updated=F.timestamp_millis(F.lit(0)),
    )
    write_metrics(m, path)
    # hive-style date partition dirs (ClickHouse partition-by-date ≙)
    assert any(d.startswith("date=") for d in os.listdir(path))
    back = spark.read.parquet(path)
    assert back.count() == 2
    # partition pruning: only the matching date dir is scanned
    pruned = back.filter(F.col("date") == "1973-11-29")
    assert pruned.count() == 2


def test_delta_write_layout(spark, tmp_path):
    """K1 ACID variant (VERDICT r1 #7 / r2 #6): same partitioned
    layout through the Delta writer. Skips cleanly when delta-spark is
    absent (this container ships without it); the format gate's
    ImportError guidance is asserted either way."""
    import pytest

    m = to_metrics(
        flatten_write_requests(_requests(spark)),
        updated=F.timestamp_millis(F.lit(0)),
    )
    try:
        import delta  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="delta-spark"):
            write_metrics(m, str(tmp_path / "d"), format="delta")
        pytest.skip("delta-spark not installed")
    path = str(tmp_path / "metrics_delta")
    write_metrics(m, path, format="delta")
    assert os.path.isdir(os.path.join(path, "_delta_log"))
    back = spark.read.format("delta").load(path)
    assert back.count() == 2


def test_streaming_fanout_two_sinks(spark, tmp_path):
    # K2 (main.go:311-319): one batch fans out to N writers
    landing = str(tmp_path / "landing")
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    ckpt = str(tmp_path / "ckpt")
    land_write_request(landing, FIXTURE_TS, 1)
    q = stream_ingest(spark, landing, [out_a, out_b], ckpt,
                      available_now=True)
    q.awaitTermination(120)
    rows_a = sorted(r["val"] for r in spark.read.parquet(out_a).collect())
    rows_b = sorted(r["val"] for r in spark.read.parquet(out_b).collect())
    assert rows_a == rows_b == [1.23, 5.1234]
    # the batch is cached for the fan-out, so both sinks hold the same
    # rows, down to the ``updated`` stamp; writes from an uncached batch
    # would each evaluate their own current_timestamp()
    cols = ["date", "name", "tags", "ts", "val", "updated"]
    full_a, full_b = (spark.read.parquet(p).select(cols).sort(cols).collect()
                      for p in (out_a, out_b))
    assert full_a == full_b


def test_streaming_ingest_end_to_end(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    land_write_request(landing, FIXTURE_TS, 1)
    land_write_request(landing, FIXTURE_TS[:2], 2)
    q = stream_ingest(spark, landing, [out], ckpt, available_now=True)
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    # 2 finite samples from request 1 + 2 from request 2
    assert back.count() == 4
    assert not any(
        math.isnan(v) or math.isinf(v)
        for v in [r["val"] for r in back.collect()]
    )
    # at-least-once restart: same checkpoint, no new files → no dupes
    q2 = stream_ingest(spark, landing, [out], ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 4


def _vals(spark, path):
    return sorted(r["val"] for r in spark.read.parquet(path).collect())


def test_exactly_once_sink_survives_crash_at_every_step(
        spark, tmp_path, monkeypatch):
    """Crash-replay contract of write_metrics_exactly_once (VERDICT r5
    next #4): whichever step a batch attempt dies at — mid-publish,
    or after full publish but before the ledger commit — replaying the
    batch yields the table exactly once, with no partial rows."""
    import pytest

    from remote_storage_adapter_spark.operators import ingest as I

    m = ingest_batch(_requests(spark))  # 2 finite rows
    path = str(tmp_path / "tbl")

    # batch 0: clean publish, then replay → skipped, no duplicates
    assert I.write_metrics_exactly_once(m, path, 0) is True
    assert _vals(spark, path) == [1.23, 5.1234]
    assert I.write_metrics_exactly_once(m, path, 0) is False
    assert _vals(spark, path) == [1.23, 5.1234]

    # batch 1, attempt dies after publishing ONE file (mid-publish)
    calls = {"n": 0}
    real_publish = I._publish_file

    def dying_publish(fs, src, dst):
        real_publish(fs, src, dst)
        calls["n"] += 1
        raise RuntimeError("injected crash mid-publish")

    monkeypatch.setattr(I, "_publish_file", dying_publish)
    with pytest.raises(RuntimeError):
        I.write_metrics_exactly_once(m, path, 1)
    assert calls["n"] == 1  # died with a partial batch visible
    monkeypatch.setattr(I, "_publish_file", real_publish)
    # replay: partial residue swept, batch published exactly once
    assert I.write_metrics_exactly_once(m, path, 1) is True
    assert _vals(spark, path) == [1.23, 1.23, 5.1234, 5.1234]

    # batch 2, attempt dies AFTER full publish, BEFORE ledger commit
    def dying_commit(fs, marker):
        raise RuntimeError("injected crash before ledger commit")

    monkeypatch.setattr(I, "_mark_committed", dying_commit)
    with pytest.raises(RuntimeError):
        I.write_metrics_exactly_once(m, path, 2)
    monkeypatch.undo()  # restore the real publish + commit seams
    assert I.write_metrics_exactly_once(m, path, 2) is True
    assert _vals(spark, path) == sorted([1.23, 5.1234] * 3)

    # staging/ledger dirs are invisible to parquet readers
    assert spark.read.parquet(path).count() == 6


def test_exactly_once_stream_ignores_full_reprocess(spark, tmp_path):
    """E2E: with exactly_once=True, re-running the stream over the
    same landing files with a FRESH checkpoint (deterministic
    re-batching: availableNow + maxFilesPerTrigger=1 feeds files in
    order, so batch ids line up) publishes nothing new — the ledger,
    not the checkpoint, is what makes replays idempotent. The plain
    sink under the same restart duplicates every row."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "tbl")
    land_write_request(landing, FIXTURE_TS, 1)
    land_write_request(landing, FIXTURE_TS[:2], 2)
    for ckpt in ("ck1", "ck2"):  # second run: fresh checkpoint
        q = stream_ingest(spark, landing, [out],
                          str(tmp_path / ckpt), available_now=True,
                          max_files_per_trigger=1, exactly_once=True)
        q.awaitTermination(120)
        assert _vals(spark, out) == [1.23, 1.23, 5.1234, 5.1234]


def test_exactly_once_ledger_survives_compaction(spark, tmp_path):
    """Compaction rewrites a partition's files (batch-id prefixes
    disappear), which must not confuse a later replay: the ledger —
    not the file names — is the commit record, so a replayed batch
    whose files were compacted away is still skipped."""
    from remote_storage_adapter_spark.operators import ingest as I
    from remote_storage_adapter_spark.plans.compact import (
        compact_table, partition_file_counts,
    )

    m = ingest_batch(_requests(spark))  # 2 finite rows
    path = str(tmp_path / "tbl")
    I.write_metrics_exactly_once(m, path, 0)
    I.write_metrics_exactly_once(m, path, 1)
    assert _vals(spark, path) == sorted([1.23, 5.1234] * 2)
    compact_table(spark, path)
    assert all(n == 1 for n in partition_file_counts(path).values())
    # replay both batches post-compaction: ledger says committed
    assert I.write_metrics_exactly_once(m, path, 0) is False
    assert I.write_metrics_exactly_once(m, path, 1) is False
    assert _vals(spark, path) == sorted([1.23, 5.1234] * 2)


def test_compaction_refuses_uncommitted_batch(spark, tmp_path,
                                              monkeypatch):
    """The inverse lock of test_exactly_once_ledger_survives_compaction:
    compacting a partition that holds a crashed, NOT-yet-replayed
    batch's partial files must refuse — merging them into anonymous
    part files would defeat the replay's recovery sweep and
    double-publish the rows. After the replay completes, compaction
    proceeds."""
    import pytest

    from remote_storage_adapter_spark.operators import ingest as I
    from remote_storage_adapter_spark.plans.compact import compact_table

    m = ingest_batch(_requests(spark))  # 2 finite rows
    path = str(tmp_path / "tbl")
    I.write_metrics_exactly_once(m, path, 0)

    real_publish = I._publish_file

    def dying_publish(fs, src, dst):
        real_publish(fs, src, dst)
        raise RuntimeError("injected crash mid-publish")

    monkeypatch.setattr(I, "_publish_file", dying_publish)
    with pytest.raises(RuntimeError, match="injected"):
        I.write_metrics_exactly_once(m, path, 1)
    monkeypatch.setattr(I, "_publish_file", real_publish)
    # batch 1 is partially published and uncommitted: refuse
    with pytest.raises(RuntimeError, match="uncommitted"):
        compact_table(spark, path)
    # replay to completion, then compaction proceeds and rows are exact
    assert I.write_metrics_exactly_once(m, path, 1) is True
    out = compact_table(spark, path)
    assert out
    assert _vals(spark, path) == sorted([1.23, 5.1234] * 2)
