"""plans.compact: one Spark write per table, staged under ``_compact/``
where readers cannot see it, and finished from its manifest after a
crash."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import DateType

from remote_storage_adapter_spark.operators import ingest as I
from remote_storage_adapter_spark.plans import compact as C
from remote_storage_adapter_spark.schema import SAMPLES_SCHEMA

T0 = 1704067200000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000


def _metrics(spark, days, *, n=20, val=1.0):
    """``n`` samples of two series on each day offset in ``days``."""
    rows = [(T0 + d * DAY_MS + i * 1000, f"m{i % 2}",
             {"__name__": f"m{i % 2}", "job": "x"}, val + i)
            for d in days for i in range(n)]
    return I.to_metrics(spark.createDataFrame(rows, SAMPLES_SCHEMA),
                        updated=F.timestamp_millis(F.col("ts_ms")))


def _ledgered_table(spark, path, days, batches=2):
    """An exactly-once table with one file per day per batch."""
    for b in range(batches):
        I.write_metrics_exactly_once(_metrics(spark, days, val=b * 100.0),
                                     path, b, files_per_date=1)


def _checksum(spark, path):
    h = F.xxhash64("name", "tags", "ts", "val").cast("decimal(38,0)")
    r = spark.read.parquet(path).agg(F.count(F.lit(1)).alias("n"),
                                     F.sum(h).alias("h")).first()
    return r["n"], r["h"]


def _jobs(spark, group, fn):
    """Spark jobs ``fn`` ran, once the status store has seen them."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_compaction_jobs_do_not_grow_with_partitions(spark, tmp_path):
    """2 and 8 date partitions of 3 files each compact in the same
    number of Spark jobs, to one file per partition."""
    jobs = {}
    for n_dates in (2, 8):
        path = str(tmp_path / f"t{n_dates}")
        for b in range(3):
            I.write_metrics(_metrics(spark, range(n_dates), val=b * 100.0),
                            path, files_per_date=1)
        assert set(C.partition_file_counts(path).values()) == {3}
        before = _checksum(spark, path)
        out = {}
        jobs[n_dates] = _jobs(
            spark, f"test-compact-{n_dates}",
            lambda: out.update(C.compact_table(spark, path)))
        assert out == {d: 1 for d in C.partition_file_counts(path)}
        assert len(out) == n_dates
        assert _checksum(spark, path) == before
    assert jobs[2] == jobs[8]


def test_compaction_refuses_before_writing(spark, tmp_path, monkeypatch):
    """An uncommitted batch in the later of two eligible dates stops
    the pass before the earlier date is touched."""
    path = str(tmp_path / "t")
    _ledgered_table(spark, path, [0, 1])
    real_publish = I._publish_file

    def dying_publish(fs, src, dst):
        real_publish(fs, src, dst)
        raise RuntimeError("injected crash mid-publish")

    monkeypatch.setattr(I, "_publish_file", dying_publish)
    with pytest.raises(RuntimeError, match="injected"):
        I.write_metrics_exactly_once(_metrics(spark, [1], val=500.0),
                                     path, 2, files_per_date=1)
    monkeypatch.undo()
    first, second = sorted(C.partition_file_counts(path))
    files_before = sorted(os.listdir(os.path.join(path, first)))
    assert C.partition_file_counts(path) == {first: 2, second: 3}
    with pytest.raises(RuntimeError, match="uncommitted"):
        C.compact_table(spark, path)
    assert sorted(os.listdir(os.path.join(path, first))) == files_before
    assert not os.path.exists(os.path.join(path, C.STAGE_DIR))


def test_compaction_crash_mid_publish_is_finished_next_pass(
        spark, tmp_path, monkeypatch):
    """A crash after the manifest and the first partition's move shows
    that partition's rows twice — the one reader window — but no staged
    rows and no string ``date``; the next pass finishes the publish."""
    path = str(tmp_path / "t")
    _ledgered_table(spark, path, [0, 1, 2])
    before = _checksum(spark, path)
    first = sorted(C.partition_file_counts(path))[0]
    n_first = spark.read.parquet(os.path.join(path, first)).count()
    # a stray staged file with no manifest: a pass that died while
    # writing, discarded rather than published
    stray = os.path.join(path, C.STAGE_DIR, "new", first)
    os.makedirs(stray)
    f = sorted(os.listdir(os.path.join(path, first)))[-1]
    with open(os.path.join(path, first, f), "rb") as src, \
            open(os.path.join(stray, "part-stray.parquet"), "wb") as dst:
        dst.write(src.read())
    real_move = C._move

    def dying_move(src, dst):
        real_move(src, dst)
        raise RuntimeError("injected crash mid-publish")

    monkeypatch.setattr(C, "_move", dying_move)
    with pytest.raises(RuntimeError, match="injected"):
        C.compact_table(spark, path)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(path, C.STAGE_DIR, "manifest.json"))
    df = spark.read.parquet(path)
    assert isinstance(df.schema["date"].dataType, DateType)
    assert df.count() == before[0] + n_first
    assert C.compact_table(spark, path) == {}
    assert not os.path.exists(os.path.join(path, C.STAGE_DIR))
    assert set(C.partition_file_counts(path).values()) == {1}
    assert _checksum(spark, path) == before


@pytest.mark.parametrize("seam", ["_parquet_files", "_move"])
def test_compaction_keeps_a_batch_published_after_the_snapshot(
        spark, tmp_path, monkeypatch, seam):
    """An exactly-once batch published after the snapshot is listed
    (``_parquet_files``) or during the publish (``_move``) is neither
    read into the rewrite nor deleted with the old files."""
    path = str(tmp_path / "t")
    _ledgered_table(spark, path, [0, 1])
    n_before, _ = _checksum(spark, path)
    batch = _metrics(spark, [0, 1], n=6, val=9000.0)
    real = getattr(C, seam)
    published = []

    def racing(*args):
        out = real(*args)
        if not published:
            published.append(
                I.write_metrics_exactly_once(batch, path, 7,
                                             files_per_date=1))
        return out

    monkeypatch.setattr(C, seam, racing)
    out = C.compact_table(spark, path)
    monkeypatch.undo()
    assert published == [True]
    assert sorted(out) == sorted(C.partition_file_counts(path))
    df = spark.read.parquet(path)
    assert df.count() == n_before + 12
    assert df.filter(F.col("val") >= 9000.0).count() == 12
