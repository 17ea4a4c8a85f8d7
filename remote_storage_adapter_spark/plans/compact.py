"""Partition compaction — the background-merge half of MergeTree.

The reference's storage engine continuously merges small insert parts
into large sorted parts (ClickHouse MergeTree background merges; the
rollup config rides on those merges). Our ingest equivalent: every
micro-batch appends one or more small parquet files per date partition;
:func:`compact_table` rewrites every partition holding two or more of
them into one sorted file, in one Spark write for the whole table
(SURVEY §4.3.3 — operational, not a query rewrite).

The pass reads exactly the files it listed and stages its output under
``<table>/_compact/``, which parquet readers skip (leading ``_``). It
then records the listed files in ``_compact/manifest.json`` — the
commit point — and per partition moves the new file in and deletes the
listed ones. Readers never see a staged file or a missing partition,
and a file published after the listing (a concurrent ingest batch) is
neither read nor deleted. The one window left: between a partition's
move and its deletes, readers see its rows twice; a table log, not
directory renames, closes it. The next pass finishes a crashed publish
from the manifest, or discards a staged write that has none.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from remote_storage_adapter_spark.schema import PARTITION_COLUMN, SORT_COLUMNS

STAGE_DIR = "_compact"


def _parquet_files(table_path: str, partition_col: str) -> dict:
    """{partition_dirname: sorted parquet file names} of a local table
    path — the snapshot a compaction pass reads and later deletes."""
    out = {}
    for d in sorted(os.listdir(table_path)):
        full = os.path.join(table_path, d)
        if d.startswith(f"{partition_col}=") and os.path.isdir(full):
            out[d] = sorted(f for f in os.listdir(full)
                            if f.endswith(".parquet"))
    return out


def partition_file_counts(table_path: str, *,
                          partition_col: str = PARTITION_COLUMN) -> dict:
    """{partition_dirname: parquet file count} for a local table path.

    ``partition_col`` defaults to the metrics table's date column;
    pass ``"cell"`` / ``"bucket"`` to audit the ANN index layouts
    (similarity.ivf_write_index / lsh_index), whose append paths
    create one file per touched partition per batch."""
    return {d: len(files) for d, files
            in _parquet_files(table_path, partition_col).items()}


def _uncommitted_batch_ids(table_path: str, snapshot: dict) -> dict:
    """{partition_dirname: batch ids} of ``b<id>-`` prefixed files in
    ``snapshot`` with no commit marker in any ``_*ledger*`` directory
    at the table root — the residue of an exactly-once publish attempt
    that crashed mid-protocol and has not replayed yet. Empty when the
    table has no ledger directory (plain append tables: nothing to
    protect)."""
    ledgers = [
        os.path.join(table_path, d) for d in os.listdir(table_path)
        if d.startswith("_") and "ledger" in d
        and os.path.isdir(os.path.join(table_path, d))
    ]
    if not ledgers:
        return {}
    committed = set()
    for ledger in ledgers:
        for f in os.listdir(ledger):
            m = re.match(r"batch-(\d{12})$", f)
            if m:
                committed.add(int(m.group(1)))
    out = {}
    for part, files in snapshot.items():
        staged = {int(m.group(1)) for f in files
                  if (m := re.match(r"b(\d{12})-", f))}
        if staged - committed:
            out[part] = sorted(staged - committed)
    return out


def _move(src: str, dst: str) -> None:
    """Single-file atomic publish (rename). Module-level seam so
    crash-consistency tests can inject a failure mid-publish."""
    os.rename(src, dst)


def _publish(table_path: str, stage: str, old_files: dict) -> None:
    """Move each partition's staged file in, then delete its listed
    old files and their Hadoop ``.crc`` sidecars. Idempotent: a replay
    after a crash moves only what is still staged and deletes only
    what still exists."""
    for part, old in old_files.items():
        staged = os.path.join(stage, "new", part)
        live = os.path.join(table_path, part)
        # absent when the cleanup after a finished publish died midway
        for f in os.listdir(staged) if os.path.isdir(staged) else ():
            if f.endswith(".parquet"):
                _move(os.path.join(staged, f), os.path.join(live, f))
        for f in old:
            for name in (f, f".{f}.crc"):
                if os.path.exists(os.path.join(live, name)):
                    os.remove(os.path.join(live, name))


def compact_table(spark: SparkSession, table_path: str, *,
                  partition_col: str = PARTITION_COLUMN,
                  sort_cols: tuple = SORT_COLUMNS) -> dict:
    """Rewrite every partition holding two or more parquet files into
    one file sorted by ``sort_cols``, in one Spark write; returns
    ``{partition_dirname: files_after}`` for the partitions rewritten.

    Defaults compact the metrics table (date partitions, (name, ts)
    file sort); pass ``partition_col="cell", sort_cols=("vec_id",)``
    to compact an appended ANN index's cell directories (the
    ivf_append/lsh_append docstrings' maintenance step — appends add
    one file per touched partition per batch, and probe latency
    degrades with file count until compaction merges them).

    Refuses, before writing anything, when an eligible partition holds
    an UNCOMMITTED exactly-once batch (``b<id>-*`` files with no
    ledger marker): the rewrite would fold the crashed attempt's
    partial rows into anonymous part files, and the batch's eventual
    replay — whose recovery sweep finds partials by that filename
    prefix — would then double-publish them. Replay (or abandon) the
    batch first; committed batches compact freely (the ledger, not the
    file name, is the commit record — locked in test_ingest).

    See the module docstring for the staging, publish and recovery
    protocol and the one reader window it leaves.
    """
    stage = os.path.join(table_path, STAGE_DIR)
    manifest = os.path.join(stage, "manifest.json")
    if os.path.exists(manifest):  # a crashed publish: finish it
        with open(manifest) as fh:
            _publish(table_path, stage, json.load(fh))
    if os.path.isdir(stage):
        shutil.rmtree(stage)
    snapshot = {d: files for d, files
                in _parquet_files(table_path, partition_col).items()
                if len(files) >= 2}
    if not snapshot:
        return {}
    pending = _uncommitted_batch_ids(table_path, snapshot)
    if pending:
        raise RuntimeError(
            f"compact_table: {table_path} holds uncommitted "
            f"exactly-once batch(es) {pending} — replay them to "
            f"completion before compacting (merging their partial files "
            f"would break the replay's recovery sweep)")
    staged = os.path.join(stage, "new")
    (spark.read.option("basePath", table_path)
     .parquet(*[os.path.join(table_path, d, f)
                for d, files in snapshot.items() for f in files])
     .repartition(len(snapshot), F.col(partition_col))
     .sortWithinPartitions(partition_col, *sort_cols)
     .write.partitionBy(partition_col).parquet(staged))
    # partition values round-trip through type inference: a directory
    # name that does not come back verbatim would strand its old files
    written = {d for d in os.listdir(staged)
               if d.startswith(f"{partition_col}=")}
    if written != set(snapshot):
        shutil.rmtree(stage)
        raise RuntimeError(
            f"compact_table: staged partitions {sorted(written)} do not "
            f"match the snapshot {sorted(snapshot)}; nothing published")
    with open(manifest + ".tmp", "w") as fh:
        json.dump(snapshot, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(manifest + ".tmp", manifest)
    _publish(table_path, stage, snapshot)
    shutil.rmtree(stage)
    return {d: n for d, n in partition_file_counts(
        table_path, partition_col=partition_col).items() if d in snapshot}
