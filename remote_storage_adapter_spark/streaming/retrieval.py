"""Streaming retrieval-index maintenance: fold landed document
batches into a materialized inverted index
(operators.text.build_text_index layout) so BM25 retrieval
(text.bm25_search_indexed) always probes a current corpus — each
document is tokenized exactly once, on arrival.

Replay semantics (shared ``ingest.publish_staged_batch`` staged-rename
machinery, ledger ``_text_ledger``): postings and the corpus-stats row
are two separate path-based publishes, each guarded by its own batch
marker; the STATS marker is created last and commits the whole batch.
Unlike the line-dedup maintainer there is no decision-visible crash
window to pre-sweep — the maintainer makes no keep/drop decisions, so
a replay recomputes byte-identical postings and the sweep step inside
``publish_staged_batch`` removes any partial files by batch-id prefix.
A probe that races a mid-publish batch sees the ordinary parquet
mid-append state: postings-before-stats publication order means a
racing probe may briefly score new postings against the previous
(N, avgdl) — transiently stale ranking, never a torn or double-counted
index once the replay completes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from remote_storage_adapter_spark.streaming.source import file_stream


def apply_text_index_batch(batch_df: DataFrame, batch_id: int,
                           path: str, *, buckets: int = 64,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> bool:
    """Append one document batch's postings + stats row to the index
    at ``path`` exactly once. Returns True if this call applied it.

    Steps (each idempotent, each independently markered):

    1. stats marker present → batch fully applied; skip.
    2. postings: stage the batch's (term, id, dl, tf) rows partitioned
       by ``tb``, publish via the staged-rename protocol (its own
       marker makes a replay skip a completed postings publish).
    3. stats: stage the 1-row (n_docs, total_dl) frame under a
       constant partition (the protocol is partition-addressed),
       publish; its marker — created last — commits the batch.
    """
    from pyspark.errors import AnalysisException

    from remote_storage_adapter_spark.operators.ingest import (
        batch_committed,
        publish_staged_batch,
    )
    from remote_storage_adapter_spark.operators.text import (
        _check_index_buckets,
        _postings,
        _read_stats,
    )

    spark = batch_df.sparkSession
    stats_path = f"{path}/_stats"
    if batch_committed(spark, stats_path, batch_id,
                       ledger_dir="_text_ledger"):
        return False
    try:
        _check_index_buckets(_read_stats(spark, path), buckets, path)
    except AnalysisException:
        pass  # no stats yet — this batch bootstraps the index
    postings, stats = _postings(batch_df, buckets, id_col, text_col)
    if not batch_committed(spark, path, batch_id,
                           ledger_dir="_text_ledger"):
        staging = f"{path}/_staging/batch-{batch_id:012d}"
        postings.repartition(buckets, F.col("tb")) \
            .write.mode("overwrite").partitionBy("tb") \
            .parquet(staging)  # one file per tb/batch, not per task
        publish_staged_batch(spark, path, staging, batch_id, "tb",
                             ledger_dir="_text_ledger")
    staging_stats = f"{stats_path}/_staging/batch-{batch_id:012d}"
    (
        stats.withColumn("part", F.lit(0))
        .coalesce(1).write.mode("overwrite").partitionBy("part")
        .parquet(staging_stats)
    )
    publish_staged_batch(spark, stats_path, staging_stats, batch_id,
                         "part", ledger_dir="_text_ledger")
    return True


def stream_text_index_maintain(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    schema: StructType,
    buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = False,
    max_files_per_trigger: int = 64,
):
    """Continuous inverted-index maintenance over a parquet landing
    directory of documents; returns the StreamingQuery. Every landed
    document becomes probe-visible postings under ``index_path``; see
    :func:`apply_text_index_batch` for the exactly-once protocol and
    ``text.bm25_search_indexed`` for the probe side. Compact bucket
    partitions periodically with ``plans.compact.compact_table(spark, path,
    partition_col="tb", sort_cols=("term", "id"))`` — the compactor
    refuses to run while a partition holds an uncommitted batch.

    Replay ledgers key on the MICRO-BATCH ID, which is stable only
    under deterministic re-batching: a fresh-checkpoint reprocess must
    feed the same files in the same batch groups (``availableNow``
    with unchanged ``max_files_per_trigger`` over an unchanged landing
    directory — the tested shape). Restarting with a new checkpoint
    AFTER new files landed regroups batches under already-committed
    ids and silently skips them — resume the original checkpoint
    (normal operation) or start a fresh state/index path."""
    raw = file_stream(spark, schema, landing_dir, fmt="parquet",
                      max_files_per_trigger=max_files_per_trigger)
    writer = (
        raw.writeStream
        .foreachBatch(lambda df, bid: apply_text_index_batch(
            df, bid, index_path, buckets=buckets,
            id_col=id_col, text_col=text_col))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
