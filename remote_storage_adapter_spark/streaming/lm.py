"""Streaming reference-LM maintenance: fold landed document batches
into the accumulated unigram count table (operators.text.lm_table
shape) so quality filtering always scores against a current reference
(text.lm_score_against) — each document is counted exactly once, on
arrival.

The count merge is a plain ``sum`` — NOT replay-idempotent — so the
maintainer rides ``streaming.sketch._merge_into``: the
applied-batch ledger lives inside the state directory and commits
atomically with the merged counts in one swap rename. A batch re-fed
after a swap-then-crash-before-checkpoint-commit is skipped; state is
only ever the exact union of distinct applied batches.

At 100 TB: the state is the vocabulary table — sublinear in corpus
size — and each merge shuffles one micro-batch's counts plus that
table. Reading the maintained LM any time with
``spark.read.parquet(state_path)`` gives exactly the
``lm_table(union of applied batches)`` counts (asserted e2e in
tests/test_streaming_ops.py).

The swap merge REWRITES the whole vocabulary table per micro-batch —
O(vocab) maintenance, the same shape as the pre-r8 MinHash counts
refresh (vocab grows with the corpus under Heaps' law, so at web
scale that rewrite is the budget). :func:`apply_lm_table_batch` is
the O(batch) alternative: per-batch DELTA rows tagged with the batch
id in a catalog table (consumers SUM per term via
:func:`read_lm_table`; :func:`lm_table_compact` folds committed
deltas back to one row per term), under the single-table form of the
MinHash maintainer's ledger protocol — the data append is
job-atomic, the ledger row lands after it, and the batch_id riding
every delta row is the data-level backstop that closes the
append-then-crash-before-ledger window. The path-based swap state
stays for small/frozen references and the curation capstone; new
high-frequency maintainers should prefer the table form.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from remote_storage_adapter_spark.streaming.sketch import _merge_into
from remote_storage_adapter_spark.streaming.source import file_stream


def merge_lm_state(batch_df, state_path: str, *,
                   id_col: str = "doc_id", text_col: str = "text",
                   batch_id: int | None = None) -> bool:
    """Fold one document batch's unigram counts into the LM state at
    ``state_path`` (creating it on first use). Pass ``batch_id`` (the
    stream maintainer does) for exactly-once replay via the in-state
    ledger; without it a replayed batch double-counts. Returns True
    if this call merged the batch (False = ledger skip)."""
    from remote_storage_adapter_spark.operators.text import lm_table

    new = lm_table(batch_df, id_col=id_col, text_col=text_col)

    def merge(cur):
        return (
            cur.unionByName(new)
            .groupBy("term")
            .agg(F.sum("c").cast("long").alias("c"))
        )

    return _merge_into(state_path, new, merge, batch_id)


def stream_lm_maintain(
    spark: SparkSession,
    landing_dir: str,
    state_path: str,
    checkpoint_dir: str,
    *,
    schema: StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = False,
    max_files_per_trigger: int = 64,
):
    """Maintain the reference unigram LM over a parquet landing
    directory of documents; returns the StreamingQuery. Score any
    frame against the maintained state with
    ``text.lm_score_against(docs, spark.read.parquet(state_path))``.

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
        .foreachBatch(lambda df, bid: merge_lm_state(
            df, state_path, id_col=id_col, text_col=text_col,
            batch_id=bid))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _mark_lm_applied(spark, ledger: str, batch_id: int) -> None:
    """Ledger-row append, last step of :func:`apply_lm_table_batch`
    (separate function so crash tests can inject a failure between
    the data append and its ledger row)."""
    spark.createDataFrame([(int(batch_id),)], "batch_id long") \
        .write.mode("append").saveAsTable(ledger)


def apply_lm_table_batch(batch_df, batch_id: int, table: str, *,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> bool:
    """Fold one document batch's unigram counts into the catalog
    table ``table`` as O(batch) DELTA rows — exactly once. Returns
    True if this call applied the batch.

    State: ``table`` holds (term, c, batch_id) rows — one delta row
    per (batch, term); consumers SUM per term (:func:`read_lm_table`)
    and :func:`lm_table_compact` periodically folds committed deltas
    to one row per term. Maintenance cost is O(batch vocabulary)
    regardless of corpus size, vs the O(total vocabulary) rewrite of
    the path-based swap merge (:func:`merge_lm_state`).

    Exactly-once (single-table form of the MinHash index maintainer's
    catalog-ledger protocol, streaming/dedup.apply_index_batch):
    applied batch ids live in ``{table}_applied``; the delta append
    is job-atomic and its ledger row lands AFTER it, so the only
    crash residue is data-without-ledger — closed by the batch_id
    riding every delta row (the replay probes for it and re-marks
    without re-appending). A bootstrap that dies before its ledger
    row leaves the ledger table missing, and a missing ledger replays
    the bootstrap in overwrite mode — also clean. Ledgers key on the
    micro-batch id: deterministic re-batching required, exactly as
    every other maintainer here documents."""
    from remote_storage_adapter_spark.operators.dedup import table_live
    from remote_storage_adapter_spark.operators.text import lm_table

    if batch_id < 0:
        raise ValueError(
            f"batch_id={batch_id}: negative ids are reserved "
            f"(−1 marks compacted rows) — a collision would make the "
            f"replay backstop skip a real batch's delta")
    spark = batch_df.sparkSession
    ledger = f"{table}_applied"
    new = (lm_table(batch_df, id_col=id_col, text_col=text_col)
           .withColumn("batch_id", F.lit(int(batch_id)).cast("long")))
    if not table_live(spark, ledger):
        # first batch, or a bootstrap attempt crashed before its
        # ledger row landed: (re)build in overwrite mode — idempotent
        new.write.mode("overwrite").saveAsTable(table)
        _mark_lm_applied(spark, ledger, batch_id)
        return True
    if spark.table(ledger).filter(
            F.col("batch_id") == int(batch_id)).limit(1).count() > 0:
        return False
    if spark.table(table).filter(
            F.col("batch_id") == int(batch_id)).limit(1).count() == 0:
        # one delta file per batch — a per-shuffle-partition append
        # grows the table's file listing ~32x faster than its data
        new.coalesce(1).write.mode("append").saveAsTable(table)
    # else: delta landed, only the ledger row was lost — just mark
    _mark_lm_applied(spark, ledger, batch_id)
    return True


def read_lm_table(spark: SparkSession, table: str):
    """The maintained LM as a (term, c) frame — delta rows summed per
    term; feed it to ``text.lm_score_against``. Equals
    ``lm_table(union of applied batches)`` at every committed point
    (asserted e2e in tests)."""
    return (spark.table(table).groupBy("term")
            .agg(F.sum("c").cast("long").alias("c")))


def lm_table_compact(spark: SparkSession, table: str) -> None:
    """Fold committed delta rows into one row per term (batch_id −1).
    REFUSES while any batch has delta rows but no ledger row (an
    in-flight or crashed batch — folding its maybe-landed delta into
    −1 would let the replay's backstop miss it and double-append).
    The rewrite stages to ``{table}_compacting`` and swaps via
    DROP + RENAME (Spark cannot overwrite a table from itself); a
    crash between the two leaves ``{table}`` missing with the staged
    table complete, and the repair at the next compact (or any
    manual ``ALTER TABLE .. RENAME``) finishes the swap."""
    tmp = f"{table}_compacting"
    if not spark.catalog.tableExists(table):
        if spark.catalog.tableExists(tmp):
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
            return
        raise ValueError(f"lm_table_compact: no table {table}")
    from remote_storage_adapter_spark.operators.dedup import table_live

    ledger = f"{table}_applied"
    data_ids = {r["batch_id"] for r in
                spark.table(table).select("batch_id")
                .distinct().collect()}
    # a data table without a live ledger is a crashed bootstrap —
    # every batch counts as in-flight, so the refusal below fires
    led_ids = ({r["batch_id"] for r in spark.table(ledger).collect()}
               if table_live(spark, ledger) else set())
    inflight = data_ids - led_ids - {-1}
    if inflight:
        raise ValueError(
            f"lm_table_compact: batches {sorted(inflight)} have delta "
            f"rows but no ledger row — in-flight or crashed; let the "
            f"maintainer replay them to completion before compacting")
    (read_lm_table(spark, table)
     .withColumn("batch_id", F.lit(-1).cast("long"))
     .write.mode("overwrite").saveAsTable(tmp))
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")


def stream_lm_table_maintain(
    spark: SparkSession,
    landing_dir: str,
    table: str,
    checkpoint_dir: str,
    *,
    schema: StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = False,
    max_files_per_trigger: int = 64,
):
    """:func:`stream_lm_maintain` with the O(batch) catalog-table
    delta state (:func:`apply_lm_table_batch`); returns the
    StreamingQuery. Score against the maintained LM with
    ``text.lm_score_against(docs, read_lm_table(spark, table))``;
    compact periodically with :func:`lm_table_compact`. The same
    deterministic re-batching caveat as every batch-id-keyed ledger
    here applies."""
    raw = file_stream(spark, schema, landing_dir, fmt="parquet",
                      max_files_per_trigger=max_files_per_trigger)
    writer = (
        raw.writeStream
        .foreachBatch(lambda df, bid: apply_lm_table_batch(
            df, bid, table, id_col=id_col, text_col=text_col))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
