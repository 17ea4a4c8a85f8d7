"""Streaming reference-index maintenance: fold landed document
batches into a materialized MinHash-LSH index
(operators.dedup.minhash_index / minhash_index_append) so
cross-corpus dedup joins always run against a current reference
corpus — the corpus is signed incrementally, batch by batch, never
re-signed.

Replay semantics: index appends are NOT idempotent (a re-appended
batch duplicates its postings, which fans out the signature join-back
into duplicate pairs), so each completed table append is recorded in
a ``{prefix}_applied`` ledger table, and replayed batches skip the
appends the ledger already shows — the same ledger pattern as the
exactly-once ingest sink (operators.ingest.write_metrics_exactly_once).
The ledger rides the index (a catalog table), not the stream
checkpoint, so even a fresh-checkpoint reprocess of the same landing
files skips already-applied batches (deterministic re-batching:
``availableNow`` + ``maxFilesPerTrigger=1`` feeds files in order).
The ledger is per (batch, table): each ``saveAsTable`` append is
job-atomic (the commit protocol publishes nothing on a mid-job
crash), so a crash BETWEEN the two table appends replays by
appending only the missing table — no double-apply, no Delta
dependency. A crash during bootstrap leaves the ledger empty and
replays the overwrite-mode bootstrap cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from remote_storage_adapter_spark.operators.dedup import (
    _pin,
    cache_scope,
    minhash_index,
    minhash_index_append,
)
from remote_storage_adapter_spark.streaming.source import file_stream


def apply_index_batch(batch_df: DataFrame, batch_id: int,
                      table_prefix: str, *,
                      dedup_threshold: float | None = None,
                      sigs: DataFrame | None = None,
                      **index_kwargs) -> bool:
    """Apply one document batch to the index exactly once: bootstrap
    the index on first use, append otherwise, skip if the ledger
    shows this batch already applied. Returns True if applied.

    ``sigs`` is the :func:`..operators.dedup.minhash_signatures_for`
    threading contract: a pinned signed superset of ``batch_df``
    (matching num_hashes/shingle_n/mode) computed upstream — e.g. by
    the curation near-dup gate — so the fold never re-signs; ``None``
    signs here.

    ``dedup_threshold`` turns this into streaming FUZZY
    DEDUP-ON-INGEST (the text-side twin of the semantic maintainer):
    before appending, the batch is MinHash-joined against the
    accumulated index (cross-corpus) and against itself (within-batch
    smallest-id rule), and only documents with no ≥-threshold match
    are appended — the maintained corpus stays fuzzy-duplicate-free
    by construction. Requires the documented id-uniqueness contract
    (ids never repeat across batches); the cross join discards
    ``id_l == id_r`` matches, which under that contract can only be a
    crashed attempt's own partially-applied copy — this is what makes
    replay decisions identical even when the replay's join sees
    partial state (kept docs compare equal, dropped docs were never
    appended).

    The ledger is PER TABLE — ``(batch_id, tbl)`` rows, one appended
    after each completed table append. Each ``saveAsTable`` append is
    job-atomic (the commit protocol publishes nothing on a mid-job
    crash), so the only crash residue is a batch with SOME tables
    appended; the replay reads which and re-appends only the missing
    ones (``minhash_index_append(skip_tables=...)``). A crash during
    bootstrap leaves the ledger empty, and an empty ledger replays
    the bootstrap in overwrite mode — also clean. This closes the
    two-table crash window the r6 first-half version documented as
    residual."""
    from pyspark.sql import functions as F

    spark = batch_df.sparkSession
    ledger = f"{table_prefix}_applied"

    def mark(tbl: str) -> None:
        spark.createDataFrame([(int(batch_id), tbl)],
                              "batch_id long, tbl string") \
            .write.mode("append").saveAsTable(ledger)

    from remote_storage_adapter_spark.operators.dedup import table_live

    ledger_live = table_live(spark, ledger)
    from remote_storage_adapter_spark.operators.dedup import (
        MH_INDEXED_ONLY_KWARGS,
        MH_LAYOUT_KWARGS,
        MH_PROBE_ONLY_KWARGS,
    )

    id_col = index_kwargs.get("id_col", "doc_id")
    # kwarg routing (ADVICE r10): one ``index_kwargs`` dict serves
    # four consumers with different signatures. Layout knobs go to
    # the bootstrap build only (probes AND appends read the layout
    # from {prefix}_meta); probe knobs (max_bucket_size, prune, push
    # limits, caps_stats) go to the joins only — forwarding them to
    # minhash_index/minhash_index_append raises TypeError on every
    # batch, which is exactly how the documented
    # ``max_bucket_size=None`` escape hatch used to crash the fold.
    join_kwargs = {k: v for k, v in index_kwargs.items()
                   if k not in MH_LAYOUT_KWARGS}
    pairs_kwargs = {k: v for k, v in join_kwargs.items()
                    if k not in MH_INDEXED_ONLY_KWARGS}
    build_kwargs = {k: v for k, v in index_kwargs.items()
                    if k not in MH_PROBE_ONLY_KWARGS}
    append_kwargs = {k: v for k, v in build_kwargs.items()
                     if k not in MH_LAYOUT_KWARGS}
    if sigs is not None:
        # exact-coverage filter once: the pair/indexed joins consume
        # sigs as-is, and a signed SUPERSET would band non-batch docs
        # into the candidate join
        sigs = sigs.join(
            batch_df.select(F.col(id_col).alias("id")), "id")
    if not ledger_live:
        # first batch, or a bootstrap attempt crashed before any
        # ledger row landed: (re)build in overwrite mode — idempotent
        kept = batch_df
        if dedup_threshold is not None:
            kept = _drop_within_batch(batch_df, dedup_threshold,
                                      id_col, pairs_kwargs, sigs=sigs)
        with cache_scope():
            minhash_index(kept, table_prefix, sigs=sigs,
                          **build_kwargs)
        # ONE job-atomic append of all three marks (r8 review): three
        # sequential marks left partial-ledger windows where a replay
        # would take the APPEND path over freshly-built tables —
        # appending a second copy of the bootstrap's sigs, or a
        # batch-keyed counts delta on top of the build's rows that
        # already cover this batch (double count)
        spark.createDataFrame(
            [(int(batch_id), t) for t in ("banded", "sigs", "counts")],
            "batch_id long, tbl string",
        ).coalesce(1).write.mode("append").saveAsTable(ledger)
        return True
    done = {r["tbl"] for r in spark.table(ledger)
            .filter(F.col("batch_id") == batch_id).collect()}
    if {"banded", "sigs", "counts"} <= done:
        return False
    if {"banded", "sigs"} <= done:
        # appends landed but the counts step never got its ledger row.
        # Without this branch counts would stay missing FOREVER on the
        # old skip path, and counts are decision-visible to every
        # cap-filtered join (r7 review). r8 review: do NOT re-derive
        # the kept set here — the batch's own banded rows (already
        # landed) can flip max_bucket_size cap decisions on replay,
        # so a re-derived delta could disagree with what banded holds.
        # Instead: if the delta append itself landed (batch_id rows
        # present), just mark; otherwise derive the missing delta
        # EXACTLY as banded-recount minus counted-so-far — under the
        # single-writer protocol the only unaccounted banded rows are
        # this batch's. O(corpus), but only on this rare crash path.
        _repair_counts_delta(spark, table_prefix, batch_id)
        mark("counts")
        return False
    kept = batch_df
    if dedup_threshold is not None:
        from remote_storage_adapter_spark.operators.dedup import (
            minhash_lsh_join_indexed,
        )

        with cache_scope():
            kept = _drop_within_batch(batch_df, dedup_threshold,
                                      id_col, pairs_kwargs, sigs=sigs)
            cross = minhash_lsh_join_indexed(
                spark, table_prefix, kept,
                threshold=dedup_threshold,
                sigs=(None if sigs is None else sigs.join(
                    kept.select(F.col(id_col).alias("id")), "id")),
                **join_kwargs)
            # the driver collect is deliberate HERE (unlike the r10
            # curate gate's lazy decision frame, which has exactly
            # one consumer): ``kept`` feeds THREE table appends, and
            # a lazy (or cached-but-evictable) decision frame could
            # recompute between them against an index the first
            # append already mutated — banded and sigs would commit
            # DIFFERENT kept sets. The materialized id list is the
            # cross-append consistency barrier; it holds matched ids
            # only (longs), bounded by the batch's own size since
            # id_l ∈ batch.
            cross_ids = spark.createDataFrame(
                [(int(r["id_l"]),) for r in
                 cross.filter(F.col("id_l") != F.col("id_r"))
                 .select("id_l").distinct().collect()],
                f"{id_col} long")
        kept = kept.join(cross_ids, id_col, "left_anti")
    with cache_scope():
        minhash_index_append(kept, table_prefix,
                             skip_tables=frozenset(done),
                             on_step=mark, sigs=sigs,
                             counts_batch_key=batch_id,
                             **append_kwargs)
    return True


def _repair_counts_delta(spark, table_prefix: str, batch_id: int) -> None:
    """Counts-only crash repair: append the EXACT missing delta for a
    batch whose banded/sigs appends committed but whose counts step
    lost its ledger row. If the delta itself landed (batch_id rows
    present), this is a no-op. Otherwise the missing contribution is
    derived as full-banded-recount MINUS counts-so-far — ground truth,
    immune to any nondeterminism of re-deriving the kept set against
    the batch's own landed rows.

    Counts semantics under duplicate banded residue (r8 review): the
    protocol's one unclosable window — a table append that commits but
    dies before its ledger mark — leaves a replayed batch's postings
    physically duplicated in ``banded`` (accepted; the pair joins are
    result-idempotent through dropDuplicates). This recount counts
    those PHYSICAL rows, so a double-crash (landed-unmarked banded,
    then a counts-window crash) folds the duplicates into the repaired
    delta under this batch's key. That is deliberate: counts exist to
    cap candidate-join fan-out, and physical rows are exactly what the
    join fans out over — a duplicated bucket genuinely costs double,
    and a cap that trips early on it errs conservative (fewer
    candidates, never more cost). ``minhash_counts_compact`` recounts
    the same physical ground truth, so repair and compaction agree;
    only the crash-free O(batch) delta path can momentarily
    under-count a duplicated bucket (it counts the frame it appends),
    and the next repair or compaction heals the drift. The batch_id
    label on absorbed duplicate rows has no consumer beyond the
    presence probe above."""
    from pyspark.sql import functions as F

    from remote_storage_adapter_spark.operators.dedup import (
        _recount_banded,
    )

    ctab = f"{table_prefix}_counts"
    if spark.table(ctab).filter(
            F.col("batch_id") == int(batch_id)).limit(1).count() > 0:
        return  # delta landed; only the ledger row was lost
    counted = (spark.table(ctab).groupBy("band", "bucket")
               .agg(F.sum("_n").alias("_c")))
    delta = (
        _recount_banded(spark, table_prefix)
        .join(counted, ["band", "bucket"], "left")
        .select(
            "band", "bucket",
            (F.col("_n") - F.coalesce(F.col("_c"), F.lit(0)))
            .cast("long").alias("_n"))
        .filter(F.col("_n") > 0)
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )
    delta.write.mode("append").saveAsTable(ctab)


def _drop_within_batch(batch_df: DataFrame, threshold: float,
                       id_col: str, join_kwargs: dict,
                       sigs: DataFrame | None = None) -> DataFrame:
    """Within-batch fuzzy dedup (smallest-id-wins): MinHash pairs over
    the batch alone, drop every ``id_b`` (the larger id of a pair).
    Drop ids are materialized eagerly (bounded by batch size) so the
    surviving frame doesn't lazily re-run the pair pipeline once the
    operator caches are released."""
    from remote_storage_adapter_spark.operators.dedup import (
        cache_scope as _cs,
        minhash_lsh_pairs,
    )

    spark = batch_df.sparkSession
    with _cs():
        pairs = minhash_lsh_pairs(batch_df, threshold=threshold,
                                  sigs=sigs, **join_kwargs)
        drop_ids = spark.createDataFrame(
            [(int(r["id_b"]),) for r in
             pairs.select("id_b").distinct().collect()],
            f"{id_col} long")
    return batch_df.join(drop_ids, id_col, "left_anti")


def stream_minhash_index_maintain(
    spark: SparkSession,
    landing_dir: str,
    table_prefix: str,
    checkpoint_dir: str,
    *,
    schema: StructType,
    dedup_threshold: float | None = None,
    available_now: bool = False,
    max_files_per_trigger: int = 64,
    **index_kwargs,
):
    """Maintain a MinHash index over a parquet landing directory of
    documents; returns the StreamingQuery. ``index_kwargs`` =
    num_hashes/bands/shingle_n/mode/id_col/text_col/parts/sig_parts,
    and must stay constant across the index's lifetime. With
    ``dedup_threshold`` set, each batch is fuzzy-deduplicated against
    the accumulated corpus (and within itself) BEFORE only the kept
    docs are indexed — streaming text dedup-on-ingest (see
    apply_index_batch). Query the maintained index any time with
    minhash_lsh_join_indexed."""
    raw = file_stream(spark, schema, landing_dir, fmt="parquet",
                      max_files_per_trigger=max_files_per_trigger)
    writer = (
        raw.writeStream
        .foreachBatch(lambda df, bid: apply_index_batch(
            df, bid, table_prefix, dedup_threshold=dedup_threshold,
            **index_kwargs))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_semantic_batch(batch_df: DataFrame, batch_id: int,
                         index_path: str, centroids, *,
                         threshold: float | None = None,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         **dedup_kwargs) -> bool:
    """Apply one embedding batch to a cell-partitioned semantic index
    (similarity.ivf_write_index layout) exactly once.

    With ``threshold`` set this is dedup-on-ingest: the batch's
    semantic drops against the accumulated index (+ within the batch)
    are computed first — operators.dedup.semantic_dedup_append, with
    ``dedup_kwargs`` forwarded (max_cell_size, pair_backend, ...) —
    and only KEPT rows are appended, so the index stays duplicate-
    free by construction. ``threshold=None`` appends everything (a
    plain streaming ivf_append).

    Replay semantics: the append runs through
    ``similarity.ivf_append_exactly_once`` — the staged-rename
    protocol shared with the ingest sink (batch-id-prefixed
    filenames, pre-publish sweep, ledger marker last), so a crash at
    ANY step replays into the matching recovery and a replayed batch
    can neither duplicate index rows nor leave a partial append
    visible (crash-injected in tests). A replay that finds a crashed
    attempt's partial files recomputes the SAME drop decisions: the
    partials carry batch ids, the drop rule is strict-smaller-id, and
    duplicate (id, vector) rows add no new pairs — then the sweep
    removes them before republish. Returns True if this call applied
    the batch.
    """
    from remote_storage_adapter_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_append,
    )
    from remote_storage_adapter_spark.operators.ingest import (
        batch_committed,
    )
    from remote_storage_adapter_spark.operators.similarity import (
        ivf_append_exactly_once,
    )

    spark = batch_df.sparkSession
    if batch_committed(spark, index_path, batch_id,
                       ledger_dir="_semantic_ledger"):
        return False
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    root = hpath(index_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    kept = batch_df
    if threshold is not None:
        with cache_scope():
            if fs.exists(root):
                drops = semantic_dedup_append(
                    spark, batch_df, index_path, centroids,
                    threshold=threshold, id_col=id_col,
                    vec_col=vec_col, **dedup_kwargs)
            else:  # bootstrap: no reference yet — within-batch only
                drops = semantic_dedup(
                    batch_df, centroids=centroids,
                    threshold=threshold, id_col=id_col,
                    vec_col=vec_col, **dedup_kwargs)
            # materialize the DROP IDS (small: bounded by batch size)
            # before cache_scope releases the pinned assignment the
            # drops plan reads — otherwise the append action below
            # would recompute the whole dedup pipeline uncached. The
            # batch rows themselves never route through the driver.
            drop_ids = spark.createDataFrame(
                [(int(r["id"]),) for r in drops.select("id").collect()],
                f"{id_col} long")
        kept = batch_df.join(drop_ids, id_col, "left_anti")
    return ivf_append_exactly_once(kept, index_path, batch_id,
                                   centroids, id_col=id_col,
                                   vec_col=vec_col)


def stream_semantic_index_maintain(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    checkpoint_dir: str,
    centroids,
    *,
    schema: StructType,
    threshold: float | None = None,
    available_now: bool = False,
    max_files_per_trigger: int = 64,
    **dedup_kwargs,
):
    """Maintain a cell-partitioned semantic-embedding index over a
    parquet landing directory; returns the StreamingQuery. Centroids
    are the FROZEN build-time quantizer (train once on a bootstrap
    corpus with similarity.ivf_train; mixing centroid sets corrupts
    the cell layout). With ``threshold`` set, each batch is
    semantically deduplicated against the accumulated index before it
    is appended — streaming SemDeDup-on-ingest. Query the maintained
    index any time with similarity.ivf_topk_indexed or feed it to
    operators.dedup.semantic_dedup_append."""
    raw = file_stream(spark, schema, landing_dir, fmt="parquet",
                      max_files_per_trigger=max_files_per_trigger)
    writer = (
        raw.writeStream
        .foreachBatch(lambda df, bid: apply_semantic_batch(
            df, bid, index_path, centroids, threshold=threshold,
            **dedup_kwargs))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_line_batch(batch_df: DataFrame, batch_id: int,
                     state_path: str, out_dir: str, *,
                     line_tokens: int = 10, id_col: str = "doc_id",
                     text_col: str = "text",
                     buckets: int = 16) -> bool:
    """Streaming LINE dedup-on-ingest (the sub-document twin of the
    fuzzy maintainers): apply one document batch exactly once, keeping
    each distinct line only at its globally FIRST arrival — C4 / Lee
    et al. duplicate-span removal as a continuous process. Two sinks
    per batch:

    - ``out_dir``: the per-doc dedup profile (operators.text
      ``assemble_line_dedup`` columns), docs bucketed on a hash of
      the id;
    - ``state_path``: the accumulated seen-line-hash set, one ``lh``
      row per distinct line ever kept, bucketed on ``lh`` — the only
      state, so it stays ~16 bytes per distinct line corpus-wide.

    A batch line occurrence survives iff it is the batch's first
    occurrence of its hash (min (id, line_idx) — order-free) AND the
    hash is absent from the committed state.

    Replay protocol (shared ``ingest.publish_staged_batch``
    machinery, ledger ``_line_ledger``; the STATE marker commits the
    whole batch and is written last):

    1. state marker present → the batch fully applied; skip.
    2. pre-sweep THIS batch's ``b<id>-*`` partials from the state
       partitions before anything reads them: a crashed attempt's
       partially-published state files hold exactly this batch's
       fresh hashes, and letting the anti-join see them would flip
       this replay's keep decisions (the one crash window where
       partial state is decision-VISIBLE, unlike the semantic
       maintainer whose strict-smaller-id rule absorbs partials).
    3. compute keep decisions against committed state only — they
       depend on nothing else, so every replay decides identically.
    4. publish the doc profiles into ``out_dir`` (staged rename,
       idempotent under re-publish: the sweep step removes a prior
       attempt's files first).
    5. publish the fresh hashes into ``state_path``; its marker,
       created last, commits the batch.

    A crash at any step replays into the matching recovery; committed
    state and committed outputs are only ever extended, never
    mutated. Returns True if this call applied the batch.
    """
    from pyspark.sql import functions as F

    from remote_storage_adapter_spark.operators.ingest import (
        batch_committed,
        publish_staged_batch,
    )
    from remote_storage_adapter_spark.operators.text import (
        assemble_line_dedup,
        doc_lines,
    )

    spark = batch_df.sparkSession
    if batch_committed(spark, state_path, batch_id,
                       ledger_dir="_line_ledger"):
        return False
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(state_path).getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.globStatus(
            hpath(f"{state_path}/b=*/b{batch_id:012d}-*")):
        fs.delete(st.getPath(), False)

    lines = doc_lines(batch_df, line_tokens=line_tokens,
                      id_col=id_col, text_col=text_col)
    firsts = lines.groupBy("lh").agg(
        F.min(F.struct(F.col("id"), F.col("line_idx"))).alias("first"))
    # data FILES, not partition dirs: a crashed first-batch publish
    # leaves empty b=* dirs after the pre-sweep, and reading a
    # dataless path throws — wedging every replay (r6 review #1)
    have_state = bool(fs.globStatus(hpath(f"{state_path}/b=*/*.parquet")))
    if have_state:
        seen = spark.read.parquet(state_path).select("lh")
        fresh = firsts.join(seen, "lh", "left_anti")
    else:
        fresh = firsts
    with cache_scope():
        fresh = _pin(fresh)
        tagged = lines.join(fresh, "lh", "left").withColumn(
            "keep",
            F.col("first").isNotNull()
            & (F.col("first.id") == F.col("id"))
            & (F.col("first.line_idx") == F.col("line_idx")),
        )
        out = assemble_line_dedup(tagged, id_col).withColumn(
            "b", F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                        F.lit(buckets)))
        staging_docs = f"{out_dir}/_staging/batch-{batch_id:012d}"
        # partition-aligned: one file per b directory per batch (the
        # curate writers' convention — unaligned partitionBy writes
        # one file per (task, b) pair and the table's listing grows
        # task-fold faster than its data)
        out.repartition(buckets, F.col("b")) \
            .write.mode("overwrite").partitionBy("b").parquet(staging_docs)
        publish_staged_batch(spark, out_dir, staging_docs, batch_id,
                             "b", ledger_dir="_line_ledger")
        staging_state = f"{state_path}/_staging/batch-{batch_id:012d}"
        (
            fresh.select("lh")
            .withColumn("b", F.pmod(F.col("lh"), F.lit(buckets)))
            .repartition(buckets, F.col("b"))  # one file per b/batch
            .write.mode("overwrite").partitionBy("b")
            .parquet(staging_state)
        )
        publish_staged_batch(spark, state_path, staging_state, batch_id,
                             "b", ledger_dir="_line_ledger")
    return True


def stream_line_dedup_maintain(
    spark: SparkSession,
    landing_dir: str,
    state_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    schema: StructType,
    line_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 16,
    available_now: bool = False,
    max_files_per_trigger: int = 64,
):
    """Continuous corpus-level line dedup over a parquet landing
    directory of documents; returns the StreamingQuery. Every landed
    document is emitted into ``out_dir`` with corpus-duplicated lines
    removed (first arrival wins, across and within batches), and the
    seen-line-hash state accumulates under ``state_path``. See
    :func:`apply_line_batch` for the exactly-once replay protocol.

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
        .foreachBatch(lambda df, bid: apply_line_batch(
            df, bid, state_path, out_dir, line_tokens=line_tokens,
            id_col=id_col, text_col=text_col, buckets=buckets))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_simhash_index_maintain(
    spark: SparkSession,
    landing_dir: str,
    index_table: str,
    checkpoint_dir: str,
    *,
    schema: StructType,
    max_hamming: int = 3,
    buckets: int = 64,
    table_buckets: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "xx",
    available_now: bool = False,
    max_files_per_trigger: int = 64,
):
    """Maintain a materialized SimHash index
    (operators.dedup.simhash_write_index's bucketed catalog table)
    over a parquet landing directory of documents; returns the
    StreamingQuery. Each batch bands exactly once via the
    catalog-ledger protocol (``simhash_append_exactly_once``, ledger
    table ``{index_table}_applied``) — the Hamming-family twin of the
    MinHash maintainer. Query the maintained index any time with
    ``simhash_join_indexed`` / ``simhash_lookup``; band parameters
    must stay constant across the index's lifetime.

    Replay ledgers key on the MICRO-BATCH ID, which is stable only
    under deterministic re-batching: a fresh-checkpoint reprocess must
    feed the same files in the same batch groups (``availableNow``
    with unchanged ``max_files_per_trigger`` over an unchanged landing
    directory — the tested shape). Restarting with a new checkpoint
    AFTER new files landed regroups batches under already-committed
    ids and silently skips them — resume the original checkpoint
    (normal operation) or start a fresh state/index path."""
    from remote_storage_adapter_spark.operators.dedup import (
        simhash_append_exactly_once,
    )

    raw = file_stream(spark, schema, landing_dir, fmt="parquet",
                      max_files_per_trigger=max_files_per_trigger)
    writer = (
        raw.writeStream
        .foreachBatch(lambda df, bid: simhash_append_exactly_once(
            df, index_table, bid, max_hamming=max_hamming,
            buckets=buckets, table_buckets=table_buckets,
            id_col=id_col, text_col=text_col, hash_mode=hash_mode))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
