"""Curation-on-ingest: the composed streaming pipeline — every landed
document batch is gated (exact-dedup against the seen corpus,
optional MinHash near-dup against the accumulated kept corpus, rule
quality score, optional perplexity against the maintained reference
LM), published with per-doc status/reason, and the KEPT documents are
folded into the downstream maintained artifacts (MinHash index, BM25
inverted index, reference LM counts) — each exactly once.

Replay architecture ("decide once, commit the decision"): the gate
decisions are computed ONLY against state committed by prior batches,
then published atomically WITH the batch (the status column of the
curated table). A replay that finds the publication marker does NOT
recompute decisions — it reads the committed statuses back — so the
fact that later steps (LM merge) have since moved the decision inputs
cannot flip a decision. Step ordering gives the decision-input
invariant for free: the LM merge for batch N runs strictly after
batch N's publication marker exists, so when a replay recomputes
decisions (marker absent) the LM state provably excludes batch N's own
contribution.

Per-step exactly-once machinery is the shared kit: staged renames +
batch-prefix sweeps (``ingest.publish_staged_batch``) for the curated
table and the seen-fingerprint state, the posting publish of
``streaming.retrieval.apply_text_index_batch``, and the in-state
ledger of ``streaming.lm.merge_lm_state``. (No decision-visible
pre-sweep is needed here, unlike the line-dedup maintainer — see the
step-ordering note in :func:`apply_curate_batch`.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from remote_storage_adapter_spark.streaming.source import file_stream


def apply_curate_batch(batch_df: DataFrame, batch_id: int, *,
                       out_dir: str, seen_state: str,
                       index_path: str | None = None,
                       lm_state: str | None = None,
                       minhash_prefix: str | None = None,
                       near_dup_threshold: float = 0.5,
                       minhash_kwargs: dict | None = None,
                       min_q_score: float = 0.5,
                       max_ppl: float | None = None,
                       model=None,
                       min_model_score: float | None = None,
                       model_dim: int = 256,
                       dsir=None,
                       dsir_bigrams: bool = True,
                       buckets: int = 16,
                       index_buckets: int = 64,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       adaptive: bool | None = None) -> bool:
    """Apply one document batch through the full curation pipeline
    exactly once. Returns True if this call did any work.

    ``adaptive``: AQE setting for this batch's jobs (restored after).
    Default ``None`` — inherit the session setting, touching no
    session conf (ADVICE r9: a default flip is a session-wide
    mutation that leaks to any concurrent query planned mid-batch).
    ``False`` is the measured micro-batch profile — a curation
    micro-batch runs ~dozens of SMALL jobs (gate joins, staged
    publishes, index appends) where AQE's per-stage replanning
    barriers cost more than they save (measured ~15% of batch wall
    at 50k-doc batches, A/B incl. the gate's cap-pruning joins), and
    the flow's skew guard is the explicit bucket cap, not AQE
    skew-join: the index joins shuffle only the bounded batch side
    against pruned/bucketed scans — :func:`stream_curate_maintain`
    (which owns its single-writer session by protocol) passes it by
    default. Pass ``True`` to force AQE on. NB any non-None value is
    a SESSION conf flip for the duration of the batch: this
    operator's exactly-once protocol already mandates a single
    writer, and the same single-writer session must not plan
    unrelated concurrent queries mid-batch (they would pick up the
    flipped setting) — multi-tenant drivers should keep ``None``.

    ``buckets`` fixes the doc-bucket fan-out of the curated table and
    the seen-fingerprint state; ``index_buckets`` independently fixes
    the BM25 index's TERM-bucket count and must match every probe
    (``bm25_search_indexed`` defaults to 64 — a mismatched probe
    silently prunes to wrong ``tb`` partitions; the index records its
    modulus in ``_stats`` and every append and probe verifies it).

    Steps (each independently markered/idempotent):

    1. decisions — IF the curated-table marker is absent: exact-dedup
       (md5 of normalized text vs committed seen-state, plus
       within-batch smallest-id), quality gate (``q_score ≥
       min_q_score``), optional LM gate (``ppl ≤ max_ppl`` against
       the committed reference LM; skipped when the state doesn't
       exist yet — the cold-start batch trains it). Publish ALL docs
       with (status, reason, q_score) into ``out_dir``; the marker
       commits the decisions. IF the marker exists: read the batch's
       own committed files back instead.
    2. publish the kept docs' fingerprints into ``seen_state``.
    3. fold kept docs into the accumulated MinHash index (optional;
       per-table catalog ledger of ``streaming.dedup.apply_index_batch``).
    4. append kept docs' postings to the BM25 index (optional).
    5. merge kept docs' counts into the reference LM (optional;
       in-state ledger — the final step, so its ledger doubles as the
       batch's completion record).

    ``minhash_prefix`` arms the NEAR-DUP gate: docs that survive all
    earlier gates are MinHash-joined within the batch (smallest-id
    wins) and against the accumulated index of previously-KEPT docs
    (``minhash_lsh_join_indexed`` — pruned scans, prior-committed
    state only), and ≥ ``near_dup_threshold`` matches get status
    ``near_dup`` — the curated corpus stays fuzzy-duplicate-free by
    construction, under the same decide-once protocol (statuses
    publish atomically with the batch; a replay reads them back, so
    the index having since absorbed this batch cannot flip a
    decision; by step ordering, decision recompute only ever sees an
    index whose prior batches are fully applied). The within-batch
    smallest-id rule is conservative: a doc whose only match was
    itself rejected by the gate still drops — similarity is not
    transitive, but this keeps decisions a pure function of the
    batch + committed state. ``minhash_kwargs`` (num_hashes, bands,
    shingle_n, mode, parts, sig_parts) must stay constant
    across the index's lifetime (the index records them in
    ``{prefix}_meta`` and probes/appends validate). CAP-REGIME NOTE
    (r9): the cross-index probe sends the WHOLE candidate set, not
    within-batch survivors — below ``max_bucket_size`` the decision
    set is identical (any extra match is an id the within-batch rule
    already dropped), but a batch-side bucket inflated by
    within-batch dups can trip the cap EARLIER than a survivor-only
    probe would, dropping that band's index candidates — i.e. the
    gate errs toward keeping (under-dedup), the cap's documented
    failure direction. A ≥cap-sized near-identical cluster inside
    one batch should have collapsed at the exact-dup gate first;
    pass ``max_bucket_size=None`` in ``minhash_kwargs`` for exact
    banding. Probe-only knobs in ``minhash_kwargs``
    (``max_bucket_size``, ``prune``, ``probe_push_limit``,
    ``id_push_limit``, ``caps_stats``) reach the gate's joins and
    are stripped from the index build/append (routing tested; r11
    ``prune=True`` forces the partitioned-pruned probe plan for
    deployments past the auto-prune floor).

    ``model=(weights, bias)`` with ``min_model_score`` arms the
    TRAINED-CLASSIFIER gate (`operators.classify.lr_score` — the
    CCNet-style filter): docs scoring below the threshold get status
    ``low_model``, evaluated after the rule-quality gate and before
    the LM gate. The score is a pure function of the batch text and
    the given frozen weights, so the decide-once protocol is
    untouched, and scores use the 9-dp-rounded deterministic path so
    a reprocess cannot flip a threshold-straddling decision. The
    ``model_score`` column is ALWAYS present in the curated table
    (NULL when the gate is unarmed — same convention as ``ppl``), so
    arming the gate mid-corpus does not change the parquet schema.
    ``model_dim`` must match the dimension the weights were trained
    at (`lr_score` validates the weight count).

    ``dsir=(lams, min_logw)`` arms the DSIR IMPORTANCE gate
    (`operators.dsir` — Xie et al. 2023 target-likeness): ``lams`` is
    the frozen per-bucket log-likelihood-ratio table (a dim-length
    float list, derived once from a fixed target corpus +
    raw-reference sample via `dsir_log_ratios`), and docs whose log
    importance weight falls below ``min_logw`` get status
    ``low_dsir``, evaluated after the classifier gate and before the
    LM gate. Like the model gate, the weight is a pure deterministic
    function of the batch text and the frozen table (9-dp
    contributions, 6-dp output), so decide-once replay is untouched;
    the ``dsir_logw`` column is always present (NULL when unarmed).
    """
    from remote_storage_adapter_spark.operators.dedup import (
        cache_scope,
        fingerprint,
    )
    from remote_storage_adapter_spark.operators.ingest import (
        batch_committed,
        publish_staged_batch,
    )
    from remote_storage_adapter_spark.operators.text import (
        lm_score_against,
        quality_features,
    )

    spark = batch_df.sparkSession
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(seen_state).getFileSystem(spark._jsc.hadoopConfiguration())
    # NB: unlike the line-dedup maintainer, no decision-visible
    # pre-sweep is needed — by step ordering, a partial seen-state
    # publish for THIS batch can only exist when the decisions marker
    # is already committed (decisions then read back, not recomputed),
    # and publish_staged_batch sweeps its own partials before renaming.
    did_work = False
    gate_sigs = None     # set on the fresh-compute path when the
    # near-dup gate signed the batch; the index fold reuses it
    _aqe_key = "spark.sql.adaptive.enabled"
    _aqe_prev = spark.conf.get(_aqe_key, "true")
    if adaptive is not None:
        spark.conf.set(_aqe_key, "true" if adaptive else "false")
    try:
        return _apply_curate_batch_body(
            spark, batch_df, batch_id, did_work, gate_sigs,
            out_dir=out_dir, seen_state=seen_state,
            index_path=index_path, lm_state=lm_state,
            minhash_prefix=minhash_prefix,
            near_dup_threshold=near_dup_threshold,
            minhash_kwargs=minhash_kwargs, min_q_score=min_q_score,
            max_ppl=max_ppl, model=model,
            min_model_score=min_model_score, model_dim=model_dim,
            dsir=dsir, dsir_bigrams=dsir_bigrams, buckets=buckets,
            index_buckets=index_buckets, id_col=id_col,
            text_col=text_col, fs=fs, hpath=hpath,
            cache_scope=cache_scope, fingerprint=fingerprint,
            batch_committed=batch_committed,
            publish_staged_batch=publish_staged_batch,
            lm_score_against=lm_score_against,
            quality_features=quality_features)
    finally:
        if adaptive is not None:
            spark.conf.set(_aqe_key, _aqe_prev)


def _apply_curate_batch_body(spark, batch_df, batch_id, did_work,
                             gate_sigs, *, out_dir, seen_state,
                             index_path, lm_state, minhash_prefix,
                             near_dup_threshold, minhash_kwargs,
                             min_q_score, max_ppl, model,
                             min_model_score, model_dim, dsir,
                             dsir_bigrams, buckets, index_buckets,
                             id_col, text_col, fs, hpath, cache_scope,
                             fingerprint, batch_committed,
                             publish_staged_batch, lm_score_against,
                             quality_features) -> bool:
    """The batch body, split out so :func:`apply_curate_batch` can
    scope the AQE toggle with one try/finally around it."""
    with cache_scope():
        if not batch_committed(spark, out_dir, batch_id,
                               ledger_dir="_curate_ledger"):
            did_work = True
            # NULL text normalizes to '' (the line_dedup convention);
            # a NULL fingerprint would silently drop the doc from the
            # inner join on fp — every landed doc must get a status
            clean = batch_df.select(
                id_col,
                F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
            scored = quality_features(clean).withColumn(
                "fp", fingerprint(F.col(text_col)))
            # within-batch smallest-id + committed-state anti-join
            firsts = scored.groupBy("fp").agg(
                F.min(F.col(id_col)).alias("_first_id"))
            scored = scored.join(firsts, "fp")
            have_seen = bool(fs.globStatus(hpath(f"{seen_state}/b=*")))
            if have_seen:
                seen = spark.read.parquet(seen_state).select(
                    F.col("fp").alias("_seen_fp"))
                scored = scored.join(
                    seen, scored["fp"] == seen["_seen_fp"], "left")
            else:
                scored = scored.withColumn("_seen_fp", F.lit(None))
            lm_live = (
                lm_state is not None and max_ppl is not None
                and bool(fs.globStatus(hpath(f"{lm_state}/*.parquet")))
            )
            if lm_live:
                ppl = lm_score_against(
                    clean, spark.read.parquet(lm_state),
                    id_col=id_col, text_col=text_col).select(
                    id_col, "ppl")
                scored = scored.join(ppl, id_col, "left")
            else:
                scored = scored.withColumn("ppl", F.lit(None)
                                           .cast("double"))
            model_live = model is not None and min_model_score is not None
            if model_live:
                from remote_storage_adapter_spark.operators.classify import (
                    lr_score,
                )

                mw, mb = model
                # rounded=True: the committed decision input must be
                # run-reproducible (float-sum order is not), or a
                # threshold-straddling doc could flip status between
                # a run and its fresh-checkpoint reprocess
                ms = lr_score(clean, mw, mb, dim=model_dim,
                              id_col=id_col, text_col=text_col,
                              out_col="model_score", rounded=True)
                scored = scored.join(ms, id_col, "left")
            else:
                # column always present (the ppl convention) — the
                # curated table's parquet schema must not change when
                # the gate is armed mid-corpus
                scored = scored.withColumn(
                    "model_score", F.lit(None).cast("double"))
            dsir_live = dsir is not None
            if dsir_live:
                from remote_storage_adapter_spark.operators.dsir import (
                    dsir_doc_weights,
                )

                lams, min_dsir_logw = dsir
                ratios = spark.createDataFrame(
                    [(i, float(v)) for i, v in enumerate(lams)],
                    "bucket int, lam double")
                wts = dsir_doc_weights(
                    clean, ratios, dim=len(lams), bigrams=dsir_bigrams,
                    id_col=id_col, text_col=text_col,
                    out_col="dsir_logw")
                scored = scored.join(wts, id_col, "left")
            else:
                scored = scored.withColumn(
                    "dsir_logw", F.lit(None).cast("double"))
            scored = scored.withColumn("_status0", (
                F.when(F.col("_seen_fp").isNotNull(), "dup_seen")
                .when(F.col(id_col) != F.col("_first_id"), "dup_batch")
                .when(F.col("q_score") < min_q_score, "low_quality")
                .when(
                    F.lit(model_live)
                    & (F.col("model_score") < min_model_score
                       if model_live else F.lit(False)),
                    "low_model")
                .when(
                    F.lit(dsir_live)
                    & (F.col("dsir_logw") < min_dsir_logw
                       if dsir_live else F.lit(False)),
                    "low_dsir")
                .when(
                    F.lit(lm_live) & (F.col("ppl") > max_ppl
                                      if max_ppl is not None
                                      else F.lit(False)),
                    "high_ppl")
                .otherwise("kept")
            ))
            if minhash_prefix is not None:
                nd, gate_sigs = _near_dup_ids(
                    spark, scored, minhash_prefix,
                    near_dup_threshold, minhash_kwargs or {},
                    id_col, text_col)
                scored = scored.join(nd, id_col, "left")
                status = F.when(
                    (F.col("_status0") == "kept")
                    & F.col("_nd").isNotNull(),
                    "near_dup").otherwise(F.col("_status0"))
            else:
                status = F.col("_status0")
            curated = scored.select(
                id_col, text_col, "q_score", "ppl", "model_score",
                "dsir_logw",
                status.alias("status"), "fp",
                F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                       F.lit(buckets)).alias("b"),
            )
            staging = f"{out_dir}/_staging/batch-{batch_id:012d}"
            # partition-aligned repartition: one file per b directory
            # per batch instead of one per (task, b) pair — unaligned,
            # five batches grew a multi-thousand-file table whose
            # listing every read-back and report paid for
            curated.repartition(buckets, F.col("b")) \
                .write.mode("overwrite").partitionBy("b") \
                .parquet(staging)
            publish_staged_batch(spark, out_dir, staging, batch_id,
                                 "b", ledger_dir="_curate_ledger")
        # committed decision read-back (fresh compute lands here too)
        files = [st.getPath().toString() for st in fs.globStatus(
            hpath(f"{out_dir}/b=*/b{batch_id:012d}-*"))]
        kept = (
            spark.read.parquet(*files)
            .filter(F.col("status") == "kept")
            if files else None
        )
        if kept is None:
            return did_work
        kept = kept.persist()
        try:
            did_work = _apply_downstream(
                spark, kept, batch_id, did_work,
                seen_state=seen_state, index_path=index_path,
                lm_state=lm_state, minhash_prefix=minhash_prefix,
                minhash_kwargs=minhash_kwargs, buckets=buckets,
                index_buckets=index_buckets,
                id_col=id_col, text_col=text_col,
                gate_sigs=gate_sigs)
        finally:
            kept.unpersist()
    return did_work


def _near_dup_ids(spark, scored, prefix: str, threshold: float,
                  mk: dict, id_col: str, text_col: str):
    """Decision-side MinHash near-dup set over the batch's surviving
    (``_status0 == 'kept'``) docs: within-batch pairs (smallest-id
    wins — ``id_b`` drops) plus a cross join against the accumulated
    index of previously-kept docs. The returned frame is LAZY and
    fully distributed (r10 — the r9 form collected the distinct ids
    to the driver and re-shipped them as a local frame: batch-bounded
    but dup-rate-unbounded, a pathological 100k-dup batch put 100k
    ids on the driver). Laziness is decision-safe HERE specifically:
    the frame has exactly ONE consumer — the left join feeding the
    curated staging write — so the decision joins evaluate exactly
    once, inside that write's job, which completes strictly before
    step 3's index fold mutates the decision inputs. ``id_l == id_r``
    cross matches are discarded: under the id-uniqueness contract
    they can only be a crashed attempt's own partially-applied copy,
    which keeps replay decisions identical even when the join sees
    partial state.

    Returns ``(nd_frame, sigs)`` — the gate's pinned candidate
    signatures ride back so the downstream index fold can reuse them
    (the ``minhash_signatures_for`` threading contract: signing is
    the dominant per-batch cost, and the kept set is a subset of the
    signed candidates). The pin lives until the caller's
    ``cache_scope`` exits."""
    from remote_storage_adapter_spark.operators.dedup import (
        _pin,
        minhash_lsh_join_indexed,
        minhash_lsh_pairs,
        minhash_signatures_for,
        table_live,
    )

    from remote_storage_adapter_spark.operators.dedup import (
        MH_INDEXED_ONLY_KWARGS,
        MH_LAYOUT_KWARGS,
    )

    # kwarg routing (ADVICE r10 / r10 verdict #5): the indexed cross
    # probe takes the full probe-knob set — including ``prune`` and
    # the push limits, so deployments past the auto-prune floor can
    # FORCE the partitioned-pruned plan from ``minhash_kwargs``
    # instead of depending on the size heuristic — while the
    # within-batch pair join (no index to prune) and the downstream
    # index fold (apply_index_batch routes its own) get the knobs
    # stripped that their signatures reject.
    indexed_kwargs = {k: v for k, v in mk.items()
                      if k not in MH_LAYOUT_KWARGS}
    # n_in is per-batch state the gate computes itself (the pinned
    # sigs count) — a static value smuggled via minhash_kwargs would
    # poison every later batch's plan decisions
    indexed_kwargs.pop("n_in", None)
    pairs_kwargs = {k: v for k, v in indexed_kwargs.items()
                    if k not in MH_INDEXED_ONLY_KWARGS}
    sig_kwargs = {k: v for k, v in mk.items()
                  if k in ("num_hashes", "shingle_n", "mode")}
    cand = scored.filter(F.col("_status0") == "kept") \
        .select(id_col, text_col)
    # sign the surviving docs ONCE — shingle+minhash is the dominant
    # per-batch cost and the within-batch pair join and the
    # cross-index join both consume the same signatures (r7 review;
    # signatures are per-doc pure, so id-filtering the signed frame
    # for the survivor join is sound)
    sigs = _pin(minhash_signatures_for(
        cand, id_col=id_col, text_col=text_col, **sig_kwargs))
    # the materialization count IS the probe's batch size (one sig
    # row per candidate doc) — passed as n_in so the indexed probe
    # skips its own per-probe count job (r13, VERDICT r12 next #6)
    n_sigs = sigs.count()
    # ONE action evaluates both joins (r9 — the gate's cost at sf1 is
    # dominated by per-job fixed costs, not data): the within-batch
    # pair join and the cross-index join are unioned and collected
    # together, so their stages run concurrently in a single job
    # instead of two sequential collect round-trips. The cross probe
    # uses the WHOLE candidate set, not within-batch survivors — any
    # extra match it finds is for an id the within-batch rule already
    # dropped, so below the bucket cap the nd set is IDENTICAL and
    # the surv/drop-frame intermediates (two more joins) disappear.
    # In the >max_bucket_size regime the semantics shift: the cross
    # probe's left-side bucket populations now include within-batch
    # dups, so a bucket can cross the cap that the survivor-only
    # probe kept, dropping its index candidates in that band — i.e.
    # the cap trips EARLIER and errs toward keeping (under-dedup),
    # the cap's documented failure direction (a ≥1000-near-identical
    # cluster inside one batch should have collapsed at the exact-dup
    # gate first; pass max_bucket_size=None in minhash_kwargs for
    # exact banding).
    pairs = minhash_lsh_pairs(cand, threshold=threshold,
                              id_col=id_col, text_col=text_col,
                              sigs=sigs, **pairs_kwargs)
    nd_frame = pairs.select(F.col("id_b").alias("_nd_id"))
    if table_live(spark, f"{prefix}_applied"):
        cross = minhash_lsh_join_indexed(
            spark, prefix, cand, threshold=threshold,
            id_col=id_col, text_col=text_col, sigs=sigs,
            n_in=n_sigs, **indexed_kwargs)
        nd_frame = nd_frame.unionByName(
            cross.filter(F.col("id_l") != F.col("id_r"))
            .select(F.col("id_l").alias("_nd_id")))
    nd = (nd_frame.distinct()
          .select(F.col("_nd_id").alias(id_col),
                  F.lit(True).alias("_nd")))
    return nd, sigs


def _apply_downstream(spark, kept, batch_id, did_work, *,
                      seen_state, index_path, lm_state,
                      minhash_prefix, minhash_kwargs,
                      buckets, index_buckets, id_col,
                      text_col, gate_sigs=None) -> bool:
    """Steps 2-4 of :func:`apply_curate_batch` over the committed
    kept set — split out so the caller's try/finally releases the
    cached frame even when a downstream publish throws.

    ``gate_sigs`` (fresh-compute path only): the near-dup gate's
    pinned signatures over the batch's candidates — a signed superset
    of ``kept``, reused by the MinHash index fold instead of
    re-signing (replay passes None and the fold re-signs, same
    result: signatures are per-doc pure)."""
    from remote_storage_adapter_spark.operators.ingest import (
        batch_committed,
        publish_staged_batch,
    )

    if not batch_committed(spark, seen_state, batch_id,
                           ledger_dir="_curate_ledger"):
        did_work = True
        staging = f"{seen_state}/_staging/batch-{batch_id:012d}"
        (
            kept.select("fp")
            .withColumn("b", F.pmod(F.xxhash64("fp"), F.lit(buckets)))
            .repartition(buckets, F.col("b"))  # one file per b/batch
            .write.mode("overwrite").partitionBy("b")
            .parquet(staging)
        )
        publish_staged_batch(spark, seen_state, staging, batch_id,
                             "b", ledger_dir="_curate_ledger")
    if minhash_prefix is not None:
        from remote_storage_adapter_spark.streaming.dedup import (
            apply_index_batch,
        )
        did_work |= apply_index_batch(
            kept.select(id_col, text_col), batch_id, minhash_prefix,
            id_col=id_col, text_col=text_col, sigs=gate_sigs,
            **(minhash_kwargs or {}))
    if index_path is not None:
        from remote_storage_adapter_spark.streaming.retrieval import (
            apply_text_index_batch,
        )
        did_work |= apply_text_index_batch(
            kept.select(id_col, text_col), batch_id, index_path,
            buckets=index_buckets, id_col=id_col, text_col=text_col)
    if lm_state is not None:
        from remote_storage_adapter_spark.streaming.lm import (
            merge_lm_state,
        )
        did_work |= merge_lm_state(
            kept.select(id_col, text_col), lm_state,
            id_col=id_col, text_col=text_col, batch_id=batch_id)
    return did_work


def stream_curate_maintain(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    seen_state: str,
    checkpoint_dir: str,
    *,
    schema: StructType,
    index_path: str | None = None,
    lm_state: str | None = None,
    minhash_prefix: str | None = None,
    near_dup_threshold: float = 0.5,
    minhash_kwargs: dict | None = None,
    min_q_score: float = 0.5,
    max_ppl: float | None = None,
    model=None,
    min_model_score: float | None = None,
    model_dim: int = 256,
    dsir=None,
    dsir_bigrams: bool = True,
    buckets: int = 16,
    index_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = False,
    max_files_per_trigger: int = 64,
    adaptive: bool | None = False,
):
    """Continuous curation over a parquet landing directory; returns
    the StreamingQuery. ``out_dir`` accumulates every landed doc with
    its (status, reason-encoded status, q_score, ppl); downstream
    consumers filter ``status = 'kept'``. When ``index_path`` /
    ``lm_state`` / ``minhash_prefix`` are given, kept docs also
    maintain the BM25 index, the reference LM, and the MinHash
    near-dup index (which arms the ``near_dup`` gate); ``model`` +
    ``min_model_score`` arm the trained-classifier gate
    (``low_model`` status) and ``dsir=(lams, min_logw)`` the DSIR
    importance gate (``low_dsir``) — the full ingest-to-artifacts
    pipeline in one exactly-once batch apply (see
    :func:`apply_curate_batch`).

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
        .foreachBatch(lambda df, bid: apply_curate_batch(
            df, bid, out_dir=out_dir, seen_state=seen_state,
            index_path=index_path, lm_state=lm_state,
            minhash_prefix=minhash_prefix,
            near_dup_threshold=near_dup_threshold,
            minhash_kwargs=minhash_kwargs,
            min_q_score=min_q_score, max_ppl=max_ppl,
            model=model, min_model_score=min_model_score,
            model_dim=model_dim, dsir=dsir, dsir_bigrams=dsir_bigrams,
            buckets=buckets, index_buckets=index_buckets,
            id_col=id_col, text_col=text_col, adaptive=adaptive))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def curation_report(spark, out_dir: str, *,
                    text_col: str = "text") -> DataFrame:
    """Status-level rollup of the curated table — the operational
    dashboard of :func:`stream_curate_maintain`: per status, document
    count, token mass, and mean quality/perplexity (NULL ppl rows —
    docs landed before the LM existed — average over the scored
    subset only, standard ``avg`` NULL semantics). One scan, one hash
    aggregate; read it any time, including mid-stream."""
    from remote_storage_adapter_spark.operators.text import token_count

    df = spark.read.parquet(out_dir)
    # a directory written ENTIRELY by pre-model-gate code has no
    # model_score column at all (mixed dirs are fine — missing
    # per-file columns read as NULL); emit a typed NULL so the report
    # schema is stable either way (r7 ADVICE)
    model_score = (F.col("model_score") if "model_score" in df.columns
                   else F.lit(None).cast("double"))
    dsir_logw = (F.col("dsir_logw") if "dsir_logw" in df.columns
                 else F.lit(None).cast("double"))
    return (
        df
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col(text_col))).cast("long")
            .alias("n_tokens"),
            F.round(F.avg("q_score"), 6).alias("mean_q_score"),
            F.round(F.avg("ppl"), 6).alias("mean_ppl"),
            # NULL-tolerant like ppl: rows from unarmed-gate batches
            # (model_score NULL) average over the scored subset only
            F.round(F.avg(model_score), 6).alias("mean_model_score"),
            F.round(F.avg(dsir_logw), 6).alias("mean_dsir_logw"),
        )
        .orderBy("status")
    )
