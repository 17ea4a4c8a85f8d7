"""Scale-posture tests: plan shapes (pushdown, bucketed shuffle
elimination), skew-proof assembly equivalence, compaction."""

from __future__ import annotations

import pyspark.sql.functions as F

from remote_storage_adapter_spark.operators.ingest import (
    to_metrics,
    write_metrics,
    write_metrics_table,
)
from remote_storage_adapter_spark.operators.skew import (
    assemble_series_salted,
    heavy_hitters,
)
from remote_storage_adapter_spark.plans.compact import (
    compact_table,
    partition_file_counts,
)
from remote_storage_adapter_spark.plans.read import assemble_series
from remote_storage_adapter_spark.schema import SAMPLES_SCHEMA

BASE_MS = 1704067200000


def _metrics_df(spark, n=200, names=("a", "b", "c")):
    rows = [
        (BASE_MS + i * 1000, names[i % len(names)],
         {"__name__": names[i % len(names)], "job": "x"}, float(i))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, SAMPLES_SCHEMA)
    return to_metrics(df, updated=F.timestamp_millis(F.col("ts_ms")))


def _spark_plan(df) -> str:
    # executedPlan: after EnsureRequirements, where Exchanges appear
    return df._jdf.queryExecution().executedPlan().toString()


def _live_exchanges(plan: str) -> int:
    """Count Exchange nodes that a fresh action would actually RUN:
    toString() embeds each InMemoryRelation's full child plan at every
    cache-scan site, so a naive plan.count("Exchange") charges a
    cached subtree's shuffles once per consumer — but those execute
    only at cache fill (r12: pinning the probe's touched-postings
    frame tripled the textual count while removing a real scan)."""
    def depth(ln: str) -> int:
        for i, ch in enumerate(ln):
            if ch not in " :+-*(0123456789)":
                return i
        return len(ln)

    n, skip_below = 0, None
    for ln in plan.splitlines():
        d = depth(ln)
        if skip_below is not None:
            if d > skip_below:
                continue
            skip_below = None
        if "InMemoryRelation" in ln:
            skip_below = d
        elif "Exchange" in ln:
            n += 1
    return n


def test_bucketed_table_groupby_has_no_exchange(spark):
    # managed table in the session's default warehouse; dropped below
    name = "metrics_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_metrics_table(_metrics_df(spark), name, buckets=8,
                        mode="overwrite")
    agg = spark.table(name).groupBy("name").agg(
        F.count(F.lit(1)).alias("n"), F.avg("val").alias("avg_val")
    )
    plan = _spark_plan(agg)
    assert "Exchange" not in plan  # bucketing replaces the shuffle
    got = {r["name"]: r["n"] for r in agg.collect()}
    assert got == {"a": 67, "b": 67, "c": 66}
    spark.sql(f"DROP TABLE {name}")


def test_unbucketed_same_groupby_does_exchange(spark):
    # control: the same agg over a non-bucketed source shuffles
    agg = _metrics_df(spark).groupBy("name").count()
    assert "Exchange" in _spark_plan(agg)


def test_write_metrics_table_fanout_requires_ts(spark):
    """ADVICE r9: fanout > 1 salts by the ts column — a frame
    without it must fail AT THE CALL SITE with a named-column error,
    not deep inside the write job."""
    import pytest

    name = "metrics_fanout_no_ts_test"
    df = _metrics_df(spark).drop("ts")
    with pytest.raises(ValueError, match="'ts' column"):
        write_metrics_table(df, name, buckets=8, mode="overwrite",
                            fanout=2)
    # fanout=1 never touches ts — the same frame writes fine
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_metrics_table(df.withColumn("ts", F.timestamp_millis(
        F.lit(BASE_MS))), name, buckets=8, mode="overwrite", fanout=2)
    assert spark.table(name).count() == 200
    spark.sql(f"DROP TABLE {name}")


def test_read_scan_prunes_columns(spark, tmp_path):
    path = str(tmp_path / "m")
    write_metrics(_metrics_df(spark), path)
    df = spark.read.parquet(path).filter(F.col("name") == "a") \
        .select("name", "ts", "val")
    plan = _spark_plan(df)
    # projection pruning reaches the scan; labels/tags never read
    assert "ReadSchema" in plan
    assert "labels" not in plan.split("ReadSchema")[1][:300]
    # name equality is pushed to parquet
    assert "PushedFilters: [" in plan and "name" in plan.split(
        "PushedFilters")[1][:80]


def test_write_fans_out_within_single_date(spark, tmp_path):
    """K1 fan-out (VERDICT r5 #1): a single-date micro-batch must NOT
    collapse onto one write task. With the (date, hash(name) % k) salt
    the date partition gets multiple files, each still individually
    sorted on (name, ts) for row-group skipping."""
    import os

    import pyarrow.parquet as pq

    path = str(tmp_path / "m")
    df = _metrics_df(spark, n=400,
                     names=tuple(f"m{i}" for i in range(16)))
    write_metrics(df, path)
    counts = partition_file_counts(path)
    assert len(counts) == 1  # one date in the batch
    (files,) = counts.values()
    assert files > 1  # the fan-out: >1 task wrote this date
    # per-file (name, ts) sort survives the fan-out
    part_dir = next(
        os.path.join(path, d) for d in os.listdir(path)
        if d.startswith("date="))
    total = 0
    for f in os.listdir(part_dir):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(part_dir, f),
                          columns=["name", "ts"])
        rows = list(zip(t.column("name").to_pylist(),
                        t.column("ts").to_pylist()))
        assert rows == sorted(rows)
        total += len(rows)
    assert total == 400  # nothing lost or duplicated by the fan-out


def test_salted_assembly_matches_plain(spark):
    flat = _metrics_df(spark).select(
        "name", "tags",
        F.unix_millis("ts").alias("t"), F.col("val").alias("value"),
    )
    plain = {(r["name"]): r["samples"]
             for r in assemble_series(flat).collect()}
    salted = {(r["name"]): r["samples"]
              for r in assemble_series_salted(flat, n_salts=7).collect()}
    assert plain == salted  # same series, same t-sorted samples


def test_heavy_hitters_finds_hot_key(spark):
    hot = _metrics_df(spark, n=300, names=("hot",))
    cold = _metrics_df(spark, n=30, names=("c1", "c2", "c3"))
    hh = heavy_hitters(hot.unionByName(cold), ["name"], min_count=100)
    assert [r["name"] for r in hh.collect()] == ["hot"]


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "m")
    # three small appends → ≥3 files in the single date partition
    for _ in range(3):
        write_metrics(_metrics_df(spark, n=50), path)
    before = partition_file_counts(path)
    assert all(n >= 3 for n in before.values())
    n_rows = spark.read.parquet(path).count()
    results = compact_table(spark, path)
    after = partition_file_counts(path)
    assert all(n == 1 for n in after.values())
    assert results  # every partition was eligible
    assert spark.read.parquet(path).count() == n_rows
    # idempotent: second run is a no-op (below min_files)
    assert compact_table(spark, path) == {}


def test_lww_dedup_plan_is_pure_hash_aggregate(spark):
    """VERDICT r1 'what's wrong' #1: LWW must be a combiner-friendly
    hash aggregate (partial+final), never a ranking window (no
    map-side partial agg, per-partition sort) nor a SortAggregate
    degradation (struct-typed max_by buffers)."""
    from remote_storage_adapter_spark.plans.rollup import lww_dedup, rollup

    deduped = lww_dedup(_metrics_df(spark))
    plan = _spark_plan(deduped)
    assert "HashAggregate" in plan and "partial_max" in plan
    assert "Window" not in plan
    assert "SortAggregate" not in plan
    assert "Sort [" not in plan
    # the whole tier job (LWW + re-bucket + labels re-derivation) too
    tier_plan = _spark_plan(rollup(_metrics_df(spark), 30,
                                   now_ms=BASE_MS + 10 ** 9))
    assert "HashAggregate" in tier_plan
    assert "Window" not in tier_plan and "SortAggregate" not in tier_plan


def test_merge_dedup_plan_is_pure_hash_aggregate(spark):
    """M2 first-input-wins dedup: scalar min_by aggregates, no window."""
    from remote_storage_adapter_spark.plans.read import merge_sorted_dedup

    flat = _metrics_df(spark).select(
        "name", "tags",
        F.unix_millis("ts").alias("t"),
        F.lit(1).cast("long").alias("cnt"),
        F.col("val").alias("value"),
    )
    merged = merge_sorted_dedup(flat, flat.withColumn("value",
                                                      F.col("value") + 1))
    plan = _spark_plan(merged)
    assert "HashAggregate" in plan and "min_by" in plan
    assert "Window" not in plan and "SortAggregate" not in plan
    # first input wins on every duplicate key
    vals = {r["t"]: r["value"] for r in merged.collect()}
    orig = {r["t"]: r["value"] for r in flat.collect()}
    assert vals == orig


def test_lsh_index_prunes_partitions(spark, sf_dir, tmp_path):
    """VERDICT r1 'what's wrong' #2: the materialized LSH index makes
    the probe filter a partition filter (pruned before the scan) and
    returns exactly the scan-based lsh_topk rows."""
    from remote_storage_adapter_spark.operators.similarity import (
        lsh_index,
        lsh_topk,
        lsh_topk_indexed,
    )
    from remote_storage_adapter_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in embs.filter(F.col("vec_id") == 0)
          .select("embedding").first()["embedding"]]
    path = str(tmp_path / "lsh_idx")
    lsh_index(embs, path, n_planes=8, dim=len(qv))

    for mp in (False, True):
        scan = lsh_topk(embs, qv, k=10, n_planes=8, multi_probe=mp)
        idx = lsh_topk_indexed(spark, path, qv, k=10, n_planes=8,
                               multi_probe=mp)
        assert [(r["id"], round(r["cosine"], 9)) for r in scan.collect()] \
            == [(r["id"], round(r["cosine"], 9)) for r in idx.collect()]
        plan = _spark_plan(idx)
        assert "PartitionFilters: [" in plan
        pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "bucket" in pf


def test_ivf_index_prunes_partitions(spark, sf_dir, tmp_path):
    """VERDICT r2 'missing' #2: the materialized IVF index makes the
    cell-probe filter a partition filter (pruned before the scan) and
    returns exactly the DataFrame-path ivf_topk rows."""
    import math

    from remote_storage_adapter_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        ivf_write_index,
    )
    from remote_storage_adapter_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in embs.filter(F.col("vec_id") == 0)
          .select("embedding").first()["embedding"]]
    seeds = (embs.orderBy(F.col("vec_id")).limit(16)
             .select("vec_id", "embedding").collect())
    centroids = [(r["vec_id"], [float(x) for x in r["embedding"]])
                 for r in seeds]
    qn = math.sqrt(sum(x * x for x in qv)) or 1.0

    def cos(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return sum(x * y for x, y in zip(v, qv)) / (n * qn)

    probe = [cid for cid, vec in sorted(
        centroids, key=lambda c: (-cos(c[1]), c[0]))[:4]]
    path = str(tmp_path / "ivf_idx")
    ivf_write_index(embs, path, centroids)

    scan = ivf_topk(ivf_index(embs, seed_rows=centroids), probe, qv, k=10)
    idx = ivf_topk_indexed(spark, path, probe, qv, k=10)
    assert [(r["id"], round(r["cosine"], 9)) for r in scan.collect()] \
        == [(r["id"], round(r["cosine"], 9)) for r in idx.collect()]
    plan = _spark_plan(idx)
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in pf


def test_index_append_equals_full_build(spark, sf_dir, tmp_path):
    """Incremental index maintenance: build on half the vectors,
    append the other half with the SAME frozen centroids/planes — any
    probe then returns exactly what a full rebuild returns, and the
    probe still partition-prunes."""
    from remote_storage_adapter_spark.operators.similarity import (
        ivf_append,
        ivf_topk_indexed,
        ivf_write_index,
        lsh_append,
        lsh_index,
        lsh_topk_indexed,
    )
    from remote_storage_adapter_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in embs.filter(F.col("vec_id") == 0)
          .select("embedding").first()["embedding"]]
    half_a = embs.filter(F.col("vec_id") % 2 == 0)
    half_b = embs.filter(F.col("vec_id") % 2 == 1)

    # LSH: build A, append B == build A+B
    p_inc = str(tmp_path / "lsh_inc")
    p_full = str(tmp_path / "lsh_full")
    lsh_index(half_a, p_inc, n_planes=8, dim=len(qv))
    lsh_append(half_b, p_inc, n_planes=8, dim=len(qv))
    lsh_index(embs, p_full, n_planes=8, dim=len(qv))
    inc = lsh_topk_indexed(spark, p_inc, qv, k=10, multi_probe=True)
    full = lsh_topk_indexed(spark, p_full, qv, k=10, multi_probe=True)
    assert [(r["id"], round(r["cosine"], 9)) for r in inc.collect()] \
        == [(r["id"], round(r["cosine"], 9)) for r in full.collect()]
    assert "PartitionFilters: [" in _spark_plan(inc)

    # IVF: same frozen centroids across build + append
    seeds = (embs.orderBy(F.col("vec_id")).limit(16)
             .select("vec_id", "embedding").collect())
    centroids = [(r["vec_id"], [float(x) for x in r["embedding"]])
                 for r in seeds]
    q_inc = str(tmp_path / "ivf_inc")
    q_full = str(tmp_path / "ivf_full")
    ivf_write_index(half_a, q_inc, centroids)
    ivf_append(half_b, q_inc, centroids)
    ivf_write_index(embs, q_full, centroids)
    cells = list(range(16))  # probe everything: strongest equality
    inc = ivf_topk_indexed(spark, q_inc, cells, qv, k=10)
    full = ivf_topk_indexed(spark, q_full, cells, qv, k=10)
    assert [(r["id"], round(r["cosine"], 9)) for r in inc.collect()] \
        == [(r["id"], round(r["cosine"], 9)) for r in full.collect()]


def test_new_pipeline_operator_plan_shapes(spark, sf_dir):
    """Scale-posture locks for the round-3 pipeline operators:
    tf-idf/BM25 broadcast the term-df side (never a sort-merge join of
    the term table) and stay hash-aggregate-only; chunking and
    hash-split/stratified-sample are pure maps — zero Exchange."""
    from remote_storage_adapter_spark.operators import text as TX
    from remote_storage_adapter_spark.operators.sampling import (
        hash_split,
        stratified_sample,
    )
    from remote_storage_adapter_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    tfidf = _spark_plan(TX.tfidf_top_terms(docs))
    assert "BroadcastHashJoin" in tfidf
    assert "SortMergeJoin" not in tfidf
    assert "SortAggregate" not in tfidf

    # huge-vocabulary guard (r7: the DEFAULT is now the size-guarded
    # auto mode — no hint, Catalyst's threshold + AQE decide; see
    # test_vocab_broadcast_size_guard for the full five-scorer lock):
    # with the threshold disabled the default degrades to a shuffle
    # instead of OOMing an executor, and only an explicit True still
    # forces the hint. Scores identical either way.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        no_bc = _spark_plan(TX.tfidf_top_terms(docs))
        assert ("SortMergeJoin" in no_bc
                or "ShuffledHashJoin" in no_bc)
        hinted = _spark_plan(TX.tfidf_top_terms(docs,
                                                broadcast_df=True))
        assert "BroadcastHashJoin" in hinted  # hint beats threshold
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    sample = docs.limit(50)
    a = sorted(map(tuple, TX.tfidf_top_terms(sample).collect()))
    b = sorted(map(tuple, TX.tfidf_top_terms(
        sample, broadcast_df=False).collect()))
    assert a == b

    assert "Exchange" not in _spark_plan(TX.chunk_documents(docs))
    assert "Exchange" not in _spark_plan(
        hash_split(docs, [("a", 0.5), ("b", 0.5)], key="doc_id"))
    assert "Exchange" not in _spark_plan(
        stratified_sample(docs, 0.5, strata_col="lang", key="doc_id"))


def test_read_query_scan_has_partition_filters(spark, tmp_path):
    from remote_storage_adapter_spark.plans.matchers import (
        LabelMatcher,
        PromQuery,
    )
    from remote_storage_adapter_spark.plans.read import read_query

    path = str(tmp_path / "m")
    write_metrics(_metrics_df(spark), path)
    q = PromQuery(BASE_MS, BASE_MS + 60_000,
                  (LabelMatcher("EQ", "__name__", "a"),))
    plan = _spark_plan(read_query(spark.read.parquet(path), q))
    # the matcher compiler's explicit date conjuncts reach the scan as
    # partition filters (the reference's MergeTree partition-key trick)
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "date" in pf and ">=" in pf and "<=" in pf


def test_sketch_plans_are_pure_hash_aggregates(spark):
    """The sketch family's scale contract: HLL and CMS collapse to
    chained hash aggregates (map-side combine, bounded output — no
    window, no sort anywhere); the histogram build is the same, with
    the ranking window confined to the post-sketch quantile step that
    runs over at most `bins` rows per group."""
    from remote_storage_adapter_spark.operators import sketch as SK
    import pyspark.sql.functions as F

    df = spark.range(1000).select(
        F.col("id").cast("string").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    for plan in (
        _spark_plan(SK.hll_distinct(df, "k")),
        _spark_plan(SK.cms_sketch(df, "k")),
        _spark_plan(SK.hist_sketch(df, "v", lo=0.0, hi=10.0, bins=16)),
    ):
        assert "HashAggregate" in plan
        assert "Window" not in plan
        assert "SortAggregate" not in plan
        assert "Sort [" not in plan


def test_keep_best_and_shard_pack_plan_shapes(spark):
    """keep_best resolves winners with a hash `max_by` + anti-join —
    no window, no sort; pack_shards' single window is PARTITIONED BY
    the bucket key (parallel bounded slices), never the global
    empty-partition window that funnels the corpus through one
    reducer."""
    from remote_storage_adapter_spark.operators import dedup as D
    from remote_storage_adapter_spark.operators.sampling import (
        pack_shards,
    )

    docs = spark.createDataFrame(
        [(1, "aa"), (2, "bbb")], "doc_id long, text string")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "id long, cluster long")
    plan = _spark_plan(D.resolve_duplicates_best(
        docs, clusters, score=F.length("text")))
    assert "Window" not in plan
    assert "SortAggregate" not in plan

    df = spark.range(100).select(
        F.col("id").alias("k"), F.lit(5).cast("long").alias("w"))
    plan2 = _spark_plan(
        pack_shards(df, budget=10, order_col="k", weight_col="w"))
    assert "Window" in plan2
    assert "windowspecdefinition(_bkt" in plan2


def test_shingle_pipeline_single_exchange(spark):
    """The posting-list pipeline's scale contract: every per-doc
    aggregate (distinct shingle sets, minhash mins) rides the shingle
    window's id partitioning — exactly ONE Exchange in the whole
    pipeline (the window's), no re-shuffle of the posting list for
    dedup/sizes/signatures."""
    from remote_storage_adapter_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x")], "doc_id long, text string")
    for df in (D.shingle_hash_sets(docs),
               D.minhash_signatures_oph(docs, num_hashes=8),
               D.minhash_signatures(docs, num_hashes=4)):
        assert _spark_plan(df).count("Exchange") == 1


def test_merged_profile_queries_keep_scale_shape(spark, sf_dir):
    """The round-4 registry merges must not regress plan shape:
    text_profile stays a ZERO-Exchange single-scan projection (three
    per-doc analyses fused into one pass over documents — at 100 TB
    this is one map stage, not three scans), and sketch_profile stays
    window-free (every sketch leg is a bounded hash aggregate)."""
    from remote_storage_adapter_spark.queries import (
        _text_profile_base,
        q_sketch_profile,
        q_text_profile,
    )

    tp = _spark_plan(_text_profile_base(spark, sf_dir))
    assert "Exchange" not in tp
    assert tp.count("Scan parquet") == 1

    # the registry row (r8) joins the classifier scoring leg on top:
    # one extra documents scan plus ONLY bounded-width exchanges —
    # the (doc, bucket) count agg, the per-doc dot agg, the profile
    # side of the doc_id join — and the dim-row weight table stays a
    # broadcast (never a shuffle join against the corpus)
    full = _spark_plan(q_text_profile(spark, sf_dir))
    assert full.count("Scan parquet") == 2
    assert "BroadcastExchange" in full
    n_shuffles = full.count("Exchange hashpartitioning")
    assert n_shuffles <= 4, f"{n_shuffles} shuffles:\n{full[:2000]}"

    # sketch legs may window only over SKETCH-sized frames (the hist
    # cumulative sum runs per event_type over ≤250 bins) — never a
    # global single-reducer window over raw data
    sp = _spark_plan(q_sketch_profile(spark, sf_dir))
    for spec in sp.split("windowspecdefinition(")[1:]:
        assert spec.startswith("event_type"), spec[:80]


def test_minhash_lsh_join_reuses_cached_signatures(spark):
    """The cross-corpus join's scale contract: both signature frames
    are materialized ONCE and every consumer — banding, both verify
    join-backs — reads the cache (InMemoryTableScan), never re-running
    the shingle/minhash pipeline (which would double the dominant
    cost). The candidate join itself rides compact (band, bucket)
    keys; document text appears in no join key."""
    from remote_storage_adapter_spark.operators import dedup as D

    left = spark.createDataFrame(
        [(i, f"common text body shared across docs v{i}")
         for i in range(6)], "doc_id long, text string")
    right = spark.createDataFrame(
        [(100 + i, f"common text body shared across docs w{i}")
         for i in range(4)], "doc_id long, text string")
    with D.cache_scope():
        out = D.minhash_lsh_join(left, right, num_hashes=16, bands=4,
                                 threshold=0.1)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # ls and rs each feed banding + a signature join-back: at
        # least 4 cache reads in the executed plan
        assert plan.count("InMemoryTableScan") >= 4, plan[:800]
        # no recompute: the shingle window pipeline (posexplode over
        # the split text) must not appear outside the cached subtrees
        assert "posexplode" not in plan.split("InMemoryTableScan")[0]
        out.count()


def test_minhash_indexed_join_matches_direct_and_skips_shuffle(spark):
    """The materialized MinHash index (minhash_index +
    minhash_lsh_join_indexed), r10 partitioned layout: (a) pair set
    and caps accounting are IDENTICAL to the direct
    minhash_lsh_join, capped and uncapped; (b) the PRUNED probe's
    plan reads the banded reference scan partition-pruned to the
    batch's pk set (PartitionFilters), pushes per-arm bucket/id
    In-filters into parquet (PushedFilters), broadcasts the batch
    side (no reference-side Exchange), and carries fewer Exchanges
    than the direct join; (c) appends extend the index to equality
    with a fresh direct join over the grown corpus."""
    from remote_storage_adapter_spark.operators import dedup as D

    ref = spark.createDataFrame(
        [(100 + i, f"common text body shared across docs w{i % 3}")
         for i in range(12)], "doc_id long, text string")
    inc = spark.createDataFrame(
        [(i, f"common text body shared across docs v{i % 2}")
         for i in range(8)], "doc_id long, text string")
    prefix = "mh_idx_test"
    D.reset_managed_tables(
        spark, *[f"{prefix}_{t}"
                 for t in ("banded", "sigs", "counts", "meta")])
    with D.cache_scope():
        D.minhash_index(ref, prefix, num_hashes=16, bands=4,
                        shingle_n=3)
        # cap=2 genuinely trips (buckets hold up to 12 ref rows), so
        # the over-cap regimes of BOTH cap implementations are
        # exercised: the caps_stats path (full counts-table
        # aggregation + anti-join) and the fast path (caps_stats
        # None: pruned-scan physical counts + bounded over-cap
        # collect + literal exclusion — review r10: previously
        # untested against the direct join)
        for cap in (1000, 2, None):
            st_d, st_i = {}, {}
            direct = D.minhash_lsh_join(
                inc, ref, num_hashes=16, bands=4, threshold=0.1,
                max_bucket_size=cap,
                caps_stats=st_d if cap else None)
            indexed = D.minhash_lsh_join_indexed(
                spark, prefix, inc, num_hashes=16, bands=4,
                threshold=0.1, max_bucket_size=cap,
                caps_stats=st_i if cap else None, prune=True)
            a = sorted((r.id_l, r.id_r, round(r.est_jaccard, 9))
                       for r in direct.collect())
            b = sorted((r.id_l, r.id_r, round(r.est_jaccard, 9))
                       for r in indexed.collect())
            assert a == b  # identical (cap=2 legitimately empties)
            assert (cap == 2) or a
            assert st_d == st_i  # same drop accounting, both sides
            fast = D.minhash_lsh_join_indexed(
                spark, prefix, inc, num_hashes=16, bands=4,
                threshold=0.1, max_bucket_size=cap, prune=True)
            c = sorted((r.id_l, r.id_r, round(r.est_jaccard, 9))
                       for r in fast.collect())
            assert a == c
            # r11: the physical-count cap path engages WITHOUT
            # pruning too (the unpruned counts-table aggregation was
            # the probe's largest term below the prune floor) — same
            # decisions with pruning forced off
            unpruned = D.minhash_lsh_join_indexed(
                spark, prefix, inc, num_hashes=16, bands=4,
                threshold=0.1, max_bucket_size=cap, prune=False)
            d = sorted((r.id_l, r.id_r, round(r.est_jaccard, 9))
                       for r in unpruned.collect())
            assert a == d
            # r13 (VERDICT r12 next #6): a caller-supplied exact
            # batch size replaces the per-probe count job — every
            # plan decision it feeds (broadcast threshold, push
            # path, left-cap skip) lands identically
            supplied = D.minhash_lsh_join_indexed(
                spark, prefix, inc, num_hashes=16, bands=4,
                threshold=0.1, max_bucket_size=cap, prune=True,
                n_in=inc.count())
            e = sorted((r.id_l, r.id_r, round(r.est_jaccard, 9))
                       for r in supplied.collect())
            assert a == e
        # r13 (ADVICE r12): counting an UNPERSISTED caller-supplied
        # sigs frame warns loudly (the count silently re-runs the
        # shingle+minhash pipeline); passing n_in skips the count
        # and stays quiet
        import warnings as _w

        import pytest

        # a FRESH frame (new exprIds, no cache-manager plan match):
        # the earlier probes pinned an identical-plan signed frame,
        # and signatures over `inc` itself would legitimately count
        # through that cache via substitution — quiet by design
        inc2 = spark.createDataFrame(
            [(i, f"common text body shared across docs v{i % 2}")
             for i in range(8)], "doc_id long, text string")
        raw_sigs = D.minhash_signatures_for(
            inc2, num_hashes=16, shingle_n=3, mode="oph")
        with pytest.warns(RuntimeWarning, match="UNPERSISTED"):
            D.minhash_lsh_join_indexed(
                spark, prefix, inc2, num_hashes=16, bands=4,
                threshold=0.1, sigs=raw_sigs, prune=True).collect()
        with _w.catch_warnings():
            _w.simplefilter("error", RuntimeWarning)
            # n_in skips the count: quiet even on the raw frame
            D.minhash_lsh_join_indexed(
                spark, prefix, inc2, num_hashes=16, bands=4,
                threshold=0.1, sigs=raw_sigs, n_in=8,
                prune=True).collect()
            # derived-from-pinned (the gate's shape): quiet — the
            # count reads the cache through plan substitution
            pinned = D._pin(D.minhash_signatures_for(
                inc2, num_hashes=16, shingle_n=3, mode="oph"))
            pinned.count()
            D.minhash_lsh_join_indexed(
                spark, prefix, inc2, num_hashes=16, bands=4,
                threshold=0.1, sigs=pinned.filter("id >= 0"),
                prune=True).collect()

        plan = _spark_plan(D.minhash_lsh_join_indexed(
            spark, prefix, inc, num_hashes=16, bands=4, threshold=0.1,
            prune=True))
        direct_plan = _spark_plan(D.minhash_lsh_join(
            inc, ref, num_hashes=16, bands=4, threshold=0.1))
        # banded scan pruned to the batch's pk partitions, sigs scan
        # to the candidates' ik partitions — never the whole corpus
        assert "PartitionFilters: [pk" in plan
        assert "PartitionFilters: [ik" in plan
        # per-arm literal pushes reach parquet (row-group/page skip)
        assert "PushedFilters: [In(bucket" in plan
        assert "PushedFilters: [In(id" in plan
        # batch side broadcasts: the reference never shuffles
        assert "BroadcastHashJoin" in plan
        assert _live_exchanges(plan) < _live_exchanges(direct_plan)

        # incremental append: index(ref) + append(more) must equal a
        # fresh index(ref ∪ more) — same pairs against the grown
        # corpus
        more = spark.createDataFrame(
            [(200 + i, f"common text body shared across docs v{i % 2}")
             for i in range(4)], "doc_id long, text string")
        D.minhash_index_append(more, prefix, num_hashes=16, bands=4,
                               shingle_n=3)
        grown = sorted(
            (r.id_l, r.id_r, round(r.est_jaccard, 9))
            for r in D.minhash_lsh_join_indexed(
                spark, prefix, inc, num_hashes=16, bands=4,
                threshold=0.1, prune=True).collect())
        direct_grown = sorted(
            (r.id_l, r.id_r, round(r.est_jaccard, 9))
            for r in D.minhash_lsh_join(
                inc, ref.unionByName(more), num_hashes=16, bands=4,
                threshold=0.1).collect())
        assert grown == direct_grown
        assert len(grown) > len(a)  # the appended docs matched too
    for t in ("banded", "sigs", "counts", "meta"):
        spark.sql(f"DROP TABLE {prefix}_{t}")


def test_semantic_dedup_assignment_is_map_side(spark):
    """SemDeDup scale shape: with driver-side centroids the cell
    assignment is a literal-folded map pass — ZERO Exchange — so the
    100 TB corpus is never shuffled to be assigned; the only
    exchanges in the full decision pipeline are the cell-blocked pair
    join's own repartition + aggregates."""
    from remote_storage_adapter_spark.operators import similarity as S

    rows = [(i, [float((i * 7 + d) % 5) for d in range(4)], 0)
            for i in range(64)]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    centroids = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    assigned = S.ivf_index(embs, seed_rows=centroids)
    assert "Exchange" not in _spark_plan(assigned)


def test_semantic_append_prunes_index_partitions(spark, tmp_path):
    """semantic_dedup_append reads ONLY the batch's touched cells from
    the reference index — the scan must carry a PartitionFilters
    entry on cell (a batch landing in p of k cells reads p/k of a
    100 TB index)."""
    from remote_storage_adapter_spark.operators import (
        dedup as D,
        similarity as S,
    )

    rows = [(i, [1.0 * (i % 4 == 0), 1.0 * (i % 4 == 1),
                 1.0 * (i % 4 == 2), 1.0 * (i % 4 == 3)], 0)
            for i in range(40)]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    _, cents = S.ivf_train(embs, n_cells=4, iters=1)
    path = str(tmp_path / "sem_index")
    S.ivf_write_index(embs, path, cents)
    # a batch aligned with ONE axis touches one cell
    batch = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0], 0)],
        "vec_id long, embedding array<float>, label int")
    assigned = S.ivf_index(batch, seed_rows=cents)
    touched = [int(r["cell"]) for r in
               assigned.select("cell").distinct().collect()]
    assert len(touched) == 1
    import pyspark.sql.functions as F

    ref_scan = (spark.read.parquet(path)
                .filter(F.col("cell").isin(touched)))
    plan = ref_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # and the decisions still compute end-to-end
    drops = D.semantic_dedup_append(spark, batch, path, cents,
                                    threshold=0.9)
    got = drops.collect()
    D.unpersist_pinned()
    assert len(got) == 1 and got[0]["id"] == 100


def test_index_compaction_merges_cells_preserves_probe(spark, tmp_path):
    """ivf_append adds one file per touched cell per batch; the
    generalized compactor (partition_col='cell') merges them back to
    one sorted file per cell and the probe result is unchanged —
    closing the maintenance loop the ivf_append docstring names
    (the date-only compactor silently no-opped on index layouts)."""
    from remote_storage_adapter_spark.operators import similarity as S
    from remote_storage_adapter_spark.plans.compact import (
        compact_table,
        partition_file_counts,
    )

    rows = [(i, [1.0 * (i % 2 == 0), 1.0 * (i % 2 == 1), 0.0, 0.0], 0)
            for i in range(16)]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    _, cents = S.ivf_train(embs, n_cells=2, iters=1)
    path = str(tmp_path / "ivf_idx")
    S.ivf_write_index(embs, path, cents)
    for start in (100, 200, 300):
        batch = spark.createDataFrame(
            [(start + i, [1.0 * (i % 2 == 0), 1.0 * (i % 2 == 1),
                          0.0, 0.0], 0) for i in range(4)],
            "vec_id long, embedding array<float>, label int")
        S.ivf_append(batch, path, cents)
    before = partition_file_counts(path, partition_col="cell")
    assert all(n >= 4 for n in before.values())  # build + 3 appends
    q = [1.0, 0.0, 0.0, 0.0]
    pre = [(r["id"], round(r["cosine"], 9)) for r in
           S.ivf_topk_indexed(spark, path, [0, 1], q, k=5).collect()]
    out = compact_table(spark, path, partition_col="cell",
                        sort_cols=("vec_id",))
    after = partition_file_counts(path, partition_col="cell")
    assert out and all(n == 1 for n in after.values())
    post = [(r["id"], round(r["cosine"], 9)) for r in
            S.ivf_topk_indexed(spark, path, [0, 1], q, k=5).collect()]
    assert post == pre


def test_knn_join_ivf_indexed_matches_probes_and_prunes(spark, sf_dir,
                                                        tmp_path):
    """Batched ANN retrieval against the IVF index: per query the
    result equals the single-query ivf_topk_indexed over the same
    probe cells (9-dp rounding), and the one scan the batch runs is
    partition-pruned to the union of probed cells."""
    import numpy as np

    from remote_storage_adapter_spark.operators import similarity as S
    from remote_storage_adapter_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    _, cents = S.ivf_train(embs, n_cells=16, iters=2)
    path = str(tmp_path / "ivf_knn")
    S.ivf_write_index(embs, path, cents)
    queries = embs.filter(F.col("vec_id") % 150 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"))
    out = S.knn_join_ivf_indexed(spark, path, cents, queries, k=5,
                                 n_probe=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["q_id"], []).append(
            (r["id"], round(r["cosine"], 9)))
    assert len(got) == queries.count()
    # per-query reference with the same deterministic probe selection
    cm = np.array([v for _, v in cents], dtype=np.float64)
    cn = np.linalg.norm(cm, axis=1)
    cn[cn == 0] = 1.0
    for r in queries.collect():
        qv = [float(x) for x in r["q_vec"]]
        q = np.array(qv)
        qn = np.linalg.norm(q) or 1.0
        sims = (q / qn) @ (cm / cn[:, None]).T
        ranked = sorted(range(len(cents)),
                        key=lambda c: (-sims[c], cents[c][0]))
        probe = [cents[c][0] for c in ranked[:4]]
        ref = [(x["id"], round(x["cosine"], 9)) for x in
               S.ivf_topk_indexed(spark, path, probe, qv, k=5)
               .collect()]
        assert ref == got[r["q_id"]], r["q_id"]
    # the batch scan prunes partitions
    cand = spark.read.parquet(path).filter(
        F.col("cell").isin([0, 1, 2, 3]))
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_int8_index_recall_size_and_pruning(spark, sf_dir, tmp_path):
    """Quantized IVF index: (a) probe recall@10 vs the float index on
    the same cells is >= 0.9 on the fixture corpus, (b) the at-rest
    int8 layout is at most half the float index's bytes (binary
    1-byte packing vs float arrays), (c) the probe scan partition-
    prunes on cell."""
    import os

    from remote_storage_adapter_spark.operators import similarity as S
    from remote_storage_adapter_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    _, cents = S.ivf_train(embs, n_cells=16, iters=2)
    fpath = str(tmp_path / "ivf_f")
    qpath = str(tmp_path / "ivf_q")
    S.ivf_write_index(embs, fpath, cents)
    S.ivf_write_index_int8(embs, qpath, cents)

    def tree_bytes(root):
        total = 0
        for d, _, fs in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f))
                         for f in fs if f.endswith(".parquet"))
        return total

    assert tree_bytes(qpath) <= 0.5 * tree_bytes(fpath)
    qv = [float(x) for x in
          embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    cells = list(range(16))  # all cells: isolates quantization effect
    exact = [r["id"] for r in
             S.ivf_topk_indexed(spark, fpath, cells, qv, k=10).collect()]
    quant = [r["id"] for r in
             S.ivf_topk_indexed_int8(spark, qpath, cells, qv,
                                     k=10).collect()]
    assert len(set(exact) & set(quant)) >= 9  # recall@10 >= 0.9
    plan = (spark.read.parquet(qpath)
            .filter(F.col("cell").isin([0, 1]))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan and "cell" in plan


def test_lsh_append_exactly_once_replay(spark, tmp_path, monkeypatch):
    """The LSH index's exactly-once append: a mid-publish crash
    replays into the bucket-partitioned layout exactly once (same
    shared protocol as the ingest sink and the IVF index)."""
    import pytest

    from remote_storage_adapter_spark.operators import (
        ingest as I,
        similarity as S,
    )

    schema = "vec_id long, embedding array<float>, label int"
    base = spark.createDataFrame(
        [(i, [float(i % 3 == d) for d in range(4)], 0)
         for i in range(12)], schema)
    path = str(tmp_path / "lsh_idx")
    S.lsh_index(base, path, n_planes=4, dim=4)
    batch = spark.createDataFrame(
        [(100 + i, [float((i + 1) % 3 == d) for d in range(4)], 0)
         for i in range(6)], schema)

    def ids():
        return sorted(r["vec_id"]
                      for r in spark.read.parquet(path).collect())

    real_publish = I._publish_file

    def dying_publish(fs, src, dst):
        real_publish(fs, src, dst)
        raise RuntimeError("injected crash mid-publish")

    monkeypatch.setattr(I, "_publish_file", dying_publish)
    with pytest.raises(RuntimeError):
        S.lsh_append_exactly_once(batch, path, 0, n_planes=4, dim=4)
    monkeypatch.setattr(I, "_publish_file", real_publish)
    assert S.lsh_append_exactly_once(batch, path, 0, n_planes=4, dim=4)
    assert ids() == sorted(list(range(12)) + list(range(100, 106)))
    # replay after commit: clean skip
    assert S.lsh_append_exactly_once(
        batch, path, 0, n_planes=4, dim=4) is False
    assert ids() == sorted(list(range(12)) + list(range(100, 106)))


def test_knn_join_int8_matches_single_query_probes(spark, sf_dir,
                                                   tmp_path):
    """Batched retrieval over the QUANTIZED index: per query the
    result equals the single-query ivf_topk_indexed_int8 over the
    same probe cells — the probe plan and the dequantize+rank math
    are shared, so this is an exact (not recall) lock."""
    import numpy as np

    from remote_storage_adapter_spark.operators import similarity as S
    from remote_storage_adapter_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    _, cents = S.ivf_train(embs, n_cells=16, iters=2)
    path = str(tmp_path / "ivf_q8")
    S.ivf_write_index_int8(embs, path, cents)
    queries = embs.filter(F.col("vec_id") % 150 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"))
    out = S.knn_join_ivf_indexed(spark, path, cents, queries, k=5,
                                 n_probe=4, quantized=True)
    got = {}
    for r in out.collect():
        got.setdefault(r["q_id"], []).append(
            (r["id"], round(r["cosine"], 9)))
    assert len(got) == queries.count()
    cm = np.array([v for _, v in cents], dtype=np.float64)
    cn = np.linalg.norm(cm, axis=1)
    cn[cn == 0] = 1.0
    for r in queries.collect():
        qv = [float(x) for x in r["q_vec"]]
        q = np.array(qv)
        qn = np.linalg.norm(q) or 1.0
        sims = (q / qn) @ (cm / cn[:, None]).T
        ranked = sorted(range(len(cents)),
                        key=lambda c: (-sims[c], cents[c][0]))
        probe = [cents[c][0] for c in ranked[:4]]
        ref = [(x["id"], round(x["cosine"], 9)) for x in
               S.ivf_topk_indexed_int8(spark, path, probe, qv, k=5)
               .collect()]
        assert ref == got[r["q_id"]], r["q_id"]


def test_text_index_prunes_partitions(spark, sf_dir, tmp_path):
    """The inverted-index probe (bm25_search_indexed) returns exactly
    the scan-mode bm25_search rows, reads only the query terms'
    bucket partitions (PartitionFilters on tb), and incremental
    append == full rebuild."""
    from remote_storage_adapter_spark.operators.text import (
        append_text_index,
        bm25_search,
        bm25_search_indexed,
        build_text_index,
    )
    from remote_storage_adapter_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    query = "hash join spark"
    path = str(tmp_path / "text_idx")
    build_text_index(docs, path, buckets=16)

    scan = bm25_search(docs, query, k=10)
    idx = bm25_search_indexed(spark, path, query, k=10, buckets=16)
    assert [tuple(r) for r in scan.collect()] == \
        [tuple(r) for r in idx.collect()]
    plan = _spark_plan(idx)
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "tb" in pf

    # build on half the docs, append the rest == full build
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    p_inc = str(tmp_path / "text_inc")
    build_text_index(half_a, p_inc, buckets=16)
    append_text_index(half_b, p_inc, buckets=16)
    inc = bm25_search_indexed(spark, p_inc, query, k=10, buckets=16)
    assert [tuple(r) for r in inc.collect()] == \
        [tuple(r) for r in idx.collect()]


def test_text_index_compaction_preserves_probe(spark, tmp_path):
    """append_text_index adds one file per touched bucket per batch;
    compact_table(partition_col='tb') merges them and the BM25 probe
    is unchanged — the maintenance loop the
    stream_text_index_maintain docstring names. The compactor's
    uncommitted-batch guard also sees the text index's _text_ledger
    (it globs any _*ledger* dir)."""
    from remote_storage_adapter_spark.operators.text import (
        append_text_index,
        bm25_search_indexed,
        build_text_index,
    )
    from remote_storage_adapter_spark.plans.compact import (
        compact_table,
        partition_file_counts,
    )
    from remote_storage_adapter_spark.streaming.retrieval import (
        apply_text_index_batch,
    )

    docs0 = spark.createDataFrame(
        [(1, "spark shuffle join"), (2, "hash scan row")],
        "doc_id long, text string")
    path = str(tmp_path / "tidx")
    build_text_index(docs0, path, buckets=2)
    for start in (10, 20, 30):
        batch = spark.createDataFrame(
            [(start + i, "spark shuffle merge sort") for i in range(2)],
            "doc_id long, text string")
        append_text_index(batch, path, buckets=2)
    pre = [tuple(r) for r in bm25_search_indexed(
        spark, path, "spark shuffle", k=10, buckets=2).collect()]
    before = partition_file_counts(path, partition_col="tb")
    out = compact_table(spark, path, partition_col="tb",
                        sort_cols=("term", "id"))
    after = partition_file_counts(path, partition_col="tb")
    assert out and max(after.values()) < max(before.values())
    assert all(n == 1 for n in after.values())
    post = [tuple(r) for r in bm25_search_indexed(
        spark, path, "spark shuffle", k=10, buckets=2).collect()]
    assert post == pre

    # exactly-once append, then compaction still fine (ledger commits)
    b5 = spark.createDataFrame([(50, "spark row filter")],
                               "doc_id long, text string")
    assert apply_text_index_batch(b5, 5, path, buckets=2)
    assert compact_table(spark, path, partition_col="tb",
                         sort_cols=("term", "id"))


def test_simhash_index_matches_pairs_and_prunes(spark, sf_dir):
    """The materialized SimHash index (sign-once contract for the
    Hamming family): probing the index with its own corpus reproduces
    simhash_pairs exactly; the Hamming join reads the reference as a
    BUCKETED scan (pre-distributed on the join keys — no
    reference-side re-shuffle per batch, the r7 fix) and a small
    batch partition-prunes the reference to its own banded ck set; a
    single-fingerprint lookup partition-prunes on ck; incremental
    append == full rebuild; the exactly-once append's ledger skips a
    replay."""
    from remote_storage_adapter_spark.operators import dedup as D
    from remote_storage_adapter_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    table = "sh_idx_scale_test"
    D.simhash_write_index(docs, table, max_hamming=3, buckets=8,
                          table_buckets=4)

    pairs = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_pairs(docs, max_hamming=3).collect())
    joined = D.simhash_join_indexed(spark, table, docs, max_hamming=3,
                                    buckets=8)
    via_idx = sorted(
        (r["id_in"], r["id_ref"], r["hamming"])
        for r in joined.filter(F.col("id_in") < F.col("id_ref"))
        .collect())
    assert via_idx == pairs
    D.unpersist_pinned()

    # plan lock, at-scale join shape: with broadcast off (a 100 TB
    # reference cannot broadcast) the reference side is a bucketed
    # scan and contributes NO Exchange — the only exchanges are the
    # batch side's shuffle and the pair dedup, strictly fewer than
    # the direct simhash_pairs self-join
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        jplan = _spark_plan(D.simhash_join_indexed(
            spark, table, docs, max_hamming=3, buckets=8))
        assert "SelectedBucketsCount" in jplan
        dplan = _spark_plan(D.simhash_pairs(docs, max_hamming=3))
        assert jplan.count("Exchange") < dplan.count("Exchange")
        # r8 lock: the batch side pays exactly ONE pre-join Exchange
        # (the repartition onto the table's (chunk, key) bucketing) —
        # the probe's only join-key shuffle
        assert jplan.count("Exchange hashpartitioning(chunk") == 1, \
            jplan[:2000]
        # r8 lock: the Hamming verify and the lowest-agreeing-chunk
        # emit live INSIDE the join condition, so the pair-dedup
        # exchange above the join shuffles only verified pairs, not
        # every banded candidate
        smj_cond = jplan.split("SortMergeJoin", 1)[1].split("\n", 1)[0]
        assert "bit_count" in smj_cond, smj_cond
        # small batch: the reference scan partition-prunes to the
        # batch's banded ck values
        small = docs.limit(2)
        splan = _spark_plan(D.simhash_join_indexed(
            spark, table, small, max_hamming=3, buckets=8))
        # several scans print PartitionFilters (the batch's parquet
        # scan prints an empty one) — the TABLE scan's must carry ck
        assert any("ck" in seg.split("]", 1)[0] for seg in
                   splan.split("PartitionFilters: [")[1:]), splan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    D.unpersist_pinned()

    # single-fingerprint serving probe prunes partitions
    some_fp = D.simhash_fingerprints(docs).first()["fp"]
    probe = D.simhash_lookup(spark, table, some_fp, max_hamming=3,
                             buckets=8)
    assert probe.filter(F.col("hamming") == 0).count() >= 1
    plan = _spark_plan(probe)
    assert "PartitionFilters: [" in plan
    assert "ck" in plan.split("PartitionFilters: [", 1)[1] \
        .split("]", 1)[0]

    # append == full build; exactly-once ledger skip
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    t_inc = "sh_idx_scale_test_inc"
    D.simhash_write_index(half_a, t_inc, max_hamming=3, buckets=8,
                          table_buckets=4)
    assert D.simhash_append_exactly_once(half_b, t_inc, 7,
                                         max_hamming=3, buckets=8,
                                         table_buckets=4)
    assert D.simhash_append_exactly_once(half_b, t_inc, 7,
                                         max_hamming=3, buckets=8,
                                         table_buckets=4) is False
    inc = sorted(
        (r["id_in"], r["id_ref"], r["hamming"])
        for r in D.simhash_join_indexed(spark, t_inc, docs,
                                        max_hamming=3, buckets=8)
        .filter(F.col("id_in") < F.col("id_ref")).collect())
    assert inc == pairs
    D.unpersist_pinned()
    D.reset_managed_tables(spark, table, f"{table}_applied",
                           t_inc, f"{t_inc}_applied")


def test_classifier_score_plan_shape(spark, sf_dir):
    """Scale-posture lock for the r7 classifier scoring path: the
    dim-row weight table joins as an explicit broadcast (never a
    sort-merge join), aggregates stay hash-based, and the only wide
    exchanges key on (doc, bucket)/(doc) — shuffle width is capped at
    dim rows per doc regardless of document length."""
    from remote_storage_adapter_spark.operators import classify as CL
    from remote_storage_adapter_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _spark_plan(CL.lr_score(docs, CL.frozen_weights(64), 0.0,
                                   dim=64))
    assert "BroadcastHashJoin" in plan     # the weight join
    assert "SortMergeJoin" not in plan
    assert "SortAggregate" not in plan
