"""Deduplication operators for training-data pipelines (task brief E1).

Five strategies over the ``documents`` table, each designed for the
100 TB path:

- exact: hash-groupBy on a normalized fingerprint — one shuffle on a
  short hash key (never on the full text).
- n-gram Jaccard: word-shingle inverted index → same-shingle pair
  join → Jaccard threshold. Quadratic in cluster size, so it is
  blocked (shingle as the join key IS the block) and intended for
  verification of candidate pairs, not the full corpus.
- MinHash + LSH: k independent min-hashes per doc (one pass,
  ``xxhash64`` with per-permutation seeds, all JVM-side), banded into
  b buckets → bucket join yields candidate pairs with tunable recall;
  the scale path (linear shuffle volume: k longs per doc).
- SimHash: 64-bit weighted-bit fingerprint; near-dups = fingerprints
  within a Hamming radius, found by pigeonhole banding.
- embedding cosine: near-dup by vector similarity within blocks.

All shuffles are on compact keys (longs / short strings); document
text never shuffles.
"""

from __future__ import annotations

import hashlib

import contextlib

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Frames persisted by this module's operators: signature/posting caches
# that must outlive the function call because the returned LAZY frame
# still reads them, so the operator itself cannot unpersist. Under the
# registry harness, spark.catalog.clearCache() (queries._prep) releases
# them per query; a library caller in a long-lived session instead
# calls unpersist_pinned() after materializing results, or wraps calls
# in cache_scope(). (dedup_clusters releases its per-round caches
# itself and only pins the final labels frame.)
_PINNED: list[DataFrame] = []


def _count_batch_sigs(ls: DataFrame, caller_supplied: bool) -> int:
    """Count the batch signature frame — WARNING loudly when a
    caller-supplied frame is about to be recomputed (ADVICE r12):
    the probe's contract says threaded ``sigs`` are persisted (the
    gate pins and materializes before passing), and on an
    unpersisted frame this count silently re-runs the shingle+
    minhash pipeline — the probe's dominant per-batch cost. The
    warning names the two outs: persist the frame, or pass ``n_in``
    and skip the count entirely. A frame DERIVED from a persisted
    one (the gate filters/joins its pinned sigs before threading —
    ``is_cached`` False but the scan reads the cache) is cheap and
    stays quiet: detected as an InMemoryRelation in the optimized
    plan, a plan-only check, no job."""
    if caller_supplied and not ls.is_cached:
        try:
            if "InMemoryRelation" in (ls._jdf.queryExecution()
                                      .optimizedPlan().toString()):
                return ls.count()
        except Exception:
            pass  # non-JVM frame: fall through to the warning
        import warnings

        warnings.warn(
            "minhash_lsh_join_indexed: counting an UNPERSISTED "
            "caller-supplied sigs frame — this re-runs the "
            "shingle+minhash pipeline once per consumer. Persist "
            "the frame before passing it (the curate gate pins + "
            "materializes), or pass n_in= to skip the count.",
            RuntimeWarning, stacklevel=3)
    return ls.count()


def _pin(df: DataFrame) -> DataFrame:
    """persist + register for later release via unpersist_pinned()."""
    _PINNED.append(df.persist())
    return df


def unpersist_pinned(blocking: bool = False) -> int:
    """Release every cache pinned by this module's operators; returns
    the number actually released (frames a blanket
    ``spark.catalog.clearCache()`` already freed are drained from the
    registry but not counted). Call AFTER materializing
    (collect/write) the frames those operators returned — unpersisting
    first just makes the action recompute the signature pipelines."""
    n = 0
    while _PINNED:
        df = _PINNED.pop()
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            n += 1
        df.unpersist(blocking)
    return n


@contextlib.contextmanager
def cache_scope(blocking: bool = False):
    """Scope the cache contract: frames pinned by operators called
    inside the ``with`` block are unpersisted on exit (only those —
    pins made before the scope are untouched). Materialize results
    before the block closes::

        with cache_scope():
            pairs = minhash_lsh_pairs(docs).collect()
    """
    mark = len(_PINNED)
    try:
        yield
    finally:
        while len(_PINNED) > mark:
            _PINNED.pop().unpersist(blocking)


def _cap_stats(counts: DataFrame, count_col: str, cap: int,
               dropped_key: str, max_key: str) -> dict:
    """Eager accounting for a scale-guard cut ('no silent caps'):
    postings removed = Σ count over over-cap keys, plus the observed
    max. One extra tiny action over the (already small) counts
    aggregate. Eager-by-design: a ``df.observe`` CollectMetrics node
    here would be duplicated into both branches of the downstream
    self-join, which breaks metric retrieval under AQE.
    """
    row = counts.agg(
        F.coalesce(
            F.sum(F.when(F.col(count_col) > cap, F.col(count_col))),
            F.lit(0),
        ).alias("dropped"),
        # coalesce: F.max over zero rows is NULL, and a None max_key
        # would make callers' numeric comparisons raise on an empty
        # corpus side (ADVICE r5)
        F.coalesce(F.max(F.col(count_col)), F.lit(0)).alias("mx"),
    ).first()
    return {dropped_key: row["dropped"], max_key: row["mx"]}


def normalized(text: Column) -> Column:
    """lowercase + collapse whitespace — the canonical text form."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def portable_hash64_py(s: str) -> int:
    """Driver-side twin of :func:`portable_hash64` — the identical
    md5→first-15-nibbles→int derivation, for plan-build-time uses
    (index bucket routing, sign matrices) that must stay in lock-step
    with the Column form and the oracle's ``_ph_sql``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def portable_hash64(c: Column) -> Column:
    """60-bit hash any engine can reproduce: the first 15 hex chars of
    md5, parsed base-16 (DuckDB twin: ``('0x'||substr(md5(x),1,15))::
    BIGINT``). 15 nibbles keep the value < 2**60, inside a signed long
    in every engine. ~3× the cost of xxhash64 — use it for
    oracle-verified variants; the fast paths keep xxhash64.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def fingerprint(text: Column) -> Column:
    """128-bit deterministic content fingerprint (md5 of normalized)."""
    return F.md5(normalized(text))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (fingerprint, n_copies, keeper id).

    groupBy on the 32-char fingerprint, not the text → shuffle rows are
    ~40 bytes regardless of document size.
    """
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.col(id_col)).alias("keep_id"),
        )
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text."""
    words = F.split(normalized(text), " ")
    k = F.size(words) - (n - 1)
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.array_join(F.slice(words, i + 1, n), " "),
            ),
        ).otherwise(F.array(normalized(text)))
    )


def shingle_rows(docs: DataFrame, *, n: int = 3,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, shingle-string ``s``) rows via posexplode + window ``lead``.

    Produces the same shingle strings as :func:`word_shingles` (with
    duplicates — callers must be duplicate-insensitive, e.g. min-agg)
    but entirely in whole-stage codegen: the higher-order-function path
    costs ~40 ms/doc interpreted, this one is ~100× cheaper and is the
    100 TB path. One shuffle (window partition by id).
    """
    norm = normalized(F.col(text_col))
    base = docs.select(F.col(id_col).alias("id"), norm.alias("nt"))
    words = base.select(
        "id", F.posexplode(F.split(F.col("nt"), " ")).alias("pos", "w")
    )
    win = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(win) for i in range(1, n)]
    # <n-word docs fall out of the SAME window pass: their pos-0 row
    # has a null tail lead, and concat_ws skips nulls, so the emitted
    # shingle is all their words joined — exactly the normalized text
    # (word_shingles fallback semantics). Keeping every doc on the
    # window path (no short-doc union) matters downstream: the output
    # stays hash-partitioned by id, so consumers' per-doc aggregates
    # (distinct sets, minhash mins) add NO exchange — a union node
    # would erase the partitioning and reshuffle the posting list.
    return (
        words.select(
            "id", "pos",
            *[p.alias(f"_w{i}") for i, p in enumerate(parts)])
        .filter(F.col(f"_w{n - 1}").isNotNull() | (F.col("pos") == 0))
        .select(
            "id",
            F.concat_ws(" ", *[F.col(f"_w{i}") for i in range(n)]).alias("s"),
        )
    )


def shingle_hash_rows(docs: DataFrame, *, n: int = 3,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, shingle-hash) rows: :func:`shingle_rows` + one xxhash64."""
    return shingle_rows(docs, n=n, id_col=id_col, text_col=text_col).select(
        "id", F.xxhash64(F.col("s")).alias("h")
    )


def shingle_hash_sets(docs: DataFrame, *, n: int = 3,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, DISTINCT shingle-hash array ``hs``) — one row per doc.

    Same shingle universe as :func:`shingle_hash_rows` +
    ``dropDuplicates``, but the distinct-set aggregation
    (``collect_set``) runs directly on the window output, which is
    already hash-partitioned by id — the aggregate adds NO exchange.
    Per-doc set sizes are then ``size(hs)`` — free — instead of
    another groupBy + join-back pass over the posting list.
    """
    return (
        shingle_rows(docs, n=n, id_col=id_col, text_col=text_col)
        .select("id", F.xxhash64(F.col("s")).alias("h"))
        .groupBy("id").agg(F.collect_set("h").alias("hs"))
    )


def ngram_jaccard_pairs(docs: DataFrame, *, n: int = 3,
                        threshold: float = 0.5,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        max_df: int | None = 500,
                        caps_stats: dict | None = None) -> DataFrame:
    """All pairs (a < b) with word-``n``-gram Jaccard ≥ threshold.

    Inverted-index join: explode shingles → self-join on the shingle →
    count common shingles per pair → |A∪B| = |A|+|B|-common. The
    shingle is the blocking key, so only docs sharing a shingle ever
    meet; the join carries (shingle-hash, id) pairs, not text.

    ``max_df`` caps the document frequency of indexed shingles: a
    shingle shared by f docs produces f² join rows, so one ubiquitous
    shingle (a boilerplate header at corpus scale) is a quadratic hot
    key. Shingles with df > max_df are dropped BEFORE the self-join —
    the standard stop-shingle cut (it also improves precision: such
    shingles carry no signal). Set sizes and common counts are both
    computed over the retained universe, so the reported value stays a
    true Jaccard (of the sub-max_df shingle sets). The cap is ON by
    default (the 100 TB-safe profile); pass ``max_df=None`` for exact
    full-universe semantics (the oracle-checked mode).

    Capped runs are never silent: pass ``caps_stats`` (a dict) and it
    is eagerly filled with ``dropped_shingle_rows`` (doc-shingle
    postings removed by the cut) and ``max_df_seen`` — zero drops ⇒
    the capped result IS the exact result.
    """
    # distinct per-doc shingle sets via the codegen explode/window
    # path, aggregated BEFORE the short-doc union so the collect_set
    # reuses the window's id partitioning — set size is then a free
    # size(hs), no groupBy + join-back pass over the posting list
    sets = shingle_hash_sets(docs, n=n, id_col=id_col, text_col=text_col)
    if max_df is not None:
        # the exploded posting list feeds the df counts AND the
        # post-cut re-aggregation; persist + eager materialization
        # stops parallel stages from racing an unpopulated cache and
        # recomputing the shingle pipeline per branch (measured 2-3x
        # on the cold path). Same release contract as the other
        # persists here (clearCache per registry query).
        posts = _pin(sets.select("id", F.explode("hs").alias("h")))
        posts.count()
        df_counts = posts.groupBy("h").agg(
            F.count(F.lit(1)).alias("_df")
        )
        if caps_stats is not None:
            caps_stats.update(_cap_stats(
                df_counts, "_df", max_df,
                "dropped_shingle_rows", "max_df_seen",
            ))
        # anti-join against the OVER-cap shingles: that set is tiny by
        # construction (it's what the cap exists to bound), so AQE
        # plans a broadcast anti-join — vs joining the huge under-cap
        # complement, which shuffles the whole posting list. Set sizes
        # are recomputed over the RETAINED universe (one id-keyed
        # aggregate), keeping the reported value a true Jaccard of the
        # sub-max_df shingle sets.
        kept = posts.join(
            df_counts.filter(F.col("_df") > max_df).select("h"),
            "h", "left_anti",
        )
        sets = kept.groupBy("id").agg(F.collect_set("h").alias("hs"))
    exploded = sets.select(
        "id", F.size("hs").alias("n_sh"), F.explode("hs").alias("shingle")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(docs: DataFrame, *, num_hashes: int = 64,
                       shingle_n: int = 3, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """k-permutation MinHash signature per document, one JVM-side pass.

    min-hash_i(doc) = min over shingle hashes h of xxhash64(h, seed=i).
    Each shingle string is hashed to a long ONCE; the k per-seed hashes
    then mix fixed-width longs — k× cheaper than re-hashing strings.
    All JVM-side; output is k longs per doc.

    The input is repartitioned for CPU parallelism (a small parquet
    file otherwise arrives as one partition and serializes the whole
    signature computation on one core), and the result is persisted by
    the LSH caller so downstream self-joins don't recompute it.
    """
    # (id, shingle-hash) rows via the codegen'd explode/window path,
    # then k min(xxhash64(h, seed)) hash-aggregates — whole-stage
    # codegen end-to-end with map-side partial aggregation; min() is
    # insensitive to duplicate shingles so no distinct pass is needed.
    exploded = shingle_hash_rows(
        docs, n=shingle_n, id_col=id_col, text_col=text_col
    )
    aggs = [
        F.min(F.xxhash64(F.col("h"), F.lit(seed))).alias(f"_h{seed}")
        for seed in range(num_hashes)
    ]
    return (
        exploded.groupBy("id")
        .agg(*aggs)
        .select(
            "id",
            F.array(*[F.col(f"_h{seed}") for seed in range(num_hashes)])
            .alias("sig"),
        )
    )


def minhash_signatures_oph(docs: DataFrame, *, num_hashes: int = 64,
                           shingle_n: int = 3, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """One-permutation MinHash (OPH): k-length signature from a SINGLE
    hash pass (vs :func:`minhash_signatures`'s k passes).

    Shingle hashes are split into k buckets by ``h mod k``; the
    signature is the per-bucket min (public technique: Li/Owen/Zhang,
    "One Permutation Hashing", NeurIPS 2012). Empty buckets (docs with
    ≲ k·ln k shingles) are densified by rotation: position i borrows
    the min of the nearest non-empty bucket ≥ i (cyclically), so a
    sparse doc's borrowed values are still shared-shingle mins and
    signature agreement keeps estimating Jaccard for short docs too.

    Cost per shingle: ONE xxhash64 + one pmod (the classic path pays k
    hash mixes) — this is the 100 TB signature path. Shuffles only
    (id, bucket, min-hash) longs; densification touches k-element
    arrays per doc, off the per-shingle hot path.

    Densification is a run-length EXPANSION over the sorted non-empty
    buckets (r15): with non-empty buckets f_1 < … < f_m holding mins
    v_1 … v_m, positions 0..f_1 take v_1, positions f_{j−1}+1..f_j
    take v_j, and the tail past f_m wraps to v_1 — exactly
    "nearest non-empty bucket ≥ i, cyclic", the rotation rule above.
    The r14 form evaluated, per position i, an interpreted
    ``array_min(filter(filled, b >= i))`` — O(k·m) lambda calls plus a
    filtered-array allocation per position per doc (~4k interpreted
    ops/doc at k=64); the expansion is O(m) ``zip_with`` +
    ``array_repeat`` + one ``flatten``. Signatures are bit-identical
    to the rotation rule (locked by
    ``test_oph_run_length_densification_matches_rotation_rule``);
    measured ~1.3× on the signature build at sf0.1.
    """
    k = num_hashes
    exploded = shingle_hash_rows(
        docs, n=shingle_n, id_col=id_col, text_col=text_col
    )
    bucketed = (
        exploded.groupBy("id", F.pmod(F.col("h"), F.lit(k)).alias("b"))
        .agg(F.min("h").alias("mh"))
    )
    per_doc = bucketed.groupBy("id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("b").cast("int").alias("b"),
                                    F.col("mh")))
        ).alias("e")
    )
    e = F.col("e")
    bs = F.transform(e, lambda x: x.getField("b"))
    vs = F.transform(e, lambda x: x.getField("mh"))
    # run lengths: bucket f_j covers positions (f_{j-1}, f_j], with
    # f_0 = -1 so the first run also covers 0..f_1
    prev = F.concat(F.array(F.lit(-1)), F.slice(bs, 1, F.size(bs) - 1))
    reps_ = F.zip_with(bs, prev, lambda b, p: b - p)
    segs = F.zip_with(vs, reps_, lambda v, r: F.array_repeat(v, r))
    # positions after the last non-empty bucket wrap to the first
    tail = F.array_repeat(
        F.element_at(vs, 1),
        F.lit(k - 1) - F.element_at(bs, -1))
    arr = F.concat(F.flatten(segs), tail)
    return per_doc.select("id", arr.alias("sig"))


def minhash_signatures_portable(docs: DataFrame, *, num_hashes: int = 64,
                                shingle_n: int = 3, id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """Engine-portable k-min signatures: position i is the min over
    shingles s of ``portable_hash64(s || '#' || i)``.

    Pays k md5s per shingle occurrence (vs one xxhash64 pass for OPH),
    so this is the ORACLE-VERIFIED variant, not the throughput path —
    it exists so the LSH result set is bit-reproducible in any engine
    with md5 (the DuckDB correctness twin computes the identical
    signatures in SQL). Same banding/join topology as the fast path.
    """
    rows = shingle_rows(docs, n=shingle_n, id_col=id_col, text_col=text_col)
    aggs = [
        F.min(
            portable_hash64(F.concat(F.col("s"), F.lit(f"#{i}")))
        ).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    return (
        rows.groupBy("id")
        .agg(*aggs)
        .select(
            "id",
            F.array(*[F.col(f"_h{i}") for i in range(num_hashes)])
            .alias("sig"),
        )
    )


def _band_frame(sigs: DataFrame, *, bands: int, rows_per_band: int,
                mode: str) -> DataFrame:
    """(id, band, bucket) banding of a signature frame.

    The banded shuffle carries only ~24 bytes/row regardless of
    signature width; signatures are re-joined onto the (much smaller)
    candidate set afterwards. Fast paths compress the band slice to an
    xxhash64 bucket; portable mode renders the slice as a string so
    any engine forms the identical key (hash-collision-free by
    construction)."""
    if mode == "portable":
        def band_key(b):
            return F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("sig"), b * rows_per_band + 1,
                            rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
    else:
        def band_key(b):
            return F.xxhash64(
                F.slice(F.col("sig"), b * rows_per_band + 1,
                        rows_per_band).cast("string"),
            )
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key(b).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


_SIG_FNS = {
    "oph": minhash_signatures_oph,
    "kmin": minhash_signatures,
    "portable": minhash_signatures_portable,
}


def minhash_signatures_for(docs: DataFrame, *, num_hashes: int = 64,
                           shingle_n: int = 3, mode: str = "oph",
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """(id, sig) signatures in the given ``mode`` — the shared entry
    point for callers that want to sign a frame ONCE and thread the
    result through several consumers via their ``sigs=`` parameter
    (pair join, indexed join, index append) instead of paying the
    dominant shingle+minhash cost per call. Caller owns persistence
    (``_pin`` + materialize) and the subset contract: a ``sigs``
    frame passed to a consumer must cover exactly the rows of the
    docs frame it accompanies (signatures are per-doc pure, so
    id-filtering a signed superset is sound)."""
    return _SIG_FNS[mode](docs, num_hashes=num_hashes,
                          shingle_n=shingle_n, id_col=id_col,
                          text_col=text_col)


def minhash_lsh_pairs(docs: DataFrame, *, num_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 3,
                      threshold: float = 0.5,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      mode: str = "oph",
                      max_bucket_size: int | None = 1000,
                      caps_stats: dict | None = None,
                      sigs: DataFrame | None = None) -> DataFrame:
    """LSH candidate pairs + estimated Jaccard from signature agreement.

    Signatures are banded (``bands`` bands of k/bands rows); docs
    colliding in ≥1 band become candidates (join key = (band,
    band-hash) — compact and uniformly distributed, so the shuffle is
    skew-free). Estimated Jaccard = fraction of agreeing hash
    positions; pairs below ``threshold`` are dropped.

    ``mode``: "oph" (default — one-pass signatures, the scale path),
    "kmin" (classic k independent min-hashes), or "portable"
    (md5-derived signatures + exact band keys, bit-reproducible in any
    engine — the oracle-checked variant).

    ``max_bucket_size`` bounds the quadratic hot-bucket risk: a
    boilerplate-heavy corpus puts f near-identical docs in one
    (band, bucket), yielding f² candidate rows. Buckets larger than
    the cap are dropped before the pair join — a heavily-duplicated
    group still collides in its OTHER bands unless it exceeds the cap
    in all of them (at which point exact dedup should have collapsed
    it first). The cap is ON by default (the 100 TB-safe profile);
    pass ``max_bucket_size=None`` for exact banding (the
    oracle-checked mode).

    Capped runs are never silent: pass ``caps_stats`` (a dict) and it
    is eagerly filled with ``dropped_banded_rows`` ((id, band)
    postings removed by the cap) and ``max_bucket_seen`` — zero drops
    ⇒ the capped result IS the exact result.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands
    if sigs is None:
        # persist: computed once, reused by banding + both join-backs
        # within the SAME action. Caller contract for long-lived
        # sessions: the cache stays pinned after the action until
        # spark.catalog.clearCache() (the registry harness does this
        # per query via _prep) or an explicit unpersist. A caller who
        # already signed these docs (minhash_signatures_for) passes
        # sigs= and owns persistence instead.
        sigs = _pin(_SIG_FNS[mode](
            docs, num_hashes=num_hashes, shingle_n=shingle_n,
            id_col=id_col, text_col=text_col,
        ))
    if max_bucket_size is not None:
        # eager materialization: the cap adds a bucket-count branch
        # that otherwise races the banding branch against an
        # unpopulated cache, recomputing the signature pipeline twice
        # (measured ~2x cold). One cheap extra pass buys determinism.
        sigs.count()
    banded = _band_frame(sigs, bands=bands, rows_per_band=rows_per_band,
                         mode=mode)
    if max_bucket_size is not None:
        bucket_counts = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_n")
        )
        if caps_stats is not None:
            caps_stats.update(_cap_stats(
                bucket_counts, "_n", max_bucket_size,
                "dropped_banded_rows", "max_bucket_seen",
            ))
        # anti-join against the OVER-cap buckets (tiny by construction
        # → AQE broadcast) instead of an equi-join with the huge
        # under-cap complement
        banded = (
            banded.join(
                bucket_counts.filter(F.col("_n") > max_bucket_size)
                .select("band", "bucket"),
                ["band", "bucket"], "left_anti",
            )
        )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    paired = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"),
                       lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (
        paired.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_join(left: DataFrame, right: DataFrame, *,
                     num_hashes: int = 64, bands: int = 16,
                     shingle_n: int = 3, threshold: float = 0.5,
                     id_col: str = "doc_id", text_col: str = "text",
                     mode: str = "oph",
                     max_bucket_size: int | None = 1000,
                     caps_stats: dict | None = None) -> DataFrame:
    """Cross-corpus fuzzy join: near-duplicate (left, right) doc pairs
    across two corpora — dedup-incoming-against-reference, or
    decontaminate a training set against an eval corpus at the
    whole-document level (the n-gram `contamination` operator covers
    passage overlap; this catches paraphrase-level near-dups).

    Same banded-LSH topology as :func:`minhash_lsh_pairs`, but the
    candidate join runs LEFT-bands × RIGHT-bands (no intra-corpus
    pairs, no ``id <`` dedup trick needed — the sides are distinct
    sets). Hot-bucket caps apply per side: a bucket over the cap in
    EITHER corpus is dropped from that side before the join, bounding
    the quadratic blowup exactly as in the self-join case. At 100 TB
    the reference side's signatures/banding can be materialized once
    and reused across incoming batches — the banded frame is the
    index.

    Capped runs are never silent: pass ``caps_stats`` (a dict) and it
    is eagerly filled with ``dropped_banded_rows_{left,right}`` and
    ``max_bucket_seen_{left,right}`` — zero drops on both sides ⇒ the
    capped result IS the exact result.

    Caller contract (same as :func:`minhash_lsh_pairs`): both
    signature frames are persisted — computed once, read by banding +
    the join-backs — and stay pinned after the action until
    ``spark.catalog.clearCache()`` (the registry harness does this per
    query via ``_prep``) or an explicit unpersist.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands
    sig_fn = _SIG_FNS[mode]
    ls = _pin(sig_fn(left, num_hashes=num_hashes, shingle_n=shingle_n,
                     id_col=id_col, text_col=text_col))
    rs = _pin(sig_fn(right, num_hashes=num_hashes, shingle_n=shingle_n,
                     id_col=id_col, text_col=text_col))
    # eager materialization in BOTH profiles: banding and the two
    # signature join-backs all read ls/rs, and in the uncapped path
    # those branches otherwise race an unpopulated cache and recompute
    # the signature pipeline twice (the same ~2x cold cost
    # minhash_lsh_pairs' cap branch calls out). ONE union action
    # (r14): scanning an InMemoryRelation populates its cache
    # whatever the parent plan, so the union materializes BOTH pins
    # with the two signature pipelines scheduled concurrently in one
    # job — sequential counts left the cluster idle on the other side
    # and paid the driver round-trip twice.
    ls.unionByName(rs).count()
    lb = _band_frame(ls, bands=bands, rows_per_band=rows_per_band,
                     mode=mode)
    rb = _band_frame(rs, bands=bands, rows_per_band=rows_per_band,
                     mode=mode)
    if max_bucket_size is not None:
        for side, frame in (("left", lb), ("right", rb)):
            counts = frame.groupBy("band", "bucket").agg(
                F.count(F.lit(1)).alias("_n")
            )
            if caps_stats is not None:
                caps_stats.update(_cap_stats(
                    counts, "_n", max_bucket_size,
                    f"dropped_banded_rows_{side}",
                    f"max_bucket_seen_{side}",
                ))
            pruned = frame.join(
                counts.filter(F.col("_n") > max_bucket_size)
                .select("band", "bucket"),
                ["band", "bucket"], "left_anti",
            )
            if side == "left":
                lb = pruned
            else:
                rb = pruned
    cand = (
        lb.alias("a").join(
            rb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.id").alias("id_l"), F.col("b.id").alias("id_r"))
        .dropDuplicates(["id_l", "id_r"])
    )
    sig_l = ls.select(F.col("id").alias("id_l"), F.col("sig").alias("sig_l"))
    sig_r = rs.select(F.col("id").alias("id_r"), F.col("sig").alias("sig_r"))
    paired = cand.join(sig_l, "id_l").join(sig_r, "id_r")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_l"), F.col("sig_r"),
                       lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (
        paired.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_l", "id_r", "est_jaccard")
    )


_MH_META_SCHEMA = ("parts int, sig_parts int, num_hashes int, "
                   "bands int, shingle_n int, mode string")

#: Canonical kwarg routing for callers that fan one ``minhash_kwargs``
#: dict out to builds, appends, and probes (streaming.dedup.
#: apply_index_batch, streaming.curate's near-dup gate). Probe-only
#: knobs raise TypeError in the index writers (ADVICE r10: the
#: documented ``max_bucket_size=None`` escape hatch crashed step 3's
#: index fold), so the fan-out points strip by these sets instead of
#: each maintaining its own drift-prone literal tuples.
#: accepted by the probes only (minhash_lsh_pairs / _join_indexed):
MH_PROBE_ONLY_KWARGS = frozenset({
    "max_bucket_size", "caps_stats", "prune", "probe_push_limit",
    "id_push_limit"})
#: accepted by minhash_lsh_join_indexed only — pairs has no
#: partitioned layout to prune or push into:
MH_INDEXED_ONLY_KWARGS = frozenset({
    "prune", "probe_push_limit", "id_push_limit"})
#: build-time layout knobs — probes and appends read the layout from
#: ``{prefix}_meta``, never from call-site kwargs:
MH_LAYOUT_KWARGS = frozenset({"parts", "sig_parts"})

#: Floor (banded-table bytes) above which an UNPRUNED capped probe
#: counts bucket populations from the banded scan (k-semi-join +
#: lazy broadcast anti-join exclusion) instead of aggregating the
#: counts table. Measured seesaw (BENCH_NOTES r11): the counts-table
#: aggregation is corpus-sized AND single-task (the compacted counts
#: layout is one sorted file — right for pushed point lookups, wrong
#: for full scans), costing 3.5 s at 500k docs; the semi-join path is
#: flat but pays ~0.3-0.4 s of broadcast-build fixed cost, losing at
#: ≤50k docs (1.72 s vs 1.42 s). Break-even ≈ 100-150k docs ≈ 16 MiB.
#: Both paths were measured on the partitioned layout.
MH_SEMI_CAP_FLOOR_BYTES = 16 << 20

#: Auto-prune floor for the partitioned MinHash probe, in banded-table
#: bytes. CALIBRATED against the measured probe series (BENCH_NOTES
#: r10/r11, tools/bench_probe_scale.py, fixed 500-doc batch): pruning
#: costs ~5-6 bounded planning actions of fixed per-job overhead,
#: which beats the full scans only once the corpus term dominates —
#: the full-scan capped probe grows 1.65→13.23 s across 500k→5M docs
#: while the pruned probe stays ~3.1-3.5 s flat, putting the
#: break-even at ~1.1M docs ≈ 160 MiB of banded parquet (9.3 B/row ×
#: 16 bands, measured). The r10 floor of 64 MiB engaged pruning at
#: the 500k cell (71 MiB) where it cost 1.9× the full scan — the r10
#: verdict's mid-scale regression. The full-scan series was measured
#: on the since-removed bucketed layout, the pruned one on the
#: partitioned layout. Force with ``prune=True/False`` where the
#: deployment knows better (e.g. remote storage with high scan cost).
MH_AUTO_PRUNE_FLOOR_BYTES = 160 << 20


def _mh_pk(parts: int) -> Column:
    """Derived partition key of the banded reference table (r10):
    band-major, bucket-hash minor — ``pk = band·parts +
    pmod(xxhash64(bucket), parts)``, the SimHash index's ``ck``
    pattern. Partition pruning on pk is decisive for small probes
    (a single doc touches ``bands`` of ``bands·parts`` directories)
    and the band-major layout keeps each directory single-band so a
    pushed bucket filter inside it is effectively per-(band,bucket)."""
    return (F.col("band") * parts
            + F.pmod(F.xxhash64(F.col("bucket")), F.lit(parts))
            ).cast("int")


def _mh_ik(idc: Column, sig_parts: int) -> Column:
    """Derived partition key of the sigs table: id-hash directories,
    pruned by the verify join to the candidate ids' partitions."""
    return F.pmod(F.xxhash64(idc), F.lit(sig_parts)).cast("int")


def read_minhash_meta(spark, table_prefix: str) -> dict | None:
    """The index's recorded build parameters (``{prefix}_meta``, one
    row), or None when no meta row exists."""
    t = f"{table_prefix}_meta"
    if not spark.catalog.tableExists(t):
        return None
    rows = spark.table(t).collect()
    return rows[0].asDict() if rows else None


def _require_mh_meta(spark, table_prefix: str, what: str) -> dict:
    """The recorded build parameters, or a refusal: without them the
    pk/ik derivation and the banding parameters cannot be verified,
    and a probe or append under wrong ones silently misses or
    strands postings. An index with no meta row predates the
    partitioned layout or is a rebuild that crashed before its meta
    write; either way the fix is a rebuild."""
    meta = read_minhash_meta(spark, table_prefix)
    if meta is None or meta.get("parts") is None:
        raise ValueError(
            f"{what}: {table_prefix} has no {table_prefix}_meta row "
            f"recording a partitioned layout, so its build parameters "
            f"cannot be verified; rebuild it with minhash_index")
    return meta


def _write_mh_meta(spark, table_prefix: str, *, parts, sig_parts,
                   num_hashes, bands, shingle_n, mode) -> None:
    # reset first: callers predating the meta table reset only
    # banded/sigs/counts/applied, leaving a stale meta WAREHOUSE DIR
    # that blocks saveAsTable over the (catalog-absent) name; the
    # row is one build-time write, so the extra drop costs nothing
    reset_managed_tables(spark, f"{table_prefix}_meta")
    spark.createDataFrame(
        [(parts, sig_parts, num_hashes, bands, shingle_n, mode)],
        _MH_META_SCHEMA,
    ).write.mode("overwrite").saveAsTable(f"{table_prefix}_meta")


def _validate_mh_meta(meta: dict, *, num_hashes: int, bands: int,
                      shingle_n: int, mode: str, what: str) -> None:
    """Probe/append parameters must match the recorded build — a
    mismatch silently bands into disjoint keys (no matches) or, with
    a wrong ``parts`` derivation, prunes REAL partitions (ADVICE r9:
    the unvalidated caller contract)."""
    got = dict(num_hashes=num_hashes, bands=bands,
               shingle_n=shingle_n, mode=mode)
    bad = {k: (meta[k], got[k]) for k in got
           if meta.get(k) is not None and meta[k] != got[k]}
    if bad:
        raise ValueError(
            f"{what}: caller parameters disagree with the recorded "
            f"index build: " + ", ".join(
                f"{k} built={b!r} called={c!r}"
                for k, (b, c) in sorted(bad.items())))


def _sigs_for_docs(docs: DataFrame, sigs: DataFrame | None, *,
                   num_hashes: int, shingle_n: int, mode: str,
                   id_col: str, text_col: str,
                   what: str) -> DataFrame:
    """Sign ``docs``, or id-filter caller-threaded signatures (the
    :func:`minhash_signatures_for` contract: a pinned signed SUPERSET
    is sound). Threaded signatures are VALIDATED (ADVICE r9): after
    the id filter, exactly one correctly-sized signature per doc —
    a sigs frame missing doc ids (or built at a different
    num_hashes) would otherwise silently drop those docs from the
    index or band them wrongly. One small action on the
    already-materialized frame."""
    if sigs is None:
        s = _pin(_SIG_FNS[mode](docs, num_hashes=num_hashes,
                                shingle_n=shingle_n, id_col=id_col,
                                text_col=text_col))
        s.count()  # one materialization feeds every consumer
        return s
    joined = sigs.join(docs.select(F.col(id_col).alias("id")), "id")
    n_docs = docs.count()
    # distinct + total in ONE agg: a duplicate sig id must not mask
    # a missing doc id behind an equal row count (review r10)
    row = joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(
            F.when(F.size("sig") == num_hashes, F.col("id"))
        ).alias("n_ok"),
    ).first()
    if row["n_ok"] != n_docs or row["n_rows"] != n_docs:
        raise ValueError(
            f"{what}: threaded sigs cover {row['n_ok']} of {n_docs} "
            f"docs at size {num_hashes} across {row['n_rows']} rows "
            f"— the sigs frame must hold exactly one "
            f"num_hashes-length signature per doc id (same "
            f"num_hashes/shingle_n/mode as this call)")
    return joined


def _write_mh_counts(banded: DataFrame, ctab: str) -> None:
    """Full (band, bucket) population build (batch_id −1), SORTED by
    the group keys so a probe's pushed bucket filter can skip
    row-groups/pages of the compacted file."""
    (banded.groupBy("band", "bucket")
     .agg(F.count(F.lit(1)).alias("_n"))
     .withColumn("batch_id", F.lit(-1).cast("long"))
     # repartition(1), NOT coalesce(1): see minhash_counts_compact
     .repartition(1).sortWithinPartitions("band", "bucket")
     .write.mode("overwrite").saveAsTable(ctab))


def write_minhash_index_tables(banded: DataFrame, sigs: DataFrame,
                               table_prefix: str, *,
                               num_hashes: int, bands: int,
                               shingle_n: int = 3, mode: str = "oph",
                               parts: int = 8,
                               sig_parts: int = 16) -> None:
    """Write the partitioned-layout (r10) index tables from
    pre-computed (id, band, bucket) and (id, sig) frames — the shared
    writer for :func:`minhash_index` and index fabricators (scale
    bench tooling that synthesizes corpus-shaped tables directly).
    See :func:`minhash_index` for the layout contract."""
    spark = banded.sparkSession
    # reset BEFORE writing (review r10): a REBUILD that changes
    # parts/sig_parts and crashes mid-way must not leave a new-layout
    # banded table described by the old meta row — stale layout
    # params would make every probe prune REAL partitions silently.
    # Reset-first turns every crash window into missing-table or
    # tables-without-meta: probes and appends refuse both (the
    # maintainer's bootstrap replay rebuilds) — never wrong-pruning.
    reset_managed_tables(spark, *[f"{table_prefix}_{t}"
                                  for t in ("banded", "sigs",
                                            "counts", "meta")])
    # partition-aligned repartition: every pk lands wholly in one
    # task, so each append/build writes ONE file per touched pk
    # directory (bands·parts worst case, vs tasks×dirs unaligned);
    # the within-task sort makes each file bucket-ordered so pushed
    # bucket In-filters prune row groups/pages via parquet stats
    (banded.select("id", "band", "bucket")
     .withColumn("pk", _mh_pk(parts))
     .repartition(F.col("pk"))
     .sortWithinPartitions("pk", "bucket")
     .write.mode("overwrite").partitionBy("pk")
     .saveAsTable(f"{table_prefix}_banded"))
    (sigs.select("id", "sig")
     .withColumn("ik", _mh_ik(F.col("id"), sig_parts))
     .repartition(F.col("ik"))
     .sortWithinPartitions("ik", "id")
     .write.mode("overwrite").partitionBy("ik")
     .saveAsTable(f"{table_prefix}_sigs"))
    _write_mh_counts(banded, f"{table_prefix}_counts")
    _write_mh_meta(spark, table_prefix, parts=parts,
                   sig_parts=sig_parts, num_hashes=num_hashes,
                   bands=bands, shingle_n=shingle_n, mode=mode)


def minhash_index(docs: DataFrame, table_prefix: str, *,
                  num_hashes: int = 64, bands: int = 16,
                  shingle_n: int = 3, mode: str = "oph",
                  id_col: str = "doc_id", text_col: str = "text",
                  sigs: DataFrame | None = None,
                  parts: int = 8,
                  sig_parts: int = 16) -> None:
    """Materialize a reference corpus' MinHash-LSH index as catalog
    tables — :func:`minhash_lsh_join`'s 'the banded frame is the
    index' reuse story, made concrete. Sign the 100 TB reference
    corpus ONCE; every incoming batch then joins against pruned
    table scans, never re-signing or re-shuffling the reference side.

    Layout: ``{prefix}_banded`` is PARTITIONED by ``pk = band·parts +
    pmod(xxhash64(bucket), parts)`` (the SimHash index's ``ck``
    pattern — ``simhash_write_index``) with files sorted by bucket,
    and ``{prefix}_sigs`` is partitioned by ``ik = pmod(xxhash64(id),
    sig_parts)`` with files sorted by id.
    :func:`minhash_lsh_join_indexed` then prunes both scans to the
    batch's touched partitions (``PartitionFilters``) and pushes
    literal bucket/id In-filters into parquet so row groups and pages
    outside the probe's key set are skipped — the probe reads
    O(touched keys), not O(corpus).

    Tables written (``saveAsTable``, overwrite):

    - ``{prefix}_banded``: (id, band, bucket, pk).
    - ``{prefix}_sigs``: (id, sig, ik) — the signature join-back
      for Jaccard estimation.
    - ``{prefix}_counts``: (band, bucket, _n, batch_id) bucket
      populations as MERGEABLE per-batch delta rows (batch_id −1 for
      the build; consumers SUM per bucket) — join-time capping
      broadcasts the tiny over-cap list instead of re-counting the
      corpus per batch, and appends stay O(batch) instead of
      re-aggregating the whole banded table (r8).
    - ``{prefix}_meta``: one row recording parts/sig_parts/
      num_hashes/bands/shingle_n/mode; probes and appends validate
      their parameters against it (a mismatch silently bands into
      disjoint keys) and read the pk/ik derivation from it, so the
      layout never has to be re-declared call-site by call-site.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    sigs = _sigs_for_docs(docs, sigs, num_hashes=num_hashes,
                          shingle_n=shingle_n, mode=mode,
                          id_col=id_col, text_col=text_col,
                          what="minhash_index")
    banded = _band_frame(sigs, bands=bands,
                         rows_per_band=num_hashes // bands, mode=mode)
    write_minhash_index_tables(
        banded, sigs, table_prefix, num_hashes=num_hashes,
        bands=bands, shingle_n=shingle_n, mode=mode, parts=parts,
        sig_parts=sig_parts)


def minhash_index_append(docs: DataFrame, table_prefix: str, *,
                         num_hashes: int = 64, bands: int = 16,
                         shingle_n: int = 3, mode: str = "oph",
                         id_col: str = "doc_id", text_col: str = "text",
                         skip_tables: frozenset = frozenset(),
                         on_step=None,
                         counts_batch_key: int | None = None,
                         sigs: DataFrame | None = None) -> None:
    """Fold a new batch of reference docs into an existing
    :func:`minhash_index` without re-signing the corpus: sign ONLY
    the batch, append its postings/signatures into the partitioned
    tables (the layout is read from ``{prefix}_meta``; an index
    without one is refused), and append the BATCH's
    per-bucket count deltas to the counts table (consumers SUM per
    bucket). r8: the previous counts maintenance re-aggregated the
    whole banded table per batch — the one per-batch cost that grew
    with the corpus; the delta append is O(batch), and the narrow
    sum-on-probe costs what the old filter-on-probe already paid.
    Caller owns id uniqueness across appends (duplicate ids would
    double-count themselves as candidate pairs).

    ``skip_tables`` / ``on_step`` are the crash-replay hooks for the
    streaming maintainer: each ``saveAsTable`` append is job-atomic
    (the Hadoop commit protocol publishes nothing on a mid-job
    crash), so the only residual windows are BETWEEN the appends.
    The maintainer records each completed append in its per-table
    ledger via ``on_step(table)`` and replays with the completed set
    as ``skip_tables`` — only the missing tables are appended, never
    a duplicate. Unlike banded/sigs (where duplicate rows are
    RESULT-idempotent through the pair joins' dropDuplicates), a
    double-appended counts delta would inflate bucket populations, so
    the counts step carries its own data-level backstop:
    ``counts_batch_key`` (the maintainer's batch id; −1 is reserved
    for builds, −2 for keyless appends) rides every delta row, and
    the append self-skips when rows with that key already exist —
    closing the append-then-crash-before-ledger window the way the
    SimHash prebuild marker does."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    if counts_batch_key is not None and counts_batch_key < 0:
        raise ValueError(
            f"counts_batch_key={counts_batch_key}: negative keys are "
            f"reserved (−1 builds, −2 keyless appends) — a caller-"
            f"supplied collision would silently skip the counts delta")
    spark = docs.sparkSession
    # ADVICE r9 (medium): with a LIVE ledger, a missing index table
    # means the index was dropped under its maintainer —
    # ``saveAsTable`` append would silently RECREATE it holding only
    # this batch, dropping the whole corpus. Refuse. The existence
    # checks are catalog-only (no job); the one ledger row probe runs
    # only on the rare missing-table path. An empty/absent ledger is
    # NOT guarded: that is the maintainer's bootstrap regime, where
    # tables legitimately may not exist yet.
    missing = [t for t in ("banded", "sigs", "counts")
               if not spark.catalog.tableExists(f"{table_prefix}_{t}")]
    if missing and table_live(spark, f"{table_prefix}_applied"):
        raise RuntimeError(
            f"{table_prefix}: ledger is live but "
            f"{[f'{table_prefix}_{t}' for t in missing]} missing; "
            f"rebuild the index before appending (an append would "
            f"recreate the table holding only this batch, silently "
            f"dropping the corpus)")
    dirty = [t for t in ("banded", "sigs")
             if spark.catalog.tableExists(
                 f"{table_prefix}_{t}__compact_ready")]
    if dirty:
        raise RuntimeError(
            f"{table_prefix}: compaction ready-markers stand for "
            f"{dirty} — a compaction crashed during its INSERT "
            f"OVERWRITE, so the table may hold partial data; re-run "
            f"minhash_index_compact (it redoes the overwrite from the "
            f"completed tmp fold) before appending")
    meta = _require_mh_meta(spark, table_prefix, "minhash_index_append")
    _validate_mh_meta(meta, num_hashes=num_hashes, bands=bands,
                      shingle_n=shingle_n, mode=mode,
                      what="minhash_index_append")
    sigs = _sigs_for_docs(docs, sigs, num_hashes=num_hashes,
                          shingle_n=shingle_n, mode=mode,
                          id_col=id_col, text_col=text_col,
                          what="minhash_index_append")
    banded = _band_frame(sigs, bands=bands,
                         rows_per_band=num_hashes // bands,
                         mode=mode)
    if "banded" not in skip_tables:
        # partition-aligned: one file per touched pk dir per append
        # (see write_minhash_index_tables)
        (banded.withColumn("pk", _mh_pk(meta["parts"]))
         .repartition(F.col("pk"))
         .sortWithinPartitions("pk", "bucket")
         .write.mode("append").partitionBy("pk")
         .saveAsTable(f"{table_prefix}_banded"))
        if on_step is not None:
            on_step("banded")
    if "sigs" not in skip_tables:
        (sigs.withColumn("ik", _mh_ik(F.col("id"), meta["sig_parts"]))
         .repartition(F.col("ik")).sortWithinPartitions("ik", "id")
         .write.mode("append").partitionBy("ik")
         .saveAsTable(f"{table_prefix}_sigs"))
        if on_step is not None:
            on_step("sigs")
    if "counts" not in skip_tables:
        ctab = f"{table_prefix}_counts"
        key = -2 if counts_batch_key is None else int(counts_batch_key)
        already = (
            counts_batch_key is not None
            and spark.table(ctab)
            .filter(F.col("batch_id") == key).limit(1).count() > 0
        )
        if not already:
            (banded.groupBy("band", "bucket")
             .agg(F.count(F.lit(1)).alias("_n"))
             .withColumn("batch_id", F.lit(key).cast("long"))
             .coalesce(1)     # one tiny delta file per batch,
             # not one per (mostly empty) shuffle partition
             .write.mode("append").saveAsTable(ctab))
        if on_step is not None:
            on_step("counts")


def _recount_banded(spark, table_prefix: str) -> DataFrame:
    """(band, bucket, _n) full recount of the banded table — ground
    truth for the counts table. One exchange: banded is partitioned
    by ``pk``, not by the group keys. Shared by the compactor and the
    crash-repair delta derivation."""
    return (spark.table(f"{table_prefix}_banded")
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n")))


def minhash_counts_compact(spark, table_prefix: str) -> None:
    """Fold the counts table's per-batch delta rows into one row per
    bucket (batch_id −1). Deltas accumulate one row per (bucket,
    batch) — probes SUM them, so correctness never degrades, but
    after many thousands of batches the narrow probe-time aggregation
    grows; compact during a quiet window.

    Contract: the maintainer must be QUIESCED (no in-flight batch).
    Refuses when the per-table ledger shows a batch with banded/sigs
    marks but no counts mark — that batch's delta may exist WITHOUT
    its ledger row (the append-then-crash window), and compacting it
    into the −1 row would let the batch's replay re-append it (double
    count). Under the quiesced contract the banded table is ground
    truth, so the rewrite recounts it directly — a crash mid-rewrite
    is repaired by simply re-running the compactor (banded is
    untouched)."""
    _assert_minhash_quiesced(spark, table_prefix)
    # repartition(1), NOT coalesce(1): a coalesce would run the
    # recount's final aggregate in one task; the explicit exchange
    # keeps the scan/agg parallel and one task writes the (distinct
    # buckets)-row result.
    # The result is SORTED by the group keys so a pruned probe's
    # pushed bucket In-filter can skip row groups/pages of the
    # compacted file (r10).
    (_recount_banded(spark, table_prefix)
     .withColumn("batch_id", F.lit(-1).cast("long"))
     .repartition(1).sortWithinPartitions("band", "bucket")
     .write.mode("overwrite").saveAsTable(f"{table_prefix}_counts"))


def _assert_minhash_quiesced(spark, table_prefix: str) -> None:
    """Shared refusal of both compactors: a batch with banded/sigs
    ledger marks but no counts mark is in-flight or crashed — let the
    maintainer replay it to completion first."""
    ledger = f"{table_prefix}_applied"
    if spark.catalog.tableExists(ledger):
        led = spark.table(ledger)
        if "tbl" in led.columns:
            marks = led.groupBy("batch_id").agg(
                F.collect_set("tbl").alias("tbls"))
            unfinished = marks.filter(
                F.array_contains("tbls", "banded")
                & ~F.array_contains("tbls", "counts")).limit(1).count()
            if unfinished:
                raise ValueError(
                    f"{table_prefix}: a batch has banded/sigs ledger "
                    f"marks but no counts mark — an in-flight or "
                    f"crashed batch; let the maintainer replay it to "
                    f"completion before compacting")


def minhash_index_compact(spark, table_prefix: str) -> dict:
    """File-compact the banded and sigs tables and fold the counts
    deltas: each aligned append lands one file per touched partition
    directory, so after N batches a directory holds up to N small
    files and every probe's scan listing grows with batch COUNT, not
    data. This rewrite folds each table back to one file per
    partition directory and the counts table to one −1 row set — run
    it during a quiet window, like ``lm_table_compact``. A missing
    table, or an index with no ``{prefix}_meta`` row, is refused.

    Contract: the maintainer must be QUIESCED (single-writer protocol,
    no in-flight batch — same refusal as :func:`minhash_counts_compact`).

    Crash windows: ``ALTER TABLE RENAME`` on a partitioned managed
    table breaks its catalog partition locations (verified
    empirically — the renamed table scans empty), so the protocol is
    tmp + ready-marker + INSERT OVERWRITE + drop: (1) fold into
    ``{tbl}__compact_tmp``; (2) write the one-row
    ``{tbl}__compact_ready`` marker — the commit point that the tmp
    rewrite is COMPLETE; (3) INSERT OVERWRITE the original from tmp
    (re-applying the aligned repartition + bucket sort, since the
    insert's own partition-sort need not be order-stable); (4) drop
    marker, then tmp. A crash before (2) leaves the original intact
    (re-run re-folds); a crash in (3) leaves the original PARTIAL but
    the marker standing — :func:`minhash_index_append` refuses to
    append while any marker exists, and the next compactor run
    re-runs (3)+(4) from the complete tmp; a crash between the
    marker drop and the tmp drop leaves a stale markerless tmp that
    the next run simply drops.

    The per-mark LEDGER is deliberately NOT compacted: a missing
    ledger flips the maintainer into bootstrap-overwrite over a live
    index, and no table rewrite is crash-atomic against that
    (drop+rename has a missing window; INSERT OVERWRITE deletes the
    directory before the job runs, so a mid-job crash leaves an
    existing-but-EMPTY ledger that ``table_live`` cannot tell from
    missing). Its growth is three one-row files per batch — bounded
    by batch count, not corpus.
    Returns the per-table post-compaction file counts."""
    tables = (
        (f"{table_prefix}_banded", "pk", ("pk", "bucket")),
        (f"{table_prefix}_sigs", "ik", ("ik", "id")),
    )
    for tbl, _pcol, _sort in tables:
        if not spark.catalog.tableExists(tbl):
            raise ValueError(f"minhash_index_compact: no table {tbl}")
    _require_mh_meta(spark, table_prefix, "minhash_index_compact")
    _assert_minhash_quiesced(spark, table_prefix)
    out = {tbl: _compact_partitioned_table(spark, tbl, pcol, sort_cols)
           for tbl, pcol, sort_cols in tables}
    minhash_counts_compact(spark, table_prefix)
    return out


def _compact_partitioned_table(spark, tbl: str, pcol: str,
                               sort_cols: tuple) -> int:
    """One table's compaction step — the tmp + ready-marker
    + INSERT OVERWRITE protocol documented in
    :func:`minhash_index_compact`. Returns the post-fold file count."""
    tmp = f"{tbl}__compact_tmp"
    marker = f"{tbl}__compact_ready"
    if not spark.catalog.tableExists(marker):
        if spark.catalog.tableExists(tmp):
            spark.sql(f"DROP TABLE {tmp}")  # stale partial attempt
        (spark.table(tbl)
         .repartition(F.col(pcol))
         .sortWithinPartitions(*[F.col(c) for c in sort_cols])
         .write.mode("overwrite").partitionBy(pcol).saveAsTable(tmp))
        spark.createDataFrame([(1,)], "ready int") \
            .write.mode("overwrite").saveAsTable(marker)
    # marker present ⇒ tmp is a COMPLETE fold (this run's, or a
    # crashed prior run's — identical content under the quiesced
    # contract since the original is untouched until here)
    (spark.table(tmp)
     .repartition(F.col(pcol))
     .sortWithinPartitions(*[F.col(c) for c in sort_cols])
     .write.insertInto(tbl, overwrite=True))
    spark.sql(f"DROP TABLE {marker}")
    spark.sql(f"DROP TABLE {tmp}")
    return len(spark.table(tbl).inputFiles())


def _mh_table_bytes(spark, table: str) -> int | None:
    """Total data-file bytes of a catalog table, or None when the
    files are not local-filesystem (a real cluster — where the
    corpus is big by definition). Driver-side only: the file listing
    is the session's cached file index, no job runs."""
    try:
        files = spark.table(table).inputFiles()
    except Exception:
        return None
    total = 0
    for f in files:
        p = f.removeprefix("file:")
        if not p.startswith("/"):
            return None
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def minhash_lsh_join_indexed(spark, table_prefix: str,
                             incoming: DataFrame, *,
                             num_hashes: int = 64, bands: int = 16,
                             shingle_n: int = 3,
                             threshold: float = 0.5,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             mode: str = "oph",
                             max_bucket_size: int | None = 1000,
                             caps_stats: dict | None = None,
                             sigs: DataFrame | None = None,
                             prune: bool | None = None,
                             probe_push_limit: int = 64,
                             id_push_limit: int = 1000,
                             n_in: int | None = None
                             ) -> DataFrame:
    """Cross-corpus fuzzy join of an incoming batch against a
    :func:`minhash_index` — identical pair semantics to
    :func:`minhash_lsh_join` (equality-locked in pytest), but on the
    r10 partitioned layout the reference contributes only PRUNED
    table scans and the batch side broadcasts, so nothing
    corpus-sized ever shuffles:

    - the banded scan keeps only the batch's ``pk`` partitions
      (``PartitionFilters``), and on the single-doc serving/lookup
      path (banded key set ≤``probe_push_limit``, default 64 — a
      few docs' worth) a literal bucket In-filter is pushed into
      parquet where the bucket-sorted files skip non-matching row
      groups/pages. The limit is deliberately tiny: parquet
      evaluates a pushed In as an O(values) OR tree per row
      group/page AND against dictionary pages, so a ~500-value push
      measured 3× SLOWER than the unpushed dir-pruned scan — for
      batch probes the broadcast join + JVM InSet is the fast path
      at every measured scale (50k-5M docs);
    - the cap check aggregates bucket populations from that SAME
      banded scan (pruned or not — r11 decoupled it from pruning:
      below the prune floor the counts-table aggregation cost MORE
      than the whole uncapped probe, 5.2 s vs 1.3 s at 500k docs,
      because the point-lookup-sorted single-file counts layout
      scans single-task) instead of re-aggregating the corpus-sized
      counts table (the r9 capped probe's largest term — the counts
      table holds one row per distinct corpus bucket);
    - the sigs verify scan prunes to the candidate ids' ``ik``
      partitions, with the exact id list pushed over the id-sorted
      files when the candidate set fits ``id_push_limit`` — the
      WIDE table reads only the candidates' pages.

    Push limits are deliberately small: a pushed In compiles to an
    O(depth) recursive OR tree in parquet-mr (StackOverflow beyond
    ~2000 on default task stacks) and costs O(values × pages) to
    evaluate, and Catalyst analysis over multi-thousand-literal
    plans burns seconds of driver time per action — both measured
    this round (an 8000-value push was 6× SLOWER than no push; a
    per-partition-group union of small pushes was worse still, 13 s
    of planning at 32 arms). Above the limits the probe stays
    dir-pruned + broadcast with JVM InSet filters — the measured
    fast shape for batch-sized probes. ``mode``/``bands``/
    ``num_hashes``/``shingle_n`` must match the index build
    (validated against ``{prefix}_meta``; an index without one is
    refused — rebuild it).

    ``prune``: None (default) auto-enables pruning when the index's
    banded table is ≥``MH_AUTO_PRUNE_FLOOR_BYTES``
    (160 MiB — the measured break-even, see the constant's
    calibration note) or lives on a non-local filesystem — below
    that, the extra planning actions (a bounded collect of touched
    partition keys ≤ bands·parts rows, plus candidate-set pin/count
    for the sigs-side prune) cost more than the full scans they
    save. True/False forces.
    Pruning engages the pinned-cache contract: the candidate set is
    persisted until ``cache_scope`` exit / ``unpersist_pinned``.

    With ``caps_stats`` requested, the right-side cap accounting
    aggregates the FULL counts table (the documented corpus-wide
    semantics, identical to scan mode); without it the cap check
    counts the batch's probed PHYSICAL banded rows directly. In the
    crash-free steady state the two agree exactly. Under the
    protocol's one unclosable append window (banded committed, crash
    before the ledger mark, replay re-appends — duplicate banded
    rows, counts delta landed once) they can momentarily differ:
    the physical count sees the duplicates the O(batch) counts delta
    missed — and physical rows are the BLESSED ground truth here
    (the r8 repair ruling: "counts exist to cap candidate-join
    fan-out, and physical rows are exactly what the join fans out
    over; a cap that trips early on a duplicated bucket errs
    conservative"), with the next counts repair/compaction
    converging the table to the same answer. Decide-once replay is
    unaffected either way: committed decisions are read back, never
    recomputed.

    ``n_in``: the EXACT row count of ``incoming`` (post-dedup on
    ``id_col``) when the caller already tracks it — the curate gate
    and streaming maintainer know their batch sizes, and passing it
    saves one driver count action per probe (VERDICT r12 next #6).
    It feeds plan-shape decisions only made safe by exactness: the
    broadcast-probe threshold, the push-down path, and the left-cap
    skip (provably dead only when ``n_in`` really bounds every batch
    bucket). When in doubt pass None — the pinned count is cheap.

    ``sigs``: a caller-supplied signature frame MUST be persisted
    (the gate pins and materializes before passing — that is the
    contract, not a hint): this function counts it, bands it, and
    joins it back, and an unpersisted frame re-runs the shingle+
    minhash computation once per consumer — with a cap and no
    ``caps_stats`` the batch count alone re-signs the whole batch
    (ADVICE r12). Pass ``n_in`` to remove the count's exposure
    entirely."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    meta = _require_mh_meta(spark, table_prefix,
                            "minhash_lsh_join_indexed")
    _validate_mh_meta(meta, num_hashes=num_hashes, bands=bands,
                      shingle_n=shingle_n, mode=mode,
                      what="minhash_lsh_join_indexed")
    # a standing compaction ready-marker means an INSERT OVERWRITE
    # crashed mid-rewrite and the table may hold PARTIAL data — a
    # probe would silently miss near-dups and the curate gate would
    # COMMIT those decisions (review r10: the append-side guard alone
    # fires too late to protect decisions). Catalog-only checks.
    dirty = [t for t in ("banded", "sigs")
             if spark.catalog.tableExists(
                 f"{table_prefix}_{t}__compact_ready")]
    if dirty:
        raise RuntimeError(
            f"{table_prefix}: compaction ready-markers stand for "
            f"{dirty} — the table may hold partial data from a "
            f"crashed compaction; re-run minhash_index_compact "
            f"before probing")
    rb = spark.table(f"{table_prefix}_banded")
    rs = spark.table(f"{table_prefix}_sigs")
    if sigs is not None:
        ls = sigs  # caller signed once and owns persistence
    else:
        ls = _pin(_SIG_FNS[mode](incoming, num_hashes=num_hashes,
                                 shingle_n=shingle_n, id_col=id_col,
                                 text_col=text_col))
        ls.count()  # banding + join-back read one materialization
    lb = _band_frame(ls, bands=bands,
                     rows_per_band=num_hashes // bands, mode=mode)
    sz = None
    do_prune = prune is not False
    if do_prune and prune is None:
        sz = _mh_table_bytes(spark, f"{table_prefix}_banded")
        do_prune = sz is None or sz >= MH_AUTO_PRUNE_FLOOR_BYTES
    # semi_cap: count bucket populations from the banded scan
    # (k-semi-join + exclusion) instead of aggregating the
    # corpus-sized counts table. Always when pruned (the pruned scan
    # makes it nearly free — r10); UNPRUNED only past the 16 MiB
    # floor (r11): below it the counts table is small enough that
    # its aggregation beats the semi-join path's ~0.3-0.4 s of
    # broadcast-build fixed cost, above it the single-file
    # point-lookup-sorted counts layout scans single-task and cost
    # 5.2 s at the 500k cell where the whole uncapped probe costs
    # 1.3 s — a capped probe paid MORE below the prune floor than
    # above it. Measured series on both constants' notes.
    broadcast_probe = False
    semi_cap = False
    if do_prune or (max_bucket_size is not None and caps_stats is None):
        if n_in is None:
            # cached (pinned) — a cheap statistics job; bounds the
            # batch-side broadcast of the candidate join and the
            # semi-join cap path's build sides. Skipped when the
            # caller supplied the batch size (r13, VERDICT r12 #6).
            n_in = _count_batch_sigs(ls, sigs is not None)
        small_batch = n_in * bands <= 1_000_000
        if do_prune:
            broadcast_probe = small_batch
            semi_cap = small_batch and caps_stats is None
        elif small_batch:
            if sz is None:
                sz = _mh_table_bytes(spark, f"{table_prefix}_banded")
            semi_cap = sz is None or sz >= MH_SEMI_CAP_FLOOR_BYTES
            broadcast_probe = semi_cap
    if do_prune:
        lbk = lb.withColumn("pk", _mh_pk(meta["parts"]))
        if n_in * bands <= probe_push_limit:
            touched = lbk.select("pk", "bucket").distinct().collect()
            pks = sorted({r["pk"] for r in touched})
            rb = rb.filter(F.col("pk").isin(pks) & F.col("bucket")
                           .isin(sorted({r["bucket"]
                                         for r in touched})))
        else:
            # the pk set alone is bounded by bands·parts however
            # large the batch — always safe to collect
            pks = sorted(r["pk"] for r in
                         lbk.select("pk").distinct().collect())
            rb = rb.filter(F.col("pk").isin(pks))
        rb = rb.select("id", "band", "bucket")
    # a micro-batch's banded side is tiny next to the reference —
    # when bounded (broadcast_probe above), broadcast it so neither
    # side of the candidate join shuffles.
    # single derived long join key: Spark's broadcast hash join keys
    # a MULTI-column key through the generic UnsafeHashedRelation
    # (measured 7-9 s to probe 80M rows) but a single long key
    # through the primitive LongHashedRelation (0.4-0.8 s on the
    # same data — ~10×). No exact (band, bucket) re-check after the
    # k-match: Catalyst hoists any such equality filter back into
    # the join condition (ExtractEquiJoinKeys), silently recreating
    # the multi-column generic relation (measured — the re-check
    # cost the full 10× back). A fabricated candidate needs a 2^-64
    # xxhash64 collision AND must still clear the signature
    # threshold to emit a pair — the same hash-equality-is-equality
    # stance the engine's md5 exact-dedup fingerprints already take.
    kcol = F.xxhash64("band", "bucket")
    if max_bucket_size is not None:
        # left-side cap engages only when it CAN trip: a batch doc
        # contributes exactly one banded row per band (one min-hash
        # bucket), so no batch bucket can hold more than n_in rows —
        # when n_in ≤ cap the counts_l aggregation + anti-join are a
        # dead exchange + broadcast stage pair (r12: the bench-cell
        # capped probe spent ~0.15 s of its 1.5 s wall there).
        # caps_stats keeps the aggregation unconditionally: the
        # documented corpus-wide drop accounting needs the numbers
        # even when they are provably zero.
        if n_in is None and caps_stats is None:
            # pinned (caller contract) — cheap; loud if it isn't
            n_in = _count_batch_sigs(ls, sigs is not None)
        cap_l = caps_stats is not None or n_in > max_bucket_size
        counts_l = (lb.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_n")) if cap_l else None)
        if semi_cap:
            # bucket populations from the SAME scan the join reads
            # (pruned when pruning engaged — r11: engages without
            # pruning too past MH_SEMI_CAP_FLOOR_BYTES, see semi_cap
            # above), k-SEMI-JOINED to the batch's (broadcast) bucket
            # set BEFORE aggregating — the agg input shrinks from the
            # corpus to the touched postings (plus 2^-64 k-collision
            # strays, whose extra exact-keyed groups are harmless),
            # so the groupBy is O(touched), not an 80M-group corpus
            # aggregation (the capped probe's largest term at scale,
            # whether computed from the counts table or the raw scan
            # — both hold ~one row per distinct corpus bucket). An
            # over-cap bucket contributes its population LINEARLY
            # here; the quadratic blow-up only ever existed in the
            # candidate join, which this filter exists to protect.
            # When PRUNED, the over-cap set is collected BOUNDED
            # (limit+1) and applied as a literal exclusion — in the
            # common zero-over-cap case the final plan carries no
            # cap work at all; a pathological corpus falls back to
            # the exact anti-join.
            # r12: the semi-joined TOUCHED POSTINGS are pinned and
            # BOTH the cap counts and the candidate join's stream
            # side derive from the one cached frame — previously the
            # two consumers each scanned the banded table (the
            # crossover-region tax: two full 71 MiB decodes at the
            # 500k cell, "page cache" notwithstanding; the pruned
            # regime's bounded collect likewise forced a second
            # pruned scan). The pin is linear in the batch's touched
            # postings — the same rows the cap count already had to
            # read, cap-excluded AFTER counting by design — and the
            # over-cap broadcast/collect materializes the cache
            # before the candidate join streams it, so the banded
            # parquet is read exactly once per probe.
            lbd_k = lb.select(kcol.alias("_k")).distinct()
            touched = _pin(
                rb.withColumn("_k", kcol)
                .join(F.broadcast(lbd_k), "_k", "left_semi")
                .select("id", "band", "bucket"))
            rcounts = (touched.groupBy("band", "bucket")
                       .agg(F.count(F.lit(1)).alias("_n")))
            over = rcounts.filter(F.col("_n") > max_bucket_size) \
                .select("band", "bucket")
            if do_prune:
                over_rows = over.limit(33).collect()
                if len(over_rows) <= 32:
                    from functools import reduce as _reduce
                    if over_rows:
                        bad = _reduce(
                            lambda a, b: a | b,
                            [(F.col("band") == r["band"])
                             & (F.col("bucket") == r["bucket"])
                             for r in over_rows])
                        rb = touched.filter(~bad)
                    else:
                        rb = touched
                else:
                    rb = touched.join(over, ["band", "bucket"],
                                      "left_anti")
            else:
                # UNPRUNED (below the prune floor): keep the
                # exclusion lazy — a broadcast anti-join whose build
                # side is the over-cap list (bounded by the batch's
                # touched buckets — ≤ n_in·bands keys, and
                # broadcast_probe already bounds that at 1M),
                # evaluated inside the SAME action as the candidate
                # join; the broadcast build fills the touched cache.
                rb = touched.join(F.broadcast(over),
                                  ["band", "bucket"], "left_anti")
        else:
            # counts rows are per-batch DELTAS (r8) — sum per bucket;
            # a compacted table (one −1 row per bucket) sums to itself
            rcounts = (spark.table(f"{table_prefix}_counts")
                       .groupBy("band", "bucket")
                       .agg(F.sum("_n").alias("_n")))
            if caps_stats is not None:
                caps_stats.update(_cap_stats(
                    counts_l, "_n", max_bucket_size,
                    "dropped_banded_rows_left", "max_bucket_seen_left"))
                caps_stats.update(_cap_stats(
                    rcounts, "_n", max_bucket_size,
                    "dropped_banded_rows_right",
                    "max_bucket_seen_right"))
            rb = rb.join(
                rcounts.filter(F.col("_n") > max_bucket_size)
                .select("band", "bucket"), ["band", "bucket"],
                "left_anti")
        if cap_l:
            lb = lb.join(
                counts_l.filter(F.col("_n") > max_bucket_size)
                .select("band", "bucket"), ["band", "bucket"],
                "left_anti")
    if broadcast_probe:
        cand = (
            F.broadcast(lb.select(kcol.alias("_k"),
                                  F.col("id").alias("id_l")))
            .join(rb.select(kcol.alias("_k"),
                            F.col("id").alias("id_r")), "_k")
            .select("id_l", "id_r")
            .dropDuplicates(["id_l", "id_r"])
        )
    else:
        cand = (
            lb.alias("a").join(
                rb.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket")),
            )
            .select(F.col("a.id").alias("id_l"),
                    F.col("b.id").alias("id_r"))
            .dropDuplicates(["id_l", "id_r"])
        )
    sig_l = ls.select(F.col("id").alias("id_l"), F.col("sig").alias("sig_l"))
    small_cand = False
    if do_prune:
        # the verify join-back is a point-lookup workload over the
        # (wide) sigs table: prune it to the candidates' ik
        # partitions — and, when the candidate set is small, push the
        # exact id list so the id-sorted files page-skip. Requires
        # materializing the candidate set once (pinned; the returned
        # frame reuses the cache).
        cand = _pin(cand)
        ikc = _mh_ik(F.col("id_r"), meta["sig_parts"]).alias("ik")
        # ONE bounded action decides the push: limit+1 over the
        # distinct candidate ids — ≤ limit rows back means the set is
        # COMPLETE and small enough to push; limit+1 rows means it
        # overflowed (collect stays bounded either way)
        rows = (cand.select(F.col("id_r"), ikc).distinct()
                .limit(id_push_limit + 1).collect())
        if len(rows) <= id_push_limit:
            if rows:
                rs = rs.filter(
                    F.col("ik").isin(sorted({r["ik"] for r in rows}))
                    & F.col("id").isin(sorted({r["id_r"]
                                               for r in rows})))
            else:  # zero candidates: nothing to verify
                rs = rs.filter(F.lit(False))
            small_cand = True
        else:
            iks = sorted(r["ik"] for r in
                         cand.select(ikc).distinct().collect())
            rs = rs.filter(F.col("ik").isin(iks))
    sig_r = rs.select(F.col("id").alias("id_r"), F.col("sig").alias("sig_r"))
    if small_cand:
        # broadcast the PRUNED reference signatures (≤ id_push_limit
        # rows — bounded), never the pair side: the pair COUNT is
        # batch-side-unbounded (a dup-flood batch can pair millions
        # of rows against a handful of reference ids), so hinting it
        # would materialize an unbounded broadcast (review r10)
        sig_r = F.broadcast(sig_r)
    paired = cand.join(sig_l, "id_l").join(sig_r, "id_r")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_l"), F.col("sig_r"),
                       lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (
        paired.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_l", "id_r", "est_jaccard")
    )


def _contract_partitions(edges: DataFrame) -> DataFrame:
    """Partition-local union-find contraction: collapse every merge
    that is visible WITHIN a partition into (node → local root) star
    edges, without any shuffle. Connectivity is exactly preserved —
    each original edge (s, d) lands in some partition and is unioned
    there, so s and d share a root in that partition's output — while
    chains/cliques contract to stars, slashing both the edge count
    and the graph diameter the distributed label-propagation loop
    pays rounds for. The pass is Arrow-batched (mapInPandas) with
    path-halving union-find: O(E α(E)) per partition, and the output
    is at most one row per distinct node per partition."""
    def uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                parent[r] = parent.get(parent[r], parent[r])  # halve
                r = parent[r]
            return r

        for pdf in batches:
            for s, d in zip(pdf["src"].values, pdf["dst"].values):
                rs, rd = find(int(s)), find(int(d))
                if rs != rd:  # canonical min-root keeps ids stable
                    if rs < rd:
                        parent[rd] = rs
                    else:
                        parent[rs] = rd
        if parent:
            nodes = list(parent.keys() | {find(x) for x in parent})
            yield pd.DataFrame({
                "src": nodes,
                "dst": [find(x) for x in nodes],
            })

    return edges.mapInPandas(uf, "src long, dst long")


def dedup_clusters(pairs: DataFrame, *, id_a: str = "id_a",
                   id_b: str = "id_b",
                   max_iters: int = 25,
                   local_contract: bool = False,
                   stats: dict | None = None) -> DataFrame:
    """Connected components over candidate near-dup pairs: the step
    every production dedup pipeline runs AFTER pair generation, since
    near-duplicate is not transitive but retention decisions must be
    (A~B and B~C ⇒ keep one of {A, B, C}).

    Returns one row per node appearing in any pair: ``(id, cluster)``
    with ``cluster`` = the minimum id in the node's component — a
    deterministic canonical representative.

    Algorithm: iterative min-label propagation (label(v) ← min over
    N(v) ∪ {v} of current labels, the self-inclusion spelled as
    explicit self-loop edges), a driver loop over fully distributed
    rounds. ``local_contract`` prepends a shuffle-free
    partition-local union-find pass (:func:`_contract_partitions`)
    that collapses intra-partition structure to stars — off by
    default because clique-ish dedup graphs already converge in ~2
    rounds (measured: the pass costs more than it saves there); turn
    it on for high-diameter graphs (long chains of borderline pairs)
    or when per-round shuffle volume, not round count, is the
    bottleneck.

    Each round is ONE join + ONE hash aggregate on compact
    (long, long) rows, and crucially references the previous round's
    labels exactly once, so the logical plan grows LINEARLY in rounds
    (a formulation that reads the label frame twice per round doubles
    the plan per round — exponential analysis time on long chains).

    Session note (ADVICE r5): the loop disables
    ``spark.sql.adaptive.enabled`` for its duration and restores the
    prior value on exit. That conf is session-global, so OTHER queries
    running concurrently on the same SparkSession execute with AQE
    unexpectedly off, and two interleaved dedup_clusters calls can
    clobber each other's restore value. Call it single-threaded per
    session (the library's operators all are), or give the loop its
    own ``spark.newSession()`` if you must overlap queries.
    Converges in O(component diameter) rounds; near-dup graphs are
    dense clique-ish blobs with tiny diameters, so this beats the
    O(log n)-round large-star/small-star scheme (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) in
    constant factors while staying simpler; ``max_iters`` guards the
    pathological chain. Each round persists + materializes the new
    labels and unpersists the previous round — the final round's
    cache backs the RETURNED frame (release via
    ``spark.catalog.clearCache()`` in long-lived sessions; the
    registry harness does). Convergence is read off the label-sum
    (strictly decreasing until fixpoint, since labels only ever
    decrease) piggybacked on the materializing action.

    No silent caps: pass ``stats`` (a dict) to receive ``rounds`` and
    ``converged``; a ``max_iters`` exhaustion additionally emits a
    ``RuntimeWarning``, since an unconverged labeling can still split
    one true component across clusters.
    """
    import warnings

    both = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    # materialize the symmetrized pair set ONCE before anything
    # branches off it: edges and labels are both persisted lazily, and
    # if their caches fill from the same first action each branch
    # recomputes the (potentially expensive) upstream pair-generation
    # plan — the cache-race that made clustering cost ~2× the pair job.
    if local_contract:
        # pin the INPUT so both branches below (contraction + base)
        # read one materialization instead of re-running the upstream
        # pair-generation plan twice
        pairs = pairs.persist()
        _PINNED.append(pairs)
    base = both.dropDuplicates(["src", "dst"]).persist()
    base.count()
    nodes = base.select(F.col("src").alias("id")).dropDuplicates(["id"])
    # partition-local contraction first: one shuffle-free pass turns
    # intra-partition chains/cliques into stars, so the distributed
    # loop starts from a graph whose diameter is the number of
    # PARTITION HOPS between nodes, not the number of edge hops —
    # on clique-ish dedup graphs most rounds disappear (measured
    # 7 → 3 rounds on the bench graph). Every original node still
    # appears (each edge contributes both endpoints), so the label
    # frame and the canonical min-id representative are unchanged.
    if local_contract:
        # contract the RAW input projection, not `base`: dropDuplicates
        # hash-scatters rows across shuffle partitions, destroying
        # exactly the intra-partition adjacency the union-find pass
        # exploits (measured on a 63-edge chain in 4 input partitions:
        # contracting post-shuffle leaves 56 rounds; contracting the
        # input leaves ~5). Union-find is insensitive to duplicate and
        # unsymmetrized edges, so the un-deduped projection is fine.
        stars = _contract_partitions(pairs.select(
            F.col(id_a).alias("src"), F.col(id_b).alias("dst")))
        # re-symmetrize: label propagation is directional (src → dst),
        # and the component min must flow from the root back to every
        # member as well as member → root
        loop_edges = stars.unionByName(
            stars.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst")))
    else:
        loop_edges = base
    # edges persist HASH-PARTITIONED BY src (r14): the per-round join
    # requires HashPartitioning(src, P), but the union of the
    # (src,dst)-partitioned base with the self-loops reports no usable
    # partitioning, so EVERY round re-exchanged the edge set — the
    # big side of the loop, E+N rows — before joining the labels. One
    # repartition at materialization makes the cached layout satisfy
    # the join's requirement; with AQE off for the loop the partition
    # count is stable at P, and the labels side (each round's groupBy
    # output at the same P) already matches, so rounds run with a
    # single exchange (the groupBy) instead of two. At 100 TB this
    # halves the loop's shuffled bytes.
    n_parts = int(pairs.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    edges = (
        loop_edges.unionByName(  # self-loops fold each node's own label in
            nodes.select(F.col("id").alias("src"),
                         F.col("id").alias("dst"))
        )
        .repartition(n_parts, F.col("src"))
        .persist()
    )
    labels = nodes.withColumn("lbl", F.col("id")).persist()
    rounds, converged, prev_sum = 0, False, None
    spark = pairs.sparkSession
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled", "true")
    # AQE re-optimizes each round's plan against the whole nested
    # InMemoryRelation lineage; past ~8 rounds that re-analysis cost
    # DOUBLES per round (measured 0.8 s → 57 s/round by round 14 on a
    # 50-node path). The loop's joins are (long, long) label tables —
    # nothing AQE can improve here (at scale neither side is
    # broadcastable) — so switch it off for the loop and restore
    # after. Round time stays flat (~0.3 s) to any depth.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for _ in range(max_iters):
            rounds += 1
            new_labels = (
                edges.join(labels, edges["src"] == labels["id"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("lbl").alias("lbl"))
                .persist()
            )
            # the sum action materializes new_labels' cache (so the
            # previous round can be dropped immediately) AND detects
            # the fixpoint: every label is non-increasing, so the sum
            # strictly decreases until convergence. decimal(38)
            # accumulation rules out long overflow on huge ids.
            s = new_labels.agg(
                F.sum(F.col("lbl").cast("decimal(38,0)"))
            ).first()[0]
            labels.unpersist()
            labels = new_labels
            if s == prev_sum:
                converged = True
                break
            prev_sum = s
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
        edges.unpersist()
        base.unpersist()
    if stats is not None:
        stats.update({"rounds": rounds, "converged": converged})
    if not converged:
        warnings.warn(
            f"dedup_clusters hit max_iters={max_iters} before "
            "convergence; components wider than that diameter are "
            "split across labels",
            RuntimeWarning,
        )
    # the final round's cache backs the returned frame — register it
    # so unpersist_pinned()/cache_scope() release it like the other
    # operator caches (intermediate rounds were already unpersisted)
    _PINNED.append(labels)
    return labels.select("id", F.col("lbl").alias("cluster"))


def resolve_duplicates(docs: DataFrame, clusters: DataFrame, *,
                       id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one document per duplicate cluster (the canonical
    minimum-id representative) plus every unpaired document — the
    retention step after :func:`dedup_clusters`. One broadcast-sized
    anti-join: only cluster members that are NOT their cluster's
    representative are dropped, so docs absent from ``clusters`` pass
    through untouched."""
    losers = clusters.filter(F.col("id") != F.col("cluster")).select("id")
    return docs.join(losers, docs[id_col] == losers["id"], "left_anti")


def resolve_duplicates_best(docs: DataFrame, clusters: DataFrame, *,
                            score: Column,
                            id_col: str = "doc_id") -> DataFrame:
    """Quality-aware retention: keep the highest-``score`` member of
    each duplicate cluster (ties broken by lowest id, so the winner is
    unique and deterministic) plus every unpaired document. The
    production alternative to :func:`resolve_duplicates` when cluster
    members differ — e.g. keep the longest or highest-quality copy of
    a near-dup group rather than whichever has the smallest id.

    ``score`` is a Column evaluated against ``docs`` (an integer
    metric such as token count is preferred: float scores can tie
    differently across engines). Shape: two chained HASH aggregates on
    the cluster key — max score per cluster, then min id among the
    tied-best members — plus an anti-join of the losers. (A single
    ``max_by`` over a (score, -id) ordering struct is the obvious
    spelling, but a struct extremum buffer forces SortAggregate; the
    two-step keeps every aggregate hash-based and map-side-combined,
    and the second agg reuses the first's cluster-key partitioning.)
    Documents absent from ``clusters`` never enter the aggregates and
    pass through untouched.
    """
    scored = docs.select(F.col(id_col).alias("_rid"),
                         score.alias("_score"))
    members = clusters.join(
        scored, clusters["id"] == scored["_rid"]
    ).select("id", "cluster", "_score")
    best = members.groupBy("cluster").agg(
        F.max("_score").alias("_best"))
    winners = (
        members.join(best, "cluster")
        .filter(F.col("_score") == F.col("_best"))
        .groupBy("cluster").agg(F.min("id").alias("_keep"))
    )
    losers = (
        members.join(winners, "cluster")
        .filter(F.col("id") != F.col("_keep"))
        .select("id")
    )
    return docs.join(losers, docs[id_col] == losers["id"], "left_anti")


def simhash(text: Column, *, bits: int = 64, shingle_n: int = 1) -> Column:
    """64-bit SimHash fingerprint, fully JVM-side.

    Per token hash h, bit b contributes +1 if set else -1; fingerprint
    bit b is 1 iff the sum is positive. Expressed as a ``transform``
    over bit positions with an ``aggregate`` over token hashes —
    whole-stage codegen, no explode (no 64× row blowup).
    """
    words = F.split(normalized(text), " ")
    hashes = F.transform(words, lambda w: F.xxhash64(w))
    # bit masks as a literal array (bit 63 = signed long min in two's
    # complement); lambda variables can't feed shiftleft's int argument.
    mask_vals = [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)]
    masks = F.array(*[F.lit(m).cast("long") for m in mask_vals])
    bit_votes = F.transform(
        masks,
        lambda mask: F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bit_votes,
            masks,
            lambda v, mask: F.when(v > 0, mask).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_fingerprints(docs: DataFrame, *, bits: int = 64,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         hash_mode: str = "xx") -> DataFrame:
    """(id, fp) via explode + grouped bit-vote sums — the codegen'd
    equivalent of the :func:`simhash` column expression (identical
    values; the array-lambda form is interpreted and ~100× slower).

    ``hash_mode="portable"`` swaps the token hash for
    :func:`portable_hash64` so the fingerprints (and therefore the
    pair set) are bit-reproducible in any engine with md5 — the
    oracle-checked variant. Portable hashes are < 2**60, so fp bits
    60-63 always vote negative and stay 0 on both engines.
    """
    if bits != 64:
        raise ValueError(
            f"simhash_fingerprints supports bits=64 only (got {bits}) "
            f"— the lane packing below pairs bit j with bit j+32; use "
            f"the simhash() column expression for narrower widths")
    token_hash = (portable_hash64(F.col("w")) if hash_mode == "portable"
                  else F.xxhash64("w"))
    words = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("w"),
    ).select("id", token_hash.alias("h"))
    # branch-free votes, SWAR-packed (r8): bit b's ±1 sum over n
    # tokens is 2·Σbit − n, so bit set ⟺ 2·Σbit > n. Lanes: one sum
    # per bit PAIR — ``(h >> j) & 0x0000000100000001`` accumulates
    # bit j in the low 32-bit lane and bit j+32 in the high lane of a
    # single long, halving the aggregate count. Lane overflow needs
    # 2^31 tokens in ONE document (≥ 4 GiB of text — Spark's 2 GiB
    # string cap is hit first), so the packing is exact.
    # expression construction via expr strings (r14): the Column form
    # of these 32 lane sums + the 64-element assembly array cost
    # ~0.65 s of driver-side py4j round-trips and analysis PER PLAN
    # BUILD (measured at bench scale — more than the probe's whole
    # distributed execution). One parsed string per aggregate yields
    # the identical integer expression tree, so fingerprints are
    # bit-identical (everything here is integer arithmetic).
    lane = (1 << 32) | 1
    aggs = [
        F.expr(f"sum(shiftrightunsigned(h, {j}) & {lane})")
        .alias(f"_s{j}")
        for j in range(bits // 2)
    ] + [F.count(F.lit(1)).alias("_n")]
    voted = words.groupBy("id").agg(*aggs)
    # fingerprint assembly as a SECOND tiny aggregation over exploded
    # (id, bit, count) rows instead of a 64-term nested OR-of-whens
    # projection: the giant expression tree cost ~1 s of driver-side
    # analysis/codegen per ACTION (3× the distributed work at bench
    # scale). posexplode preserves the first aggregate's id
    # partitioning, so the re-group adds no Exchange; a sum of
    # distinct powers of two IS the bitwise OR (bit 63 wraps to the
    # sign bit — two's complement keeps the value exact).
    cnts = F.expr("array(" + ",".join(
        (f"(_s{b} & 4294967295)" if b < bits // 2
         else f"shiftrightunsigned(_s{b - bits // 2}, 32)")
        for b in range(bits)) + ")")
    per_bit = voted.select(
        "id", "_n", F.posexplode(cnts).alias("b", "c"))
    return per_bit.groupBy("id").agg(
        F.expr("sum(CASE WHEN 2 * c > _n "
               "THEN shiftleft(cast(1 as bigint), b) "
               "ELSE cast(0 as bigint) END)").alias("fp"))


def _simhash_fp_frame(docs: DataFrame, id_col: str, text_col: str,
                      hash_mode: str, fp_col: str | None) -> DataFrame:
    """(id, fp) frame for the Hamming-index family: sign text with
    :func:`simhash_fingerprints`, or — when ``fp_col`` names a
    PRECOMPUTED 64-bit fingerprint column (e.g. an image dHash/pHash
    from :mod:`.multimodal`) — project it directly, so the whole
    index/join/append family serves any 64-bit locality hash."""
    if fp_col is not None:
        return docs.select(F.col(id_col).alias("id"),
                           F.col(fp_col).cast("long").alias("fp"))
    return simhash_fingerprints(docs, id_col=id_col,
                                text_col=text_col, hash_mode=hash_mode)


def simhash_pairs(docs: DataFrame, *, max_hamming: int = 3,
                  id_col: str = "doc_id",
                  text_col: str = "text",
                  hash_mode: str = "xx") -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the 64-bit fingerprint into
    ``max_hamming+1`` chunks; any pair within the radius agrees exactly
    on ≥1 chunk, so the chunk value is the block/join key. Distance is
    then verified with ``bit_count(a XOR b)``.
    """
    fp = simhash_fingerprints(
        docs, id_col=id_col, text_col=text_col, hash_mode=hash_mode)
    return hamming_pairs(fp, max_hamming=max_hamming)


def hamming_pairs(fps: DataFrame, *, max_hamming: int = 3,
                  id_col: str = "id",
                  fp_col: str = "fp") -> DataFrame:
    """Near-dup pairs over PRECOMPUTED 64-bit fingerprints: every
    (id_a < id_b) pair with Hamming distance ≤ ``max_hamming``, with
    the distance. The fingerprint-agnostic core of
    :func:`simhash_pairs` — any 64-bit locality hash rides the same
    pigeonhole banding (text SimHash, image dHash/pHash from
    :mod:`.multimodal`, …).

    Scale shape: one exchange on (chunk, key) for the self-join; each
    pair is emitted from its lowest agreeing chunk only, so the final
    dedup shuffles verified pairs, not candidates.
    """
    # persist: fingerprints feed banding AND the verify join within
    # one action; same long-lived-session contract as
    # minhash_lsh_pairs (clearCache/unpersist after the action).
    fp = _pin(fps.select(F.col(id_col).alias("id"),
                         F.col(fp_col).alias("fp")))
    # shared banding with the materialized index (_simhash_banded) so
    # the probe==pairs equality contract can't drift; ck is unused here
    banded = _simhash_banded(fp, max_hamming, 1) \
        .select("id", "fp", "chunk", "key")
    a, b = banded.alias("a"), banded.alias("b")
    chunks = max_hamming + 1
    width = 64 // chunks
    xor = F.col("a.fp").bitwiseXOR(F.col("b.fp"))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        # lowest-agreeing-chunk emit (see _first_agree_only): the
        # per-pair dedup shuffle drops from all candidates to the
        # verified pairs
        .filter(_first_agree_only(F.col("a.chunk"), xor, chunks, width))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dup_pairs_pandas(embs: DataFrame, *,
                                    threshold: float = 0.95,
                                    block_col: str = "label",
                                    id_col: str = "vec_id",
                                    vec_col: str = "embedding") -> DataFrame:
    """Vectorized variant of :func:`embedding_near_dup_pairs`: one
    ``applyInPandas`` per block computing the full cosine matrix with
    numpy (BLAS matmul) instead of per-pair interpreted array lambdas.

    Same blocking contract (a block must fit one task's memory — at
    scale the block is an LSH/IVF bucket sized accordingly). ~50×
    faster per pair than the expression path; results agree to float64
    rounding. One shuffle (the groupBy on the block key).
    """
    import numpy as np
    import pandas as pd

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")}
            )
        pdf = pdf.sort_values("id").reset_index(drop=True)
        m = np.array(pdf["vec"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        sims = (m @ m.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(pdf), k=1)
        ids = pdf["id"].to_numpy()
        # strict id inequality, not just position inequality: with
        # duplicate ids in a block (e.g. a crashed append attempt's
        # partial files replayed alongside the batch) the positional
        # triangle would emit id==id self-pairs that the expression
        # backend's a.id < b.id join correctly excludes
        keep = (sims[ia, ib] >= threshold) & (ids[ia] < ids[ib])
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]],
             "cosine": sims[ia, ib][keep]}
        )

    shaped = embs.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    return shaped.groupBy("block").applyInPandas(
        block_pairs, schema="id_a long, id_b long, cosine double"
    ).select("id_a", "id_b", "cosine")


def embedding_near_dup_pairs(embs: DataFrame, *, threshold: float = 0.95,
                             block_col: str = "label",
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Near-dup pairs by cosine similarity within blocks.

    ``block_col`` bounds the quadratic pair join (at scale: an LSH or
    IVF-coarse-quantizer bucket — see operators/similarity.py); cosine
    is computed JVM-side with ``zip_with``/``aggregate``. For large
    blocks prefer :func:`embedding_near_dup_pairs_pandas` (numpy
    matmul per block).
    """
    def norm(c):
        return F.sqrt(F.aggregate(c, F.lit(0.0),
                                  lambda a, x: a + x.cast("double") * x.cast("double")))

    # repartition on the JOIN key: the self-join needs both sides
    # hash-partitioned on block anyway, so this one shuffle serves
    # both small-file parallelism and join co-location (a repartition
    # on id would be thrown away by the block join's own exchange).
    parallelism = embs.sparkSession.sparkContext.defaultParallelism
    embs = embs.repartition(parallelism, F.col(block_col))
    v = embs.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("vec"),
    ).withColumn("norm", norm(F.col("vec")))
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.vec"), F.col("b.vec"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return (
        a.join(b, (F.col("a.block") == F.col("b.block"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            # try_divide: a zero-norm member has undefined cosine —
            # NULL fails the threshold filter (no pair), instead of
            # an ANSI DIVIDE_BY_ZERO aborting the whole job
            F.try_divide(dot,
                         F.col("a.norm") * F.col("b.norm"))
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(embs: DataFrame, *, n_cells: int = 16, iters: int = 2,
                   threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   max_cell_size: int | None = 10_000,
                   caps_stats: dict | None = None,
                   pair_backend: str = "pandas",
                   centroids=None) -> DataFrame:
    """SemDeDup-style semantic deduplication (public technique: Abbas
    et al., "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", arXiv:2303.09540): k-means-cluster the
    embedding space, then inside each cluster drop every document that
    has a smaller-id neighbor at cosine ≥ ``threshold``.

    Returns the DROP decisions — one row per removed document:
    ``(id, cell, rep, cosine)`` where ``rep`` is the SMALLEST same-cell
    id with cosine ≥ threshold (the deterministic representative the
    drop is charged to) and ``cosine`` is cos(id, rep). Documents that
    survive do not appear; retention is one anti-join against the
    ``id`` column (same shape as :func:`resolve_duplicates`).

    Drop rule vs transitive closure: the published algorithm keeps one
    representative per ε-similar GROUP within a cluster; this
    implementation uses the order-free "drop iff a smaller-id
    within-cell neighbor is ≥ τ" rule. It is slightly more aggressive
    on chains (b~a drops b, c~b drops c even when c≁a) but is
    engine-reproducible in one aggregate — no iterative closure — and
    every drop is still witnessed by a genuinely-similar kept-or-
    dropped neighbor. For closure semantics feed the within-cell pairs
    to :func:`dedup_clusters` instead.

    Scale story (100 TB): Lloyd training and assignment come from
    ``similarity.ivf_train`` — centroids are the ONLY driver state
    (n_cells × dim doubles), assignment is the literal-folded
    zero-shuffle map pass, and the quadratic member join is blocked by
    ``cell``, so its cost is Σ|cell|² — bounded by choosing n_cells ∝
    corpus size (cells of ~1-10k vectors) exactly as the paper
    prescribes. ``max_cell_size`` is the guardrail for skewed
    clusterings: cells larger than the cap are EXCLUDED from the pair
    join (their members are all kept — refuse-to-guess, never
    quadratic blowup), with eager accounting via ``caps_stats``
    (``dropped_cell_members``: members excluded that way;
    ``max_cell_seen``): zero dropped ⇒ the capped result IS the exact
    result. Pass ``max_cell_size=None`` for the uncapped oracle mode.

    ``pair_backend``: ``"pandas"`` (default) computes each cell's
    cosine matrix with one BLAS matmul via
    :func:`embedding_near_dup_pairs_pandas` — the throughput path
    (the expression twin evaluates ~|cell|² interpreted 64-term array
    folds; measured ~10× slower at 20k vectors / 160 cells).
    ``"expr"`` keeps the pure-Catalyst pair join whose float fold
    order the DuckDB oracle reproduces bit-exactly — the registry row
    runs it; the two backends are equality-locked post-rounding in
    pytest.

    ``centroids``: pass a pre-trained ``[(cell_id, vector), ...]`` to
    skip training and assign against a FROZEN quantizer (the
    incremental-index workflow — see :func:`semantic_dedup_append`);
    ``n_cells``/``iters`` are ignored then.
    """
    from remote_storage_adapter_spark.operators.similarity import (
        ivf_index,
        ivf_train,
    )

    if centroids is not None:
        assigned = ivf_index(embs, id_col=id_col, vec_col=vec_col,
                             seed_rows=centroids)
    else:
        assigned, _ = ivf_train(embs, n_cells=n_cells, iters=iters,
                                id_col=id_col, vec_col=vec_col)
    return _semantic_drops(
        assigned, threshold=threshold, id_col=id_col, vec_col=vec_col,
        max_cell_size=max_cell_size, caps_stats=caps_stats,
        pair_backend=pair_backend,
    )


def _semantic_drops(assigned: DataFrame, *, threshold: float,
                    id_col: str, vec_col: str,
                    max_cell_size: int | None,
                    caps_stats: dict | None,
                    pair_backend: str) -> DataFrame:
    """Shared decision stage of :func:`semantic_dedup` /
    :func:`semantic_dedup_append`: cap accounting → within-cell pair
    generation → smallest-id drop aggregate, over a frame that already
    carries ``cell``."""
    # the assignment feeds the cap counts, BOTH sides of the pair
    # self-join, and the cell join-back — pin + materialize once so
    # the corpus is assigned in one pass, not re-scanned per consumer
    # (same release contract as the other operator pins: cache_scope
    # or clearCache per registry query)
    assigned = _pin(assigned.select(id_col, vec_col, "cell"))
    assigned.count()
    if max_cell_size is not None:
        cell_counts = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("_n"))
        if caps_stats is not None:
            caps_stats.update(_cap_stats(
                cell_counts, "_n", max_cell_size,
                "dropped_cell_members", "max_cell_seen",
            ))
        # anti-join against the over-cap cells — tiny by construction
        # (it is what the cap bounds), so AQE broadcasts it
        assigned = assigned.join(
            cell_counts.filter(F.col("_n") > max_cell_size)
            .select("cell"),
            "cell", "left_anti",
        )
    pair_fn = (embedding_near_dup_pairs_pandas
               if pair_backend == "pandas" else embedding_near_dup_pairs)
    pairs = pair_fn(
        assigned, threshold=threshold, block_col="cell",
        id_col=id_col, vec_col=vec_col,
    )
    # rep = smallest qualifying neighbor; min_by is deterministic here
    # because id_a is unique within an id_b group
    drops = pairs.groupBy(F.col("id_b").alias("id")).agg(
        F.min("id_a").alias("rep"),
        F.min_by("cosine", "id_a").alias("cosine"),
    )
    cells = assigned.select(F.col(id_col).alias("id"), "cell")
    # dropDuplicates on the drop-sized result (not distinct on the
    # corpus-sized cells side): duplicate ids in `assigned` — possible
    # only when a crashed append attempt's partial files replay
    # alongside their batch — would otherwise fan the join out into
    # identical duplicate rows
    return (drops.join(cells, "id")
            .select("id", "cell", "rep", "cosine")
            .dropDuplicates(["id"]))


def semantic_dedup_append(spark, new_embs: DataFrame, index_path: str,
                          centroids, *, threshold: float = 0.95,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          max_cell_size: int | None = 10_000,
                          caps_stats: dict | None = None,
                          pair_backend: str = "pandas") -> DataFrame:
    """Incremental SemDeDup: drop decisions for a NEW batch against a
    materialized reference index (``similarity.ivf_write_index`` /
    ``ivf_append`` layout: parquet partitioned by ``cell``) plus
    within the batch itself — the corpus-growth companion of
    :func:`semantic_dedup`, mirroring ``minhash_lsh_join_indexed``'s
    sign-once/join-every-batch contract.

    Centroids are FROZEN (the quantizer that built the index), so the
    batch's assignment is the same zero-shuffle map pass and the
    reference read prunes to the batch's touched cells only
    (PartitionFilters — asserted in tests/test_scale.py): a batch
    touching p of k cells reads p/k of a 100 TB index. Returned drops
    are restricted to batch ids; reference members are never dropped
    (they are the already-accepted corpus). With monotonically
    increasing ids (reference < batch — the normal ingest case) the
    result equals the full rebuild restricted to batch ids:
    ``semantic_dedup(ref ∪ batch, centroids=C)`` filtered to the
    batch — equality-locked in pytest. The per-cell pair matmul
    still computes reference×reference similarities it discards
    (bounded by ``max_cell_size``²); a dedicated L×R kernel is the
    optimization if profiles ever show it mattering.

    After accepting the kept batch rows, fold them into the index
    with ``similarity.ivf_append`` (same frozen centroids).
    """
    from remote_storage_adapter_spark.operators.similarity import (
        ivf_index,
    )

    assigned_new = ivf_index(new_embs, id_col=id_col, vec_col=vec_col,
                             seed_rows=centroids)
    assigned_new = _pin(assigned_new.select(id_col, vec_col, "cell"))
    touched = [int(r["cell"]) for r in
               assigned_new.select("cell").distinct().collect()]
    ref = (
        spark.read.parquet(index_path)
        .filter(F.col("cell").isin(touched))
        .select(id_col, vec_col, "cell")
    )
    combined = ref.unionByName(assigned_new)
    drops = _semantic_drops(
        combined, threshold=threshold, id_col=id_col, vec_col=vec_col,
        max_cell_size=max_cell_size, caps_stats=caps_stats,
        pair_backend=pair_backend,
    )
    new_ids = assigned_new.select(F.col(id_col).alias("id"))
    return drops.join(new_ids, "id", "left_semi")


def semantic_clusters(embs: DataFrame, *, n_cells: int = 16,
                      iters: int = 2, threshold: float = 0.95,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      max_cell_size: int | None = 10_000,
                      caps_stats: dict | None = None,
                      pair_backend: str = "pandas",
                      centroids=None,
                      stats: dict | None = None) -> DataFrame:
    """Closure-semantics twin of :func:`semantic_dedup`: the
    published SemDeDup keeps one representative per ε-similar GROUP,
    so chains matter — here the within-cell ≥-threshold pairs feed
    :func:`dedup_clusters` (iterative connected components) and every
    member maps to its component's minimum id. Returns ``(id,
    cluster)`` for every document that belongs to a multi-member
    group; feed it to :func:`resolve_duplicates` /
    :func:`resolve_duplicates_best` for retention, exactly like the
    text-side cluster flow. The greedy order-free drop rule of
    :func:`semantic_dedup` is the cheaper one-aggregate variant; this
    one adds the CC loop's O(log diameter) rounds — similarity chains
    are short in practice, so the loop converges in a handful.
    ``stats`` forwards to dedup_clusters' convergence accounting;
    the other knobs match semantic_dedup.
    """
    from remote_storage_adapter_spark.operators.similarity import (
        ivf_index,
        ivf_train,
    )

    if centroids is not None:
        assigned = ivf_index(embs, id_col=id_col, vec_col=vec_col,
                             seed_rows=centroids)
    else:
        assigned, _ = ivf_train(embs, n_cells=n_cells, iters=iters,
                                id_col=id_col, vec_col=vec_col)
    assigned = _pin(assigned.select(id_col, vec_col, "cell"))
    assigned.count()
    if max_cell_size is not None:
        cell_counts = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("_n"))
        if caps_stats is not None:
            caps_stats.update(_cap_stats(
                cell_counts, "_n", max_cell_size,
                "dropped_cell_members", "max_cell_seen",
            ))
        assigned = assigned.join(
            cell_counts.filter(F.col("_n") > max_cell_size)
            .select("cell"),
            "cell", "left_anti",
        )
    pair_fn = (embedding_near_dup_pairs_pandas
               if pair_backend == "pandas" else embedding_near_dup_pairs)
    pairs = pair_fn(
        assigned, threshold=threshold, block_col="cell",
        id_col=id_col, vec_col=vec_col,
    ).select("id_a", "id_b")
    return dedup_clusters(pairs, stats=stats)


def _simhash_banded(fp_df: DataFrame, max_hamming: int,
                    buckets: int) -> DataFrame:
    """Band (id, fp) fingerprints into pigeonhole chunks with the
    combined partition key ``ck = chunk·buckets + pmod(key, buckets)``
    — the banded at-rest shape of the SimHash index (single partition
    column, so the shared staged-rename publisher and compactor apply
    unchanged)."""
    if not 1 <= max_hamming <= 31:
        raise ValueError(
            f"max_hamming must be in [1, 31], got {max_hamming} — for "
            f"radius 0 group on the exact fingerprint instead")
    chunks = max_hamming + 1
    width = 64 // chunks
    banded = fp_df.select(
        "id", "fp",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("fp"), c * width)
                .bitwiseAND(F.lit((1 << width) - 1)).alias("key"),
            )
            for c in range(chunks)
        ])).alias("b"),
    ).select("id", "fp", F.col("b.chunk").alias("chunk"),
             F.col("b.key").alias("key"))
    return banded.withColumn(
        "ck",
        (F.col("chunk") * buckets
         + F.pmod(F.col("key"), F.lit(buckets))).cast("int"))


def _first_agree_only(chunk_col, xor_col, chunks: int, width: int):
    """Filter that emits each candidate pair only from its LOWEST
    agreeing chunk. Key equality at chunk c means chunk c of the
    fingerprint XOR is zero, so a pair joins once per agreeing chunk;
    requiring every LOWER chunk of the XOR to be nonzero makes
    exactly one chunk's row survive — the pair set is identical, but
    the per-pair dedup no longer has to shuffle every candidate
    (r8: the dropDuplicates exchange was the simhash probes' largest
    post-join cost; it now touches only verified pairs)."""
    mask = F.lit((1 << width) - 1).cast("long")
    cond = F.lit(True)
    for cp in range(chunks - 1):
        nz = F.shiftrightunsigned(xor_col, cp * width) \
            .bitwiseAND(mask) != F.lit(0)
        cond = cond & ((chunk_col <= F.lit(cp)) | nz)
    return cond


def reset_managed_tables(spark, *tables: str) -> None:
    """Drop catalog tables AND their managed warehouse directories.
    A previous session's warehouse dirs outlive the in-memory
    catalog, and ``saveAsTable`` refuses to create a table over a
    leftover location — every index (re)build goes through this.
    Contract: unqualified table names in the DEFAULT database (the
    managed location is ``{warehouse}/{lowercase(name)}`` there;
    catalog identifiers are case-insensitive, so the delete targets
    the lowercased path)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        p = jvm.org.apache.hadoop.fs.Path(f"{wh}/{t.lower()}")
        p.getFileSystem(hconf).delete(p, True)


def table_live(spark, table: str) -> bool:
    """True iff ``table`` exists AND holds at least one row — the
    shared ledger-liveness probe of the catalog-ledger replay
    protocols (an existing-but-empty ledger means a bootstrap
    attempt crashed before its first row landed and must replay)."""
    return (spark.catalog.tableExists(table)
            and spark.table(table).limit(1).count() > 0)


def _simhash_save(banded: DataFrame, table: str, *, mode: str,
                  table_buckets: int, n_ck: int, fanout: int) -> None:
    """Write banded fingerprints as the index's at-rest shape: a
    catalog table partitioned by ``ck`` (lookup/batch partition
    pruning) and bucketed by (chunk, key) (the Hamming join's keys —
    the bucketed scan arrives pre-distributed, so the reference side
    of :func:`simhash_join_indexed` never re-shuffles). The explicit
    repartition bounds the file count: one writer task per ``ck``
    directory (``fanout`` > 1 salt-splits each ``ck`` across that
    many writers for corpus-scale builds, the K1 fan-out pattern)."""
    if fanout > 1:
        part = banded.repartition(
            n_ck * fanout, F.col("ck"),
            F.pmod(F.xxhash64("id"), F.lit(fanout)))
    else:
        part = banded.repartition(F.col("ck"))
    (part.write.mode(mode).partitionBy("ck")
     .bucketBy(table_buckets, "chunk", "key").sortBy("key", "id")
     .saveAsTable(table))


def simhash_write_index(docs: DataFrame, table: str, *,
                        max_hamming: int = 3, buckets: int = 64,
                        table_buckets: int = 8, fanout: int = 1,
                        id_col: str = "doc_id", text_col: str = "text",
                        hash_mode: str = "xx",
                        fp_col: str | None = None) -> None:
    """Materialize the SimHash index: fingerprint and band the corpus
    ONCE into a catalog table — the sign-once contract the MinHash
    and ANN indexes already have, for the Hamming-radius family.

    At-rest shape (the r7 rewrite — the r6 path-partitioned parquet
    layout made every :func:`simhash_join_indexed` batch re-shuffle
    the whole banded reference, because disk partitioning doesn't
    pre-distribute a shuffle join):

    - partitioned by ``ck``: single-fingerprint probes
      (:func:`simhash_lookup`) and small batches prune to their
      banded keys' partitions at plan time (``PartitionFilters``);
    - bucketed by (chunk, key) — exactly the join keys, the
      :func:`minhash_index` pattern — so the join reads the
      reference PRE-DISTRIBUTED (``SelectedBucketsCount`` in the
      scan, no reference-side Exchange; plan-locked in test_scale).

    Banding is a pure function of the fingerprint (no trained
    state), so :func:`simhash_append` extends the table freely —
    same ``max_hamming``/``buckets``/``table_buckets``/``hash_mode``
    as the build, unique ids. Appends keep the bucket metadata (the
    scan groups files by bucket id across partition dirs), so no
    path compactor is needed or applicable."""
    spark = docs.sparkSession
    fp = _simhash_fp_frame(docs, id_col, text_col, hash_mode, fp_col)
    reset_managed_tables(spark, table, f"{table}_applied")
    _simhash_save(_simhash_banded(fp, max_hamming, buckets), table,
                  mode="overwrite", table_buckets=table_buckets,
                  n_ck=(max_hamming + 1) * buckets, fanout=fanout)
    # build marker: a live ledger tells simhash_append_exactly_once
    # this index is PREBUILT, so its bootstrap branch (rebuild from
    # the batch alone) can never clobber a built corpus; a crash
    # landing data but not this row replays the build cleanly
    spark.createDataFrame([(-1,)], "batch_id long") \
        .write.mode("append").saveAsTable(f"{table}_applied")


def simhash_append(docs: DataFrame, table: str, *,
                   max_hamming: int = 3, buckets: int = 64,
                   table_buckets: int = 8, fanout: int = 1,
                   id_col: str = "doc_id", text_col: str = "text",
                   hash_mode: str = "xx",
                   fp_col: str | None = None) -> None:
    """Incrementally band new documents into a
    :func:`simhash_write_index` table (plain append — at-least-once;
    the exactly-once form is :func:`simhash_append_exactly_once`).
    Band parameters and ``table_buckets`` must match the build."""
    fp = _simhash_fp_frame(docs, id_col, text_col, hash_mode, fp_col)
    _simhash_save(_simhash_banded(fp, max_hamming, buckets), table,
                  mode="append", table_buckets=table_buckets,
                  n_ck=(max_hamming + 1) * buckets, fanout=fanout)


def simhash_append_exactly_once(docs: DataFrame, table: str,
                                batch_id: int, *,
                                max_hamming: int = 3, buckets: int = 64,
                                table_buckets: int = 8,
                                fanout: int = 1,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                hash_mode: str = "xx",
                                fp_col: str | None = None) -> bool:
    """:func:`simhash_append` under the catalog-ledger replay
    protocol (the :mod:`streaming.dedup` MinHash maintainer's
    pattern, single-table form): applied batch ids live in a
    ``{table}_applied`` catalog table riding the index, so even a
    fresh-checkpoint reprocess of the same landing files skips
    already-applied batches. Returns True if this call applied the
    batch. A stream-born index bootstraps from its first batch
    (empty ledger → overwrite build); a :func:`simhash_write_index`
    prebuild leaves a ``batch_id = -1`` marker so appends never
    mistake it for an unborn index.

    Crash windows: an empty/missing ledger with NO data table
    replays the bootstrap in overwrite mode (idempotent — a mid-job
    bootstrap crash commits neither the table nor its catalog
    entry); an empty ledger WITH an existing data table means a
    prebuild crashed between its data commit and its ``-1`` marker,
    so the batch APPENDS — the table-existence check backstops the
    marker and overwrite can never clobber a built corpus; each
    ``saveAsTable`` append is job-atomic; the one residual window —
    append committed, crash before the ledger row lands — re-appends
    the batch on replay, and a double-applied SimHash batch is
    RESULT-idempotent: the banded row carries its own fingerprint
    (no signature join-back to fan out), and both probes end in
    ``dropDuplicates``, so duplicate rows cost storage, never wrong
    pairs."""
    spark = docs.sparkSession
    ledger = f"{table}_applied"
    ledger_live = table_live(spark, ledger)
    if ledger_live and spark.table(ledger).filter(
            F.col("batch_id") == batch_id).limit(1).count() > 0:
        return False
    if not ledger_live and not spark.catalog.tableExists(table):
        # first batch of a stream-born index: build in overwrite mode
        simhash_write_index(docs, table, max_hamming=max_hamming,
                            buckets=buckets,
                            table_buckets=table_buckets,
                            fanout=fanout, id_col=id_col,
                            text_col=text_col, hash_mode=hash_mode,
                            fp_col=fp_col)
    else:
        simhash_append(docs, table, max_hamming=max_hamming,
                       buckets=buckets, table_buckets=table_buckets,
                       fanout=fanout, id_col=id_col,
                       text_col=text_col, hash_mode=hash_mode,
                       fp_col=fp_col)
    spark.createDataFrame([(int(batch_id),)], "batch_id long") \
        .write.mode("append").saveAsTable(ledger)
    return True


def simhash_join_indexed(spark, table: str, incoming: DataFrame, *,
                         max_hamming: int = 3, buckets: int = 64,
                         id_col: str = "doc_id", text_col: str = "text",
                         hash_mode: str = "xx",
                         prune: bool = True,
                         fp_col: str | None = None) -> DataFrame:
    """Hamming-radius join of an incoming batch against a
    materialized :func:`simhash_write_index` — the recurring at-scale
    operation: the reference corpus was fingerprinted once at
    build/append time, arrives PRE-DISTRIBUTED on the join keys
    (bucketed scan — only the incoming batch shuffles), and with
    ``prune`` the scan is first partition-pruned to the batch's own
    banded ``ck`` set (a bounded driver list: at most
    ``(max_hamming+1)·buckets`` values — decisive for small batches,
    a no-op for corpus-sized ones). Any pair within ``max_hamming``
    agrees exactly on ≥ 1 chunk (pigeonhole), so candidates join on
    (chunk, key) and verify with ``bit_count(xor)``. Returns
    (id_in, id_ref, hamming); self-matches (same id on both sides)
    are dropped, so probing the index's own corpus reproduces
    :func:`simhash_pairs` under an id ordering (equality-locked in
    tests)."""
    fpq = _pin(_simhash_fp_frame(incoming, id_col, text_col,
                                 hash_mode, fp_col))
    bq = _simhash_banded(fpq, max_hamming, buckets)
    idx = spark.table(table)
    if prune:
        cks = sorted(r["ck"]
                     for r in bq.select("ck").distinct().collect())
        idx = idx.filter(F.col("ck").isin(cks))
    bq, idx = bq.alias("q"), idx.alias("r")
    chunks = max_hamming + 1
    width = 64 // chunks
    xor = F.col("q.fp").bitwiseXOR(F.col("r.fp"))
    return (
        bq.join(
            idx,
            (F.col("q.chunk") == F.col("r.chunk"))
            & (F.col("q.key") == F.col("r.key"))
            & (F.col("q.id") != F.col("r.id")),
        )
        # emit each pair from its lowest agreeing chunk only — the
        # join stage itself dedups the multi-chunk fan-out, so the
        # dropDuplicates below (kept for the double-applied-append
        # idempotence contract) shuffles verified pairs, not every
        # candidate
        .filter(_first_agree_only(F.col("q.chunk"), xor, chunks, width))
        .select(
            F.col("q.id").alias("id_in"),
            F.col("r.id").alias("id_ref"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_in", "id_ref"])
    )


def simhash_lookup(spark, table: str, fp: int, *,
                   max_hamming: int = 3,
                   buckets: int = 64) -> DataFrame:
    """All indexed documents within ``max_hamming`` of one
    fingerprint — the serving-path probe: the ``ck`` filter prunes to
    ``max_hamming+1`` of ``(max_hamming+1)·buckets`` partition
    directories at plan time (assert ``PartitionFilters``), then the
    exact key filter and the XOR verify run on the pruned scan only.
    Returns (id, fp, hamming)."""
    chunks = max_hamming + 1
    width = 64 // chunks
    probes = []
    for c in range(chunks):
        key = (fp >> c * width) & ((1 << width) - 1)
        probes.append((c, key, c * buckets + key % buckets))
    cks = sorted({ck for _, _, ck in probes})
    keys = [(c, k) for c, k, _ in probes]
    idx = spark.table(table).filter(F.col("ck").isin(cks))
    match_key = None
    for c, k in keys:
        cond = (F.col("chunk") == c) & (F.col("key") == k)
        match_key = cond if match_key is None else (match_key | cond)
    return (
        idx.filter(match_key)
        .select(
            "id", "fp",
            F.bit_count(
                F.col("fp").bitwiseXOR(F.lit(fp).cast("long"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id"])
        .filter(F.col("hamming") <= max_hamming)
    )
