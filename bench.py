"""Headline benchmark (driver contract).

Runs the flagship queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value", "unit", "queries", "env", "sf"}, the
per-row median walls. The full record goes to BENCH_LOCAL.json: every
rep's wall, and each row's engine work per timed rep (``layers``: jobs,
stages, tasks, task CPU, bytes and rows read, shuffle and spill bytes,
files and partitions scanned), folded from the session's event log.

The query set mirrors BASELINE.md's measurable surface: read-path
matcher+range+downsample latency, rollup tier runtime, ingest-transform
throughput — plus the extension headliners (dedup, similarity, text).
"""

from __future__ import annotations

import json
import os
import pathlib
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.eventlog import COUNTERS, group_counters  # noqa: E402
from remote_storage_adapter_spark.session import get_spark  # noqa: E402
from remote_storage_adapter_spark import queries as Q  # noqa: E402
from remote_storage_adapter_spark.operators.ingest import to_metrics  # noqa: E402
from remote_storage_adapter_spark.sources.tables import load_table  # noqa: E402

import pyspark.sql.functions as F  # noqa: E402


def bench_ingest_transform(spark, sf_dir):
    """W1-W8+F1 throughput over the events stream (samples shape)."""
    ev = load_table(spark, sf_dir, "events")
    samples = ev.select(
        (F.unix_micros(F.col("ts")) / 1000).cast("long").alias("ts_ms"),
        F.col("event_type").alias("name"),
        F.map_from_arrays(
            F.array(F.lit("__name__"), F.lit("user_id")),
            F.array(F.col("event_type"), F.col("user_id").cast("string")),
        ).alias("labels"),
        F.col("value").alias("val"),
    )
    return to_metrics(samples)


def bench_quality_score(spark, sf_dir):
    """Hashed-linear classifier scoring (r7): the deployment path
    (explode → bucket count → broadcast weight join → sigmoid) over
    every document. Reduced to a 1-row aggregate because the
    harness's ``count()`` on the raw result would let Catalyst
    eliminate the unique-key left join and skip the scoring work."""
    return Q.q_text_quality_score(spark, sf_dir).agg(
        F.sum("score").alias("sum_score"),
        F.count(F.lit(1)).alias("n"))


def bench_write_metrics(spark, sf_dir):
    """K1 sort + date-partitioned fan-out write (VERDICT r5 next #2).

    Writes the W1-W8 ingest output to a scratch table in overwrite
    mode — the write executes eagerly inside the timed call; the
    returned 1-row frame keeps the harness's ``count()`` trivial.
    Measures the path the r6 fan-out fix changed: one exchange on
    (date, hash(name) % k), per-task (date, name, ts) sort, dynamic
    partition write."""
    from remote_storage_adapter_spark.operators.ingest import (
        write_metrics,
    )

    m = bench_ingest_transform(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_bench_write_{tag}")
    write_metrics(m, path, mode="overwrite")
    return spark.range(1)


def bench_dedup_minhash_lsh(spark, sf_dir):
    """OPH fast path (one xxhash64 pass per shingle) — the throughput
    variant; the registry's dedup_minhash_lsh runs the md5-portable
    mode (capped production profile + caps:* accounting legs) so the
    pair set AND the drop accounting are DuckDB-oracle-checked."""
    from remote_storage_adapter_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.2)


#: sf_dir → persisted production-profile pair frame (see below)
_CLUSTER_PAIRS: dict = {}


def bench_dedup_clusters(spark, sf_dir):
    """Iterative connected components over the production-profile
    (df-capped) n-gram pairs; the registry's dedup_clusters runs the
    exact-mode pairs for the oracle.

    The pair input is persisted + materialized ONCE per sf (memoized
    here) so the timed reps measure the CC loop alone — pair-generation
    variance was most of this row's bench spread (VERDICT r4 next #4);
    the pair pipeline's own cost is what the dedup_ngram_jaccard /
    dedup_minhash_lsh rows measure. Rebuilt automatically if a
    clearCache dropped the memoized frame."""
    from remote_storage_adapter_spark.operators import dedup as D

    pairs = _CLUSTER_PAIRS.get(sf_dir)
    if pairs is None or not pairs.is_cached:
        docs = load_table(spark, sf_dir, "documents")
        pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.2).persist()
        pairs.count()
        _CLUSTER_PAIRS[sf_dir] = pairs
    return D.dedup_clusters(pairs)


def bench_dedup_simhash_indexed(spark, sf_dir):
    """Incoming 10% batch Hamming-joined against the other 90% as a
    MATERIALIZED SimHash index (sign-once contract for the Hamming
    family; the index is rebuilt untimed by warm_indexes each run —
    timed reps measure the per-batch join only)."""
    from remote_storage_adapter_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    table = _simhash_bench_table(sf_dir)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    return D.simhash_join_indexed(spark, table, batch, max_hamming=3,
                                  buckets=16)


def _simhash_bench_table(sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return f"bench_sh_idx_{tag}"


def bench_text_search_indexed(spark, sf_dir):
    """Probe of the materialized bucket-partitioned inverted index
    (BM25 retrieval without touching the corpus — partition-pruned to
    the query terms' buckets). The index build is warmed untimed in
    warm_indexes(); this measures the probe path only."""
    from remote_storage_adapter_spark.operators import text as TX
    from remote_storage_adapter_spark.queries import (
        SEARCH_QUERY,
        _scratch_index_path,
    )

    path = _scratch_index_path("text", sf_dir)
    return TX.bm25_search_indexed(spark, path, SEARCH_QUERY, k=10,
                                  buckets=16)


def bench_simsearch_lsh_indexed(spark, sf_dir):
    """Probe of the materialized bucket-partitioned LSH index — the
    plan actually run at 100× (partition pruning before the scan).
    The index build is warmed untimed in warm_indexes(); this
    measures the probe path only."""
    from remote_storage_adapter_spark.operators import similarity as S
    from remote_storage_adapter_spark.queries import (
        _query_vector,
        _scratch_index_path,
    )

    qv = _query_vector(spark, sf_dir)
    path = _scratch_index_path("lsh", sf_dir)
    return S.lsh_topk_indexed(spark, path, qv, k=10, n_planes=8,
                              multi_probe=True)


def bench_simsearch_ivf_indexed(spark, sf_dir):
    """Probe of the materialized cell-partitioned IVF index (cell
    choice from the driver-held centroids, scan prunes to 4 of 16
    cells). Index build is warmed untimed in warm_indexes()."""
    import math

    from remote_storage_adapter_spark.operators import similarity as S
    from remote_storage_adapter_spark.queries import (
        _query_vector,
        _scratch_index_path,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    seeds = (embs.orderBy(F.col("vec_id")).limit(16)
             .select("vec_id", "embedding").collect())
    qn = math.sqrt(sum(x * x for x in qv)) or 1.0

    def cos(v):
        n = math.sqrt(sum(float(x) * float(x) for x in v)) or 1.0
        return sum(float(x) * y for x, y in zip(v, qv)) / (n * qn)

    probe = [r["vec_id"] for r in sorted(
        seeds, key=lambda r: (-cos(r["embedding"]), r["vec_id"]))[:4]]
    path = _scratch_index_path("ivf", sf_dir)
    return S.ivf_topk_indexed(spark, path, probe, qv, k=10)


def bench_dedup_cross_join(spark, sf_dir):
    """Cross-corpus fuzzy join in the production profile (OPH
    signatures + bucket caps); the registry's dedup_cross_join runs
    the md5-portable uncapped mode for the oracle."""
    from remote_storage_adapter_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    reference = docs.filter(F.col("doc_id") % 2 == 0)
    return D.minhash_lsh_join(incoming, reference, num_hashes=64,
                              bands=16, threshold=0.2)


def bench_dedup_cross_join_indexed(spark, sf_dir):
    """Incoming batch joined against the MATERIALIZED MinHash index —
    the recurring at-scale operation (the reference corpus is signed
    once into bucketed catalog tables; every batch joins against
    pre-distributed scans). Shaped like real usage: the incoming side
    is a SMALL batch (10% of docs) against the other 90% as the
    reference — per-batch cost must scale with the batch, not the
    corpus (dedup_cross_join's 50/50 split measures the one-shot
    two-corpus join instead). The index build runs on the first
    (untimed warm-up) call per sf; timed reps measure the per-batch
    join: sign the incoming side + bucketed candidate join +
    signature join-back."""
    from remote_storage_adapter_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 == 1)
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    prefix = f"bench_mh_idx_{tag}"
    if not spark.catalog.tableExists(f"{prefix}_banded"):
        # clear stale managed-table locations: a previous session's
        # warehouse dirs outlive the in-memory catalog, and
        # saveAsTable refuses to create over them
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        wh = spark.conf.get("spark.sql.warehouse.dir")
        for t in ("banded", "sigs", "counts", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
            p = jvm.org.apache.hadoop.fs.Path(f"{wh}/{prefix}_{t}")
            p.getFileSystem(hconf).delete(p, True)
        reference = docs.filter(F.col("doc_id") % 10 != 1)
        D.minhash_index(reference, prefix, num_hashes=64, bands=16)
    return D.minhash_lsh_join_indexed(
        spark, prefix, incoming, num_hashes=64, bands=16,
        threshold=0.2)


def bench_dedup_embedding_cosine(spark, sf_dir):
    """Label-blocked cosine pair operator alone — the registry row
    grew sem/caps legs in r6 (Lloyd training + within-cell drops);
    this row keeps measuring what it measured through r5 so the
    round-over-round series stays comparable. The semantic decision
    pipeline has its own row below."""
    from remote_storage_adapter_spark.operators import dedup as D

    embs = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dup_pairs(embs, threshold=0.3).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def bench_dedup_semantic(spark, sf_dir):
    """SemDeDup production profile: 2-round Lloyd training +
    zero-shuffle cell assignment + within-cell drop decisions with
    the cell-size cap ON."""
    from remote_storage_adapter_spark.operators import dedup as D

    embs = load_table(spark, sf_dir, "embeddings")
    return D.semantic_dedup(embs, n_cells=16, iters=2, threshold=0.3)


_BPE_MERGES: dict = {}


def bench_sample_dsir(spark, sf_dir):
    """DSIR selection end to end — two corpus-count scans, the
    broadcast dim-row λ build, the per-doc weight pass, Gumbel top-k
    (the oracled orphan sample_dsir is the sf0.01 correctness twin;
    this runs a production-ish dim)."""
    from remote_storage_adapter_spark.operators import dsir as DS

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    return DS.dsir_select(docs, target, 1000, dim=4096)


def bench_text_passage_dedup(spark, sf_dir):
    """Overlapping-window repeated-passage removal, production (fast)
    hash profile. The operator's final unique-key LEFT join would be
    ELIMINATED under a bare count() (the bench_write_metrics
    pattern), so wrap in a 1-row aggregate that reads the rebuilt
    text — forcing the full decision + reassembly pipeline."""
    from remote_storage_adapter_spark.operators import text as TX

    docs = load_table(spark, sf_dir, "documents")
    return TX.passage_dedup(docs, window=10, hash_mode="fast").agg(
        F.sum(F.length("dedup_text")).alias("chars"),
        F.sum("n_removed_tokens").alias("removed"))


def bench_bpe_segment(spark, sf_dir):
    """Distributed BPE apply (the recurring at-scale operation); the
    merge table is trained once per sf on the warm-up rep (driver-side
    over the bounded word-type top-k, like the index builds) and
    reused across timed reps."""
    from remote_storage_adapter_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    merges = _BPE_MERGES.get(sf_dir)
    if merges is None:
        merges = _BPE_MERGES[sf_dir] = B.bpe_train(
            docs, num_merges=500, max_word_types=20_000)
    return B.bpe_segment(docs, merges)


def bench_text_normalize(spark, sf_dir):
    """Unicode normalization scan (NFC + control strip + whitespace
    collapse, Arrow-batched pandas_udf). A bare count() would let
    Catalyst PRUNE the udf column entirely, so the row aggregates
    the normalized output."""
    from remote_storage_adapter_spark.operators import text as TX

    docs = load_table(spark, sf_dir, "documents")
    return TX.normalize_text(docs).agg(
        F.sum(F.length("norm_text")).alias("chars"),
        F.sum("delta_chars").alias("removed"))


def bench_exif_scrub(spark, sf_dir):
    """EXIF triage + metadata scrub end to end: plant a complete
    JPEG (APP1 Exif w/ GPS + COM + SOF0 header) per document, parse
    the GPS coordinates through the real TIFF IFD walk AND strip the
    metadata segments with the lossless byte splice — the two halves
    of an image-PII pass. Aggregates over both outputs so neither
    mapInPandas column can be pruned."""
    from remote_storage_adapter_spark.operators import multimodal as MM

    media = Q.exif_strip_planted_media(
        load_table(spark, sf_dir, "documents"))
    parsed = MM.exif_metadata(media).agg(
        F.sum("gps_lat").alias("lat_sum"),
        F.count("orientation").alias("n_exif"))
    scrubbed = MM.strip_metadata(media).agg(
        F.sum("removed").alias("removed"),
        F.sum(F.length("payload")).alias("kept"))
    return parsed.crossJoin(scrubbed)


def bench_url_curation(spark, sf_dir):
    """URL provenance pass end to end: plant a messy URL per document
    (case noise, userinfo, ports, unsorted tracking params, fragment;
    doc_id % 4096 residues so ~24 docs share each canonical URL at
    sf0.1), normalize + dedup (one hash agg + one join on norm_url)
    and roll up registrable-domain stats. Aggregates over canon_id
    and domain so neither branch can be pruned."""
    from remote_storage_adapter_spark.operators import web as W

    d = _url_curation_planted(spark, sf_dir)
    out = W.url_dedup(d, url_col="url", id_col="doc_id")
    host = W.host_of(F.col("url"))
    return out.withColumn(
        "domain", W.registrable_domain(host)).agg(
        F.countDistinct("norm_url").alias("n_urls"),
        F.countDistinct("domain").alias("n_domains"),
        F.sum("canon_id").alias("canon_sum"),
        F.sum((F.col("doc_id") == F.col("canon_id")).cast("long"))
        .alias("kept"))


def _url_curation_planted(spark, sf_dir):
    """The messy planted URL frame shared by bench_url_curation and
    bench_url_curation_approx (same input, exact vs HLL census)."""
    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id") % 4096
    s = lambda c: c.cast("string")  # noqa: E731
    url = F.concat(
        F.when(k % 2 == 1, "HTTP").otherwise("https"), F.lit("://"),
        F.when(k % 7 == 0, "user:pw@").otherwise(""),
        F.lit("WWW"), s(k % 97), F.lit(".Site"), s(k % 89), F.lit("."),
        F.when(k % 5 == 0, "co.uk").otherwise("com"),
        F.when(k % 2 == 1, ":80").otherwise(":443"),
        F.lit("/p/"), s(k % 13),
        F.concat(F.lit("?utm_source=track&b="), s(k % 7),
                 F.lit("&a="), s(k % 5)),
        F.when(k % 2 == 0, "#sec").otherwise(""),
    )
    return docs.select("doc_id", url.alias("url"))


def bench_url_curation_approx(spark, sf_dir):
    """The domain census on the HLL path (the 100 TB posture for
    url_curation, whose exact countDistinct expand dominates that
    row): same planted URLs, per-domain rollup with
    approx_count_distinct — one pass, no expand. Aggregates the
    rollup so every sketch is computed."""
    from remote_storage_adapter_spark.operators import web as W

    d = _url_curation_planted(spark, sf_dir)
    return W.domain_rollup(d, url_col="url", approx=True).agg(
        F.sum("n_rows").alias("rows_sum"),
        F.sum("n_urls").alias("urls_sum"),
        F.sum("n_hosts").alias("hosts_sum"),
        F.count(F.lit(1)).alias("n_domains"))


def bench_warc_extract(spark, sf_dir):
    """The composed crawl front-end: plant a single-response WARC
    archive per document (real doc text wrapped in HTML inside an
    HTTP message), walk the records (mapInPandas), extract visible
    text from the body (expression-only html_to_text) and normalize
    the target URI — WARC → documents in one pipeline. Aggregates
    over text length and distinct canonical URLs so nothing prunes."""
    from remote_storage_adapter_spark.operators import web as W
    from remote_storage_adapter_spark.sources import warc as WR

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    html = F.concat(
        F.lit("<html><head><script>var x='"), s(d % 97),
        F.lit("';</script></head><body><h1>H</h1><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" &amp; tail</p></body></html>"))
    uri = F.concat(F.lit("HTTPS://W"), s(d % 997),
                   F.lit(".Example.com:443/p/"), s(d % 131),
                   F.lit("?utm_source=t&b=1&a=2"))
    payload = F.encode(F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri,
        F.lit("\r\nWARC-Date: 2024-01-02T03:04:05Z\r\n"
              "Content-Length: "), s(F.octet_length(html) + 44),
        F.lit("\r\n\r\nHTTP/1.1 200 OK\r\nContent-Type: text/html"
              "\r\n\r\n"), html, F.lit("\r\n\r\n"),
    ), "UTF-8")
    recs = WR.warc_records(
        docs.select(d.alias("src_id"), payload.alias("payload")))
    resp = recs.filter(F.col("warc_type") == "response")
    return resp.select(
        W.html_to_text(F.decode(F.col("body"), "UTF-8")).alias("t"),
        W.url_normalize(F.col("target_uri")).alias("u"),
    ).agg(F.sum(F.length("t")).alias("chars"),
          F.countDistinct("u").alias("n_urls"),
          F.count(F.lit(1)).alias("n_docs"))


def bench_robots_gate(spark, sf_dir):
    """Crawl-compliance gate at corpus scale: 1000 planted per-host
    policies (4 rules each), one URL per document, the host-keyed
    join + per-candidate regexp_like + longest-pattern max-struct.
    Aggregates the verdict counts so the join can't prune."""
    from remote_storage_adapter_spark.operators import web as W
    from remote_storage_adapter_spark.sources import robots as RB

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    k = d % 1000
    host = F.concat(F.lit("h"), s(k), F.lit(".example.com"))
    path = (F.when(d % 3 == 0,
                   F.concat(F.lit("/private/p"), s(d % 17)))
            .when(d % 3 == 1, F.concat(F.lit("/ok/"), s(d % 29)))
            .otherwise(F.concat(F.lit("/tmp/"), s(d % 11))))
    urls = docs.select("doc_id", F.concat(F.lit("https://"), host,
                                          path).alias("url"))
    hosts = urls.select(
        W.host_of(F.col("url")).alias("host")).distinct().withColumn(
        "robots_txt",
        F.lit("User-agent: *\nDisallow: /private*\n"
              "Allow: /private/p1$\nDisallow: /tmp/\nAllow: /ok\n"))
    rules = RB.robots_rules(hosts)
    return W.robots_filter(urls, rules, url_col="url",
                           id_col="doc_id").agg(
        F.sum(F.col("allowed").cast("long")).alias("n_allowed"),
        F.count(F.lit(1)).alias("n"))


def bench_tar_shards(spark, sf_dir):
    """WebDataset-style shard ingestion: one planted 2-member ustar
    shard per document (constant headers, doc-dependent contents) →
    member walk (mapInPandas) → sample grouping (one hash agg on the
    (shard, key) pair). Aggregates over member sizes and grouped
    part counts so neither stage prunes."""
    from remote_storage_adapter_spark.sources import tar as TA

    mem = TA.tar_members(Q.tar_planted_shards(
        load_table(spark, sf_dir, "documents")))
    # byte total comes off the SAME grouped pass — a second
    # mem.agg() branch would run the tarfile walk twice and the row
    # would measure two walks, not one
    part_bytes = F.expr(
        "aggregate(map_values(parts), 0L, (a, x) -> a + octet_length(x))")
    return TA.webdataset_samples(mem, archive_local=True).agg(
        F.sum(F.size("parts")).alias("n_parts"),
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(part_bytes).alias("bytes"))


def bench_sft_render(spark, sf_dir):
    """Chat-template rendering over the corpus: 3-turn conversations
    per doc through the one-pass aggregate fold; aggregates rendered
    length and assistant-span mass so neither column prunes."""
    from remote_storage_adapter_spark.operators import sft as SF

    docs = load_table(spark, sf_dir, "documents")
    turns = F.array(
        F.struct(F.lit("system").alias("role"),
                 F.lit("be terse").alias("content")),
        F.struct(F.lit("user").alias("role"),
                 F.coalesce(F.col("text"),
                            F.lit("")).alias("content")),
        F.struct(F.lit("assistant").alias("role"),
                 F.col("lang").alias("content")))
    r = SF.render_chat(turns)
    return docs.select(
        F.length(r.getField("text")).alias("l"),
        F.aggregate(SF.assistant_spans(r), F.lit(0),
                    lambda a, s: a + s.getField("end")
                    - s.getField("start")).alias("m")).agg(
        F.sum("l").alias("chars"), F.sum("m").alias("mask_chars"))


def bench_image_near_dup(spark, sf_dir):
    """Perceptual image near-dup end to end: plant a COMPLETE valid
    9×2 grayscale PNG per document (18 doc-dependent grays → 16
    meaningful dHash bits, so fingerprints are diverse and pair
    output stays birthday-bound, ~n²/2¹⁶), run the REAL
    decode→luminance→resize→dHash mapInPandas, then the banded
    Hamming self-join (`dedup.hamming_pairs`). A 1-row aggregate over
    the pair columns forces the join output."""
    from remote_storage_adapter_spark.operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents")
    # hash-derived grays (NOT linear in doc_id — a linear recipe mod
    # 256 makes every doc_id residue class the identical image and
    # the pair output quadratic in n/256). adler32 of the 20 raw
    # bytes [0 g0..g8 0 g9..g17] in closed form; s1 ≤ 4591 and
    # s2 ≤ 45920, both < 65521 so no modulus. The whole payload ships
    # as ONE parsed expr (r14): the Column form (18 hash exprs + 19
    # unhex/lpad/hex byte-plants + two literal sums) cost ~0.3 s of
    # driver-side py4j round-trips PER TIMED REP — harness
    # construction time billed to the operator's row. Identical
    # bytes: same functions, same integer fold order, verified
    # aggregate-equal against the Column form when introduced.
    gs = [f"pmod(xxhash64(doc_id, {i}), 256)" for i in range(18)]
    s1 = "(1" + "".join(f" + {g}" for g in gs) + ")"
    s2 = ("(20" + "".join(f" + {gs[i]} * {19 - i}" for i in range(9))
          + "".join(f" + {gs[9 + i]} * {9 - i}" for i in range(9)) + ")")
    be2 = [f"unhex(lpad(hex({g}), 2, '0'))" for g in gs]
    head = ("89504E470D0A1A0A" "0000000D49484452"
            "0000000900000002" "0800000000" "00000000"
            "0000001F49444154" "7801" "011400EBFF" "00")
    tail = "00000000" "0000000049454E44" "00000000"
    payload = F.expr(
        "concat(X'" + head + "'," + ",".join(be2[:9]) + ",X'00',"
        + ",".join(be2[9:])
        + f",unhex(lpad(hex({s2} * 65536 + {s1}), 8, '0'))"
        + ",X'" + tail + "')")
    media = docs.select(F.col("doc_id").alias("media_id"),
                        payload.alias("payload"))
    return MM.image_near_dup_pairs(media, max_hamming=3).agg(
        F.count(F.lit(1)).alias("pairs"),
        F.sum("hamming").alias("hamming_sum"))


BENCH_QUERIES = {
    "read_downsample_q75": Q.q_read_downsample_q75,
    "read_downsample_auto_step": Q.q_read_downsample_auto_step,
    "read_matcher_regex": Q.q_read_matcher_regex,
    "read_multi_query_union": Q.q_read_multi_query_union,
    "rollup_tier_30s": Q.q_rollup_tier_30s,
    "rollup_lww": Q.q_rollup_lww,
    "ingest_transform": bench_ingest_transform,
    "write_metrics": bench_write_metrics,
    "tpch_q1": Q.q_tpch_q1,
    "tpch_top_nations": Q.q_tpch_top_nations,
    "tpch_order_rank": Q.q_tpch_order_rank,
    "events_asof_join": Q.q_events_asof_join,
    "events_range_join": Q.q_events_range_join,
    "dedup_exact": Q.q_dedup_exact,
    "dedup_minhash_lsh": bench_dedup_minhash_lsh,
    "dedup_embedding_cosine": bench_dedup_embedding_cosine,
    "dedup_semantic": bench_dedup_semantic,
    "dedup_clusters": bench_dedup_clusters,
    "dedup_cross_join": bench_dedup_cross_join,
    "dedup_cross_join_indexed": bench_dedup_cross_join_indexed,
    "dedup_simhash_indexed": bench_dedup_simhash_indexed,
    "mix_temperature": Q.q_mix_temperature,
    "simsearch_topk": Q.q_simsearch_topk,
    "simsearch_ivf": Q.q_simsearch_ivf,
    "simsearch_lsh_indexed": bench_simsearch_lsh_indexed,
    "simsearch_ivf_indexed": bench_simsearch_ivf_indexed,
    "simsearch_knn_join": Q.q_simsearch_knn_join,
    "sink_graphite_lines": Q.q_sink_graphite_lines,
    "text_quality": Q.q_text_quality,
    "text_tfidf": Q.q_text_tfidf,
    "text_bm25": Q.q_text_bm25,
    "text_chunks": Q.q_text_chunks,
    "text_repetition": Q.q_text_repetition,
    "text_pii_redact": Q.q_text_pii_redact,
    "text_contamination": Q.q_text_contamination,
    "text_shard_pack": Q.q_text_shard_pack,
    "text_line_dedup": Q.q_text_line_dedup,
    "text_search": Q.q_text_search,
    "text_search_indexed": bench_text_search_indexed,
    "text_search_batch": Q.q_text_search_batch,
    "text_lm": Q.q_text_lm,
    "text_lm2": Q.q_text_lm2,
    "text_manifest": Q.q_text_manifest,
    "sketch_hll_distinct": Q.q_sketch_hll_distinct,
    "sketch_cms_topk": Q.q_sketch_cms_topk,
    "sketch_hist_quantiles": Q.q_sketch_hist_quantiles,
    "sketch_bloom_membership": Q.q_sketch_bloom_membership,
    "multimodal_features": Q.q_multimodal_features,
    "multimodal_decode": Q.q_multimodal_decode,
    "multimodal_jpeg": Q.q_multimodal_jpeg,
    "text_quality_score": bench_quality_score,
    "sample_dsir": bench_sample_dsir,
    "bpe_segment": bench_bpe_segment,
    "text_passage_dedup": bench_text_passage_dedup,
    "image_near_dup": bench_image_near_dup,
    "text_normalize": bench_text_normalize,
    "multimodal_audio": Q.q_multimodal_audio,
    "exif_scrub": bench_exif_scrub,
    "url_curation": bench_url_curation,
    "url_curation_approx": bench_url_curation_approx,
    "warc_extract": bench_warc_extract,
    "robots_gate": bench_robots_gate,
    "tar_shards": bench_tar_shards,
    "sft_render": bench_sft_render,
}


#: rows that probe a materialized index: ``warm_indexes`` builds all
#: but dedup_cross_join_indexed's, which that row builds on its first
#: call (in bench, the untimed warm-up rep)
NEEDS_INDEX = frozenset({
    "simsearch_lsh_indexed", "simsearch_ivf_indexed",
    "text_search_indexed", "dedup_simhash_indexed",
    "dedup_cross_join_indexed",
})


def warm_indexes(spark, sf_dir):
    """Build the materialized indexes the indexed rows probe, untimed:
    those rows measure the PROBE (the recurring at-scale operation),
    not the one-time build. The simhash index is overwrite-rebuilt on
    every call (stale reuse would silently join against an outdated
    reference) as a bucketed catalog table, so the timed probe joins
    it with zero reference-side shuffle."""
    from remote_storage_adapter_spark.operators import dedup as D

    Q.q_simsearch_lsh_indexed(spark, sf_dir).count()
    Q.q_simsearch_ivf_indexed(spark, sf_dir).count()
    Q.q_text_search_indexed(spark, sf_dir).count()
    docs = load_table(spark, sf_dir, "documents")
    D.simhash_write_index(docs.filter(F.col("doc_id") % 10 != 0),
                          _simhash_bench_table(sf_dir), max_hamming=3,
                          buckets=16)


def _machine_state():
    """Contention/cold-cache telemetry (VERDICT r6 next #2): the r6
    bench recorded 3-10x inflation on short rows that turned out to
    be environmental — record 1-min load average and page-cache size
    with the run so a contaminated session is visible in the
    artifact instead of silently poisoning the round-over-round
    series."""
    state = {}
    try:
        state["load1"] = round(os.getloadavg()[0], 2)
    except OSError:  # load average unobtainable in some containers
        pass
    try:
        with open("/proc/meminfo") as fh:
            mem = dict(ln.split(":", 1) for ln in fh)
        state["cached_gb"] = round(
            int(mem["Cached"].strip().split()[0]) / 1024 ** 2, 1)
    except Exception:
        pass
    return state


def row_layers(log_dir, reps):
    """Each row's engine work per timed rep: the counters of its job
    group ``bench-{name}`` in the event log under ``log_dir``, divided
    by the row's rep count. The warm-up group ``bench-warm-{name}`` is
    not counted. Read the log only after the session stopped, when it
    is complete."""
    groups = group_counters(log_dir)
    out = {}
    for name, n in reps.items():
        rec = groups.get(f"bench-{name}", {})
        out[name] = {k: round(rec.get(k, 0) / n, 2) for k in COUNTERS}
    return out


def final_line(record):
    """The run's last stdout line, a compact view of the run record:
    2-dp walls, no spread map, so that it stays under a 2,000-char
    tail capture with every row in ``queries`` (r4's line with 36
    spreads at 3-dp overflowed it and the round's bench went unparsed
    — VERDICT r4 wrong #1)."""
    env_start, env_end = record["env_start"], record["env_end"]
    return json.dumps({
        "metric": record["metric"],
        "value": record["value"],
        "unit": record["unit"],
        "queries": {k: round(v, 2) for k, v in record["queries"].items()},
        # r9 verdict #3: machine state in the parsed line — load1 over
        # ~2 at either end, or a page cache that shrank mid-run, marks
        # the artifact contaminated; reps summarizes the per-row rep
        # floor (full map in BENCH_LOCAL.json)
        "env": {
            "load1_start": env_start.get("load1"),
            "load1_end": env_end.get("load1"),
            "cached_gb_start": env_start.get("cached_gb"),
            "cached_gb_end": env_end.get("cached_gb"),
            "reps_min": min(record["reps"].values()),
            "reps_max": max(record["reps"].values()),
        },
        "sf": record["sf"],
    }, separators=(",", ":"))


def _emit_final_line(line, spark):
    """Print the driver-parsed JSON line as the LAST bytes this
    process emits (VERDICT r12 wrong #1 / next #1).

    BENCH_r12.json was ``parsed: null``: the line printed fine, but
    the subsequent ``spark.stop()`` unleashed Python-daemon
    BrokenPipeError tracebacks on stderr that exceeded the driver's
    2,000-char combined tail capture and scrolled the line out. So:
    stop Spark FIRST with OS-level fd 2 parked on /dev/null (the
    daemon workers write tracebacks straight to the inherited fd —
    a sys.stderr swap can't intercept them), give straggler daemon
    threads a beat to finish spewing into the null sink, then print.
    fd 2 stays on /dev/null afterwards so any late async spew still
    can't land after the line. Belt-and-braces: a SIGTERM arriving
    during the stop still ships the line before exit."""
    import signal

    def _sigterm(_sig, _frm):
        try:
            os.write(1, (line + "\n").encode())
        finally:
            os._exit(0)

    try:
        signal.signal(signal.SIGTERM, _sigterm)
    except (ValueError, OSError):
        pass  # non-main thread / exotic platform: lose only the belt
    sys.stdout.flush()
    sys.stderr.flush()
    try:
        devnull = os.open(os.devnull, os.O_WRONLY)
        os.dup2(devnull, 2)
    except OSError:
        pass
    try:
        spark.stop()
    except Exception:
        pass
    time.sleep(1.0)  # drain window for async daemon-shutdown spew
    # ADVICE r13: disarm the belt before the normal print — a SIGTERM
    # landing between the print and process exit would otherwise emit
    # the line twice (harmless to a last-line parser, but ambiguous).
    try:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
    except (ValueError, OSError):
        pass
    print(line, flush=True)


def _time_rows(spark, sf_dir):
    """Time every row: one untimed warm-up rep in job group
    ``bench-warm-{name}``, then the timed reps in ``bench-{name}``.
    Returns the run record's per-row fields, in registry order."""
    from remote_storage_adapter_spark.operators import dedup as _D

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # queries whose r3→r4 deltas sat inside their measured spread get
    # extra reps so direction is resolvable (VERDICT r4 next #4);
    # target spread ≤10% of median
    extra_reps = {"dedup_clusters": max(reps, 7),
                  "simsearch_ivf": max(reps, 5),
                  "dedup_cross_join": max(reps, 7),
                  "dedup_cross_join_indexed": max(reps, 7),
                  "dedup_minhash_lsh": max(reps, 7),
                  "write_metrics": max(reps, 7),
                  # r7 verdict #4: the decode rows' Arrow/numpy-heavy
                  # Python workers make a single tail rep dominate a
                  # 3-rep max-min spread (0.605 s on a 0.549 s median);
                  # ≥5 reps puts them on the one-per-tail trimmed
                  # range like the other formerly-noisy rows
                  "multimodal_decode": max(reps, 5),
                  "multimodal_features": max(reps, 5),
                  # new r8 Python-worker rows start on the trimmed
                  # methodology from rep one
                  "multimodal_jpeg": max(reps, 5),
                  "bpe_segment": max(reps, 5),
                  "image_near_dup": max(reps, 5),
                  "text_normalize": max(reps, 5),
                  "exif_scrub": max(reps, 5),
                  "warc_extract": max(reps, 5),
                  "tar_shards": max(reps, 5),
                  "robots_gate": max(reps, 5),
                  "multimodal_audio": max(reps, 5)}
    # r7 verdict #7 (contention insurance): the r6 incident showed
    # machine noise lands on whichever rows run LATE — a fixed order
    # lets contamination systematically bias the same rows' series.
    # Rotate the row order per run with a recorded seed (set
    # SPARK_GRAFT_BENCH_ORDER_SEED to reproduce a specific order);
    # each row is still warmed untimed immediately before its own
    # timed reps, so order only changes which rows absorb ambient
    # noise, not any row's cache posture.
    order_seed = int(os.environ.get("SPARK_GRAFT_BENCH_ORDER_SEED",
                                    str(int(time.time()) % 100000)))
    bench_order = list(BENCH_QUERIES)
    random.Random(order_seed).shuffle(bench_order)
    print(f"# bench order seed: {order_seed}", file=sys.stderr)
    timings, spread, rep_counts, raw_runs = {}, {}, {}, {}
    sc = spark.sparkContext
    for name in bench_order:
        fn = BENCH_QUERIES[name]
        # one untimed warm-up rep per query: the first run pays
        # one-time costs the operator doesn't own (shuffle-file
        # creation, codegen compile, Arrow worker spin-up) — r3's
        # dedup_clusters spread was 3.4 s on a 4.6 s median and
        # dedup_exact's 1.4 s on 0.2 s, almost all first-rep noise
        # (VERDICT r3 next-round #5)
        # per-rep pin release (inside the loop, untimed): a repeated
        # call builds an identical plan, and Spark's cache manager maps
        # a re-persist of an identical plan onto the still-warm
        # InMemoryRelation from the previous rep — so with pins held
        # across reps, reps 2+ skip the signature pipeline entirely and
        # the median flips between warm-cache and cold-operator cost
        # depending on session history (r4 1.86 s vs r5 2.36 s for
        # dedup_minhash_lsh was this, not a plan change). Releasing
        # between reps makes every rep the full cold operator: honest
        # and iid (measured spread ≤10% vs bimodal before).
        sc.setJobGroup(f"bench-warm-{name}", "untimed warm-up rep")
        fn(spark, sf_dir).count()
        _D.unpersist_pinned(blocking=True)
        # settle the JVM before timing: evicted cache blocks and
        # shuffle buffers from the previous query otherwise surface as
        # GC pauses inside this query's reps (untimed, ~100 ms)
        sc._jvm.System.gc()
        sc.setJobGroup(f"bench-{name}", "timed reps")
        n_reps = extra_reps.get(name, reps)
        runs = []
        while len(runs) < n_reps:
            t0 = time.time()
            n = fn(spark, sf_dir).count()  # count() forces execution
            runs.append(time.time() - t0)
            # blocking: eviction must not race the next rep's timing
            _D.unpersist_pinned(blocking=True)
            if len(runs) == 1 and runs[0] < 1.5:
                # short rows (r8 verdict #6: 18/63 rows blew the ≤20%
                # trimmed-spread bar, all sub-1.5 s where absolute
                # spread is machine noise): ≥7 reps so the one-per-
                # tail trim has 5 central samples. Keyed on the FIRST
                # TIMED rep, not the warm-up — the warm-up includes
                # cold-cache/JIT costs and would let exactly the
                # noisy sub-1.5 s steady-state rows escape the floor.
                n_reps = max(n_reps, 7)
        rep_counts[name] = n_reps
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 3)  # median
        # max-min inflates mechanically with rep count and one fs
        # stall poisons it (r6: dedup_cross_join_indexed spread 6.4 s
        # on a 2.6 s median from a single 8.4 s tail rep) — for rows
        # with >= 5 reps report the one-per-tail trimmed range as the
        # round-over-round noise signal; raw runs stay recorded
        trimmed = runs[1:-1] if len(runs) >= 5 else runs
        spread[name] = round(trimmed[-1] - trimmed[0], 3)
        raw_runs[name] = [round(r, 3) for r in runs]
        print(f"# {name}: {timings[name]}s median of {n_reps} "
              f"(spread {spread[name]}s, {n} rows)", file=sys.stderr)

    # report in the canonical registry order regardless of the run's
    # rotation — round-over-round artifact diffs stay line-stable
    return {
        "queries": {k: timings[k] for k in BENCH_QUERIES},
        "spread": {k: spread[k] for k in BENCH_QUERIES},
        # per-query actual rep counts — the extra_reps rows run more
        # than the base (ADVICE r5: a single scalar misstated exactly
        # those rows); base_reps is the configured default
        "reps": {k: rep_counts[k] for k in BENCH_QUERIES},
        "base_reps": reps,
        # sorted per-rep walls: max-min 'spread' inflates with rep
        # count; the raw runs let a reader compute robust stats
        "runs": {k: raw_runs[k] for k in BENCH_QUERIES},
        # per-run row-order rotation (r7 verdict #7): the seed
        # reproduces the order; the order itself shows which rows ran
        # late (where ambient contention lands)
        "order_seed": order_seed,
        "order": bench_order,
    }


def main():
    # capture BEFORE the session spins up: a bench started on a busy
    # machine (pytest, sf1 generation, another Spark) is the one
    # documented way to get unexplainable per-row inflation
    env_start = _machine_state()
    if env_start.get("load1", 0.0) > 2.0:
        print(f"# WARNING: load1={env_start['load1']} at bench start "
              f"— concurrent work inflates rows (r6: up to 10x on "
              f"short rows); results suspect", file=sys.stderr)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # the event log says where each row's time went (jobs, stages,
    # task CPU, bytes): it is folded per row's job group into the
    # record's "layers" once the session has stopped. The log grows to
    # ~400 MB at sf0.1, so a SIGTERM (a timeout's kill) unwinds through
    # the finally below instead of leaving it behind.
    import signal

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    log_dir = tempfile.mkdtemp(prefix="spark_graft_bench_events_")
    try:
        spark = get_spark("bench", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": pathlib.Path(log_dir).as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        spark.sparkContext.setLogLevel("ERROR")

        # warm the JVM, parquet footers, and the Python/Arrow worker
        # pool once so timings measure the queries, not process startup
        load_table(spark, sf_dir, "events").count()
        import pandas as pd  # noqa: F401

        spark.range(64).repartition(32).mapInPandas(
            lambda it: (pdf for pdf in it), "id long"
        ).count()
        warm_indexes(spark, sf_dir)

        timed = _time_rows(spark, sf_dir)
        record = {
            "metric": "headline_queries_total_runtime",
            "value": round(sum(timed["queries"].values()), 3),
            "unit": "sec",
            **timed,
            # machine state at run start/end: a load1 over ~2 or a
            # cache that shrank mid-run marks the session contaminated
            "env_start": env_start,
            "env_end": _machine_state(),
            "ts": round(time.time(), 1),
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
        _emit_final_line(final_line(record), spark)
        record["layers"] = row_layers(log_dir, record["reps"])
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_LOCAL.json")
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
