"""MinHash index PROBE wall vs reference-corpus size.

A probe that scans the whole reference per micro-batch is O(corpus)
in the hot path of the curation gate. This tool measures that term
directly: it probes the SAME fixed 500-doc batch against
partitioned-layout reference indexes of four sizes and reports the
probe wall (signing split out via the ``sigs=`` threading contract,
so the timed probe is pure candidate-join + cap-check + verify-join).

Cells
-----
- ``real-5k``: sf0.1 documents, index built the normal way
  (``minhash_index``) — realistic bucket skew anchor.
- ``synth-50k`` / ``synth-500k`` / ``synth-5M``: fabricated
  banded/sigs/counts tables written by ``write_minhash_index_tables``
  (the probe never inspects how the index was produced). Fabricated
  rows use buckets in ``[0, n_docs)`` which cannot collide with the
  real xxhash64 bucket space, so the candidate set is EXACTLY the 500
  seeded real postings in every cell and the spread across cells
  isolates the corpus-scan term (banded scan + counts aggregation +
  sigs verify scan), not result-size effects.

Each cell probes twice per rep: caps ON (default max_bucket_size,
reads the counts table — the curate-gate configuration) and caps OFF.

Usage::

    python tools/bench_probe_scale.py [--cells 5k,50k,500k,5m]

(~5-10 min full run; prints one dict per cell and a final RESULT line.)
"""
import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from remote_storage_adapter_spark.operators import dedup as D  # noqa: E402
from remote_storage_adapter_spark.session import get_spark  # noqa: E402

BATCH_N = 500
BANDS = 16
NUM_HASHES = 64
REPS = 3


def _clean(spark, prefix):
    tables = [f"{prefix}_{t}"
              for t in ("banded", "sigs", "counts", "meta", "applied")]
    D.reset_managed_tables(spark, *tables)
    wh = spark.conf.get("spark.sql.warehouse.dir",
                        "file:/root/repo/spark-warehouse")
    wh = wh.removeprefix("file:")
    for t in tables:
        shutil.rmtree(os.path.join(wh, t.lower()), ignore_errors=True)


def _batch_docs(spark):
    """The fixed probe batch: 500 real sf0.1 docs, ids shifted far
    above any cell's id space so self-matches never fire."""
    docs = (spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").limit(BATCH_N))
    return spark.createDataFrame(
        docs.select((F.col("doc_id") + 50_000_000).alias("doc_id"),
                    "text").collect(),
        "doc_id long, text string")


def _build_real(spark, docs, prefix):
    with D.cache_scope():
        t0 = time.monotonic()
        D.minhash_index(docs, prefix, num_hashes=NUM_HASHES, bands=BANDS)
        return time.monotonic() - t0


def _fabricate(spark, batch, prefix, n_docs):
    """Fabricate an n_docs reference index + seed it with the probe
    batch's REAL postings (shifted ids) so candidates exist and are
    identical across cells."""
    seed_prefix = f"{prefix}_seed"
    _clean(spark, seed_prefix)
    seeded = batch.select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"), "text")
    with D.cache_scope():
        D.minhash_index(seeded, seed_prefix, num_hashes=NUM_HASHES,
                        bands=BANDS)
    seed_banded = spark.table(f"{seed_prefix}_banded") \
        .select("id", "band", "bucket")
    seed_sigs = spark.table(f"{seed_prefix}_sigs").select("id", "sig")

    synth_banded = (
        spark.range(n_docs * BANDS)
        .select((F.col("id") / BANDS).cast("long").alias("id"),
                (F.col("id") % BANDS).cast("int").alias("band"))
        .withColumn("bucket",
                    F.pmod(F.xxhash64("id", "band"), F.lit(n_docs))))
    banded = synth_banded.unionByName(seed_banded)
    synth_sigs = (
        spark.range(n_docs)
        .select(F.col("id"),
                F.expr(f"transform(sequence(0, {NUM_HASHES - 1}), "
                       f"i -> xxhash64(id, i))").alias("sig")))
    sigs = synth_sigs.unionByName(seed_sigs)

    t0 = time.monotonic()
    D.write_minhash_index_tables(banded, sigs, prefix,
                                 num_hashes=NUM_HASHES, bands=BANDS)
    build_s = time.monotonic() - t0
    _clean(spark, seed_prefix)
    return build_s


def _timed_probe(spark, prefix, batch, *, cap, sigs):
    with D.cache_scope():
        t0 = time.monotonic()
        out = D.minhash_lsh_join_indexed(
            spark, prefix, batch, num_hashes=NUM_HASHES, bands=BANDS,
            threshold=0.5, max_bucket_size=cap, sigs=sigs)
        n = out.count()
        return time.monotonic() - t0, n


def measure_cell(spark, tag, prefix, batch, results, *, n_docs):
    from pyspark.sql import functions as F

    from remote_storage_adapter_spark.operators.dedup import (
        _pin, minhash_signatures_for)

    cell = dict(corpus_docs=n_docs)
    with D.cache_scope():
        t0 = time.monotonic()
        sigs = _pin(minhash_signatures_for(
            batch, num_hashes=NUM_HASHES))
        sigs.count()
        cell["sign_s"] = round(time.monotonic() - t0, 3)
        for cap_tag, cap in (("capped", 1000), ("uncapped", None)):
            _timed_probe(spark, prefix, batch, cap=cap, sigs=sigs)  # warm
            times, ns = [], set()
            for _ in range(REPS):
                s, n = _timed_probe(spark, prefix, batch, cap=cap,
                                    sigs=sigs)
                times.append(s)
                ns.add(n)
            cell[f"probe_{cap_tag}_s"] = round(statistics.median(times), 3)
            cell[f"probe_{cap_tag}_spread_s"] = round(
                max(times) - min(times), 3)
            cell[f"pairs_{cap_tag}"] = sorted(ns)
        # small probes: 32 docs (512 banded keys — dir-pruned
        # broadcast path) and 4 docs (64 keys ≤ probe_push_limit, so
        # the banded scan gets the pushed bucket In-filter — the
        # point-lookup serving path whose wall should be FLAT in
        # corpus size). NB only the 4-doc cell exercises the push
        # (review r10: the 32-doc cell was mislabeled as the push
        # path — 32·16 = 512 > 64).
        for n_tiny, key in ((32, "probe32"), (4, "probe4")):
            tiny = batch.orderBy("doc_id").limit(n_tiny)
            tiny_ids = tiny.select(F.col("doc_id").alias("id"))
            sigs_t = _pin(sigs.join(tiny_ids, "id"))
            sigs_t.count()
            _timed_probe(spark, prefix, tiny, cap=1000, sigs=sigs_t)
            times, ns = [], set()
            for _ in range(REPS):
                s, n = _timed_probe(spark, prefix, tiny, cap=1000,
                                    sigs=sigs_t)
                times.append(s)
                ns.add(n)
            cell[f"{key}_capped_s"] = round(statistics.median(times), 3)
            cell[f"pairs_{key}"] = sorted(ns)
    results[tag] = cell
    print(tag, json.dumps(cell), flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cells", default="5k,50k,500k,5m")
    args = ap.parse_args()
    cells = set(args.cells.lower().split(","))

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    batch = _batch_docs(spark)
    results = {}

    if "5k" in cells:
        docs = (spark.read.parquet(
            "/root/testdata/sf0.1/documents.parquet")
            .select("doc_id", "text"))
        prefix = "pbs_real5k"
        _clean(spark, prefix)
        build_s = _build_real(spark, docs, prefix)
        measure_cell(spark, "real-5k", prefix, batch, results,
                     n_docs=docs.count())
        results["real-5k"]["build_s"] = round(build_s, 2)
        _clean(spark, prefix)
    for tag, n_docs in (("synth-50k", 50_000), ("synth-500k", 500_000),
                        ("synth-5M", 5_000_000)):
        short = tag.split("-")[1].lower()
        if short not in cells:
            continue
        prefix = f"pbs_{short}"
        _clean(spark, prefix)
        build_s = _fabricate(spark, batch, prefix, n_docs)
        measure_cell(spark, tag, prefix, batch, results, n_docs=n_docs)
        results[tag]["fabricate_s"] = round(build_s, 2)
        _clean(spark, prefix)
    print("RESULT", json.dumps(results))


if __name__ == "__main__":
    main()
