"""Scale-decade smokes: the flows that carry the 100 TB claim, timed
at sf0.1 / sf1 / sf10 (r9 verdict #1 — the claim previously rested on
one measured decade).

Flows (each forced with an aggregate over every computed column so
nothing prunes):

- ``passage_dedup_fast`` / ``passage_dedup_portable`` — the most
  expensive sf1 smoke of r8 (Lee et al. overlapping-window dedup).
- ``pipeline_crawl`` — the composed WARC → robots → URL-dedup → HTML
  extraction capstone (registry row ``pipeline_ingest``, crawl leg).
- ``pipeline_webdataset`` — the composed TAR → WebDataset → real PNG
  inflate → dHash capstone (same row, webdataset leg).
- ``tar_shards`` / ``exif_scrub`` / ``image_dhash`` — the Python-
  bound (mapInPandas) sources, fanned out with ``min_tasks=32`` (r9
  verdict #5: the landing layout writes few files per table; the
  parallelism floor replaces the ad-hoc repartition the r8 harness
  needed).

Usage::

    python tools/bench_scale.py [sf_dir ...]
    # default: /root/testdata/sf0.1 scratch/sf1 scratch/sf10
    # (generate the scratch dirs with tools/gen_sf.py 10|100 first;
    # absent dirs are skipped)
    # sf100 RECIPE: one sf_dir (and one flow) per invocation. An r14
    # session that ran 6 sf10 executions then sf100 reps in the SAME
    # 48 GiB JVM hit a heap OOM (CollectList merge) around sf100
    # rep 3; the identical sf100-only invocation completed 6
    # executions clean. Multi-execution sessions accumulate heap
    # (shuffle/broadcast metadata is GC-tracked and a 48 GiB heap
    # full-GCs rarely), so fresh-JVM-per-sf is the measured envelope
    # — matching r13's one-flow-at-a-time recipe.

Prints one JSON line per (flow, sf_dir) with the median of 3 walls,
then a RESULT line per flow with the sf-to-sf wall ratios. The
curation ladder has its own tool (bench_curate.py) — run it per-sf
for the composed-maintenance story.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from remote_storage_adapter_spark import queries as Q  # noqa: E402
from remote_storage_adapter_spark.operators import (  # noqa: E402
    multimodal as MM,
)
from remote_storage_adapter_spark.operators import text as TX  # noqa: E402
from remote_storage_adapter_spark.operators.dedup import (  # noqa: E402
    unpersist_pinned,
)
from remote_storage_adapter_spark.session import get_spark  # noqa: E402
from remote_storage_adapter_spark.sources import tar as TA  # noqa: E402
from remote_storage_adapter_spark.sources.tables import (  # noqa: E402
    load_table,
)

MIN_TASKS = 32
# sf100 sessions run REPS=1 (multi-minute flows; one warm + one timed
# rep is the documented tradeoff for the third-decade ratios)
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
# SPARK_GRAFT_CANARY_INTERLEAVE=1 records the two host canaries
# (per-job scheduling median, single-core md5 throughput) immediately
# BEFORE each timed rep and ships them per-rep in the JSON line. The
# r14 session's motivating observation: an sf10 5-rep run on a box
# with NOTHING else running walked 45.3 -> 117.3 s monotonically
# while standalone cpu_ref probes drifted 0.29 -> 0.36 s in minutes
# — without a per-rep canary, a widened spread is indistinguishable
# from a code-side straggler (VERDICT r13 next #2's question).
CANARY = os.environ.get("SPARK_GRAFT_CANARY_INTERLEAVE") == "1"


def _rep_canaries(spark):
    import hashlib
    import time as _t
    ts = []
    for _ in range(5):
        t0 = _t.perf_counter()
        spark.range(1).count()
        ts.append(_t.perf_counter() - t0)
    ts.sort()
    t0 = _t.perf_counter()
    h = hashlib.md5()
    for _ in range(500_000):
        h.update(b"x" * 32)
    # scaled to a 2M-iteration unit (x4), the unit of the cpu_ref_s
    # that bench.py's artifacts carried through r15
    return {"job_ref_ms": round(1000 * ts[len(ts) // 2], 1),
            "cpu_ref_s": round(4 * (_t.perf_counter() - t0), 3)}


def f_passage_fast(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return TX.passage_dedup(docs, window=10, hash_mode="fast").agg(
        F.sum("n_removed_tokens").alias("rm"),
        F.sum("n_dup_windows").alias("dups"),
        F.sum(F.length("dedup_text")).alias("chars"))


def f_passage_portable(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return TX.passage_dedup(docs, window=10, hash_mode="portable").agg(
        F.sum("n_removed_tokens").alias("rm"),
        F.sum("n_dup_windows").alias("dups"),
        F.sum(F.length("dedup_text")).alias("chars"))


def f_pipeline_crawl(spark, sf_dir):
    return Q.q_pipeline_crawl(spark, sf_dir, min_tasks=MIN_TASKS).agg(
        F.sum(F.length("text_out")).alias("chars"),
        F.sum("canon_id").alias("canon_sum"),
        F.count(F.lit(1)).alias("n"))


def f_pipeline_webdataset(spark, sf_dir):
    return Q.q_pipeline_webdataset(spark, sf_dir,
                                   min_tasks=MIN_TASKS).agg(
        # pmod before the sum: a raw sum of 64-bit fingerprints
        # overflows long under ANSI
        F.sum(F.pmod(F.col("dhash"), F.lit(10**9))).alias("dhash_sum"),
        F.count(F.lit(1)).alias("n"))


def f_tar_shards(spark, sf_dir):
    mem = TA.tar_members(
        Q.tar_planted_shards(load_table(spark, sf_dir, "documents"),
                             min_tasks=MIN_TASKS),
        min_tasks=MIN_TASKS, volume_bounded=True)
    part_bytes = F.expr(
        "aggregate(map_values(parts), 0L, (a, x) -> a + octet_length(x))")
    return TA.webdataset_samples(mem, archive_local=True).agg(
        F.sum(F.size("parts")).alias("n_parts"),
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(part_bytes).alias("bytes"))


def f_tar_walk(spark, sf_dir):
    """tar_shards DECOMPOSED (r11, the superlinear-diagnosis split):
    the archive walk alone — generate + Arrow-transfer the shards,
    tarfile-walk the members — with NO webdataset grouping, so a
    superlinear tar_shards splits into walk-side (Arrow/Python
    memory) vs grouping-side (payload shuffle) causes."""
    mem = TA.tar_members(
        Q.tar_planted_shards(load_table(spark, sf_dir, "documents"),
                             min_tasks=MIN_TASKS),
        min_tasks=MIN_TASKS, volume_bounded=True)
    return mem.agg(
        F.sum("size").alias("bytes"),
        F.count(F.lit(1)).alias("n_members"),
        F.count("err").alias("n_err"))


def f_exif_scrub(spark, sf_dir):
    media = Q.exif_strip_planted_media(
        load_table(spark, sf_dir, "documents"))
    parsed = MM.exif_metadata(media, min_tasks=MIN_TASKS).agg(
        F.sum("gps_lat").alias("lat_sum"),
        F.count("orientation").alias("n_exif"))
    scrubbed = MM.strip_metadata(media, min_tasks=MIN_TASKS).agg(
        F.sum("removed").alias("removed"),
        F.sum(F.length("payload")).alias("kept"))
    return parsed.crossJoin(scrubbed)


def f_image_dhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        Q._dhash_planted_png(docs).alias("payload"))
    return MM.image_hash(media, algo="dhash",
                         min_tasks=MIN_TASKS).agg(
        F.sum(F.pmod(F.col("fp"), F.lit(10**9))).alias("fp_sum"),
        F.count(F.lit(1)).alias("n"))


FLOWS = {
    "passage_dedup_fast": f_passage_fast,
    "passage_dedup_portable": f_passage_portable,
    "pipeline_crawl": f_pipeline_crawl,
    "pipeline_webdataset": f_pipeline_webdataset,
    "tar_shards": f_tar_shards,
    "tar_walk": f_tar_walk,
    "exif_scrub": f_exif_scrub,
    "image_dhash": f_image_dhash,
}


def main():
    # SPARK_GRAFT_FLOWS=tar_shards,exif_scrub limits the run (sf100
    # sessions size the heap for the flows they actually run)
    only = os.environ.get("SPARK_GRAFT_FLOWS")
    if only:
        keep = {f.strip() for f in only.split(",")}
        unknown = keep - FLOWS.keys()
        if unknown:
            raise SystemExit(f"unknown flows: {sorted(unknown)}")
        for k in list(FLOWS):
            if k not in keep:
                del FLOWS[k]
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1", "scratch/sf1",
                               "scratch/sf10"]
    sf_dirs = [d for d in sf_dirs
               if os.path.exists(os.path.join(d, "documents.parquet"))]
    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    # SPARK_GRAFT_ARROW_BATCH caps rows per Arrow batch for the
    # mapInPandas flows (default 10000) — the r10 verdict's named
    # lever for the sf100 superlinear rows (bound Python-worker
    # batch bytes, measure before/after)
    arrow_batch = os.environ.get("SPARK_GRAFT_ARROW_BATCH")
    if arrow_batch:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            arrow_batch)
    # warm the Arrow worker pool once
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long").count()
    walls: dict[str, dict[str, float]] = {}
    docs_n: dict[str, int] = {}
    for sf_dir in sf_dirs:
        docs_n[sf_dir] = load_table(spark, sf_dir, "documents").count()
        for flow, fn in FLOWS.items():
            fn(spark, sf_dir).collect()     # untimed warm rep
            unpersist_pinned(blocking=True)
            runs, canaries = [], []
            for _ in range(REPS):
                if CANARY:
                    canaries.append(_rep_canaries(spark))
                t0 = time.time()
                rows = fn(spark, sf_dir).collect()
                runs.append(time.time() - t0)
                unpersist_pinned(blocking=True)
            order = runs[:]                 # chronological, pre-sort
            runs.sort()
            med = runs[len(runs) // 2]
            walls.setdefault(flow, {})[sf_dir] = round(med, 2)
            print(json.dumps({
                "flow": flow, "sf_dir": sf_dir,
                "docs": docs_n[sf_dir], "wall_s": round(med, 2),
                **({"runs_chrono": [round(r, 2) for r in order],
                    "canaries": canaries} if CANARY else {}),
                "runs": [round(r, 2) for r in runs],
                "docs_per_s": round(docs_n[sf_dir] / med, 1),
                "result": {k: (int(v) if isinstance(v, int) else v)
                           for k, v in rows[0].asDict().items()},
            }), flush=True)
    for flow, per_sf in walls.items():
        dirs = [d for d in sf_dirs if d in per_sf]
        ratios = {
            f"{dirs[i]}->{dirs[i+1]}": round(
                per_sf[dirs[i + 1]] / per_sf[dirs[i]], 2)
            for i in range(len(dirs) - 1)}
        print(json.dumps({"RESULT": flow, "walls": per_sf,
                          "ratios_per_10x": ratios}), flush=True)


if __name__ == "__main__":
    main()
