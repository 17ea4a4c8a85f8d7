"""Synthesize a larger scale factor from the driver's sf0.1 tables.

The driver provides sf{0.001,0.01,0.1}; the scale-linearity smoke
(BENCH_SF1.md) needs ~10x more. Each output table is the sf0.1 table
replicated ``factor`` times with ids remapped into disjoint ranges and
content deterministically perturbed so the REPLICAS DO NOT COLLIDE:

- ``documents.text``: per-replica deterministic word substitution —
  every word in the hash-selected half of the vocabulary gets a
  replica suffix (replica 0 stays untouched). The map depends only on
  (replica, word), so two within-replica near-dups keep every shared
  shingle (both sides rewrite identically) while across replicas only
  (1/2)^3 = 12.5% of 3-shingles survive → cross-replica Jaccard
  ≈ 0.067, safely under the 0.2 pair threshold. (A cyclic word ROTATION does NOT work:
  it preserves every n-gram except at the seam, making all replicas
  near-dups of each other and inflating pair counts quadratically —
  measured 249k pairs instead of ~2.5k at factor 10.)
- ``embeddings.embedding``: per-replica cyclic coordinate shift — a
  permutation is an isometry, so within-replica cosines are EXACTLY
  preserved, while cross-replica vectors compare misaligned
  coordinates and decorrelate. (A single-plane rotation leaves the
  other dim-2 coordinates equal and keeps cross-replica cosine high.)
- ``events``: user_id/event_id offset per replica (cardinalities grow
  10x), ts jittered by k seconds so bucket populations grow ~10x
  without landing on identical rows.

Usage::

    python tools/gen_sf.py [factor] [out_dir]   # default 10, scratch/sf1
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from remote_storage_adapter_spark.session import get_spark  # noqa: E402
from remote_storage_adapter_spark.sources.tables import (  # noqa: E402
    TABLES, load_table,
)

SRC = "/root/testdata/sf0.1"


def _replicate(df, factor: int):
    reps = df.sparkSession.range(factor).select(
        F.col("id").cast("int").alias("_rep"))
    return df.crossJoin(F.broadcast(reps))


def scale_documents(docs, factor: int):
    out = _replicate(docs, factor)
    words = F.split(F.col("text"), r"\s+")
    # suffix half the vocabulary (hash-selected) with a replica tag;
    # replica 0 is the untouched original. Shared cross-replica
    # 3-shingles need all 3 words unmodified: (1/2)^3 = 12.5% survive
    # -> Jaccard ~= 0.067, safely under the 0.2 pair threshold; within
    # a replica the map is content-deterministic so near-dup pairs
    # keep every shared shingle.
    perturbed = F.transform(
        words,
        lambda w: F.when(
            (F.col("_rep") > 0) & (F.pmod(F.xxhash64(w), 2) == 1),
            F.concat(w, F.lit("r"), F.col("_rep").cast("string")),
        ).otherwise(w),
    )
    text = F.array_join(perturbed, " ")
    return out.select(
        (F.col("doc_id") * factor + F.col("_rep")).alias("doc_id"),
        text.alias("text"),
        "lang", "source",
        F.length(text).alias("n_chars"),
    )


def scale_embeddings(embs, factor: int):
    out = _replicate(embs, factor)
    dim = F.size(F.col("embedding"))
    e = F.col("embedding")
    # cyclic coordinate shift by 3*_rep: a permutation is an isometry
    # (within-replica cosines exactly preserved); cross-replica pairs
    # compare misaligned coordinates and decorrelate
    shifted = F.transform(
        e,
        lambda _, k: F.element_at(
            e, (F.pmod(k + F.col("_rep") * 3, dim) + 1).cast("int")),
    )
    return out.select(
        (F.col("vec_id") * factor + F.col("_rep")).alias("vec_id"),
        shifted.alias("embedding"),
        "label",
    )


def scale_events(ev, factor: int):
    out = _replicate(ev, factor)
    n_users = ev.agg(F.max("user_id")).first()[0] + 1
    n_ids = ev.agg(F.max("event_id")).first()[0] + 1
    return out.select(
        (F.col("event_id") + F.col("_rep") * F.lit(n_ids)).alias("event_id"),
        (F.col("ts") + F.make_interval(secs=F.col("_rep"))).alias("ts"),
        (F.col("user_id") + F.col("_rep") * F.lit(n_users)).alias("user_id"),
        "event_type", "value", "props",
    )


def scale_generic(df, factor: int, key: str):
    out = _replicate(df, factor)
    return out.select(
        (F.col(key) * factor + F.col("_rep")).alias(key),
        *[c for c in df.columns if c != key],
    )


def main():
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = (sys.argv[2] if len(sys.argv) > 2
               else os.path.join(REPO, "scratch", "sf1"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("gen-sf")
    spark.sparkContext.setLogLevel("ERROR")
    special = {
        "documents": scale_documents,
        "embeddings": scale_embeddings,
        "events": scale_events,
    }
    keys = {"customer": "c_custkey", "supplier": "s_suppkey",
            "part": "p_partkey", "orders": "o_orderkey",
            "lineitem": "l_orderkey"}
    for t in TABLES:
        src = load_table(spark, SRC, t)
        if t in special:
            scaled = special[t](src, factor)
        elif t in keys:
            scaled = scale_generic(src, factor, keys[t])
        else:  # region/nation: tiny dims stay as-is
            scaled = src
        scaled.coalesce(8).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet"))
        print(f"{t}: {spark.read.parquet(os.path.join(out_dir, t + '.parquet')).count()} rows")
    spark.stop()


if __name__ == "__main__":
    main()
