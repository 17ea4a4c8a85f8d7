"""Locks for tools/gen_sf.py's scaling invariants (BENCH_SF1.md).

The scaling smoke is only meaningful if replication preserves the
workload's SHAPE: within-replica near-dup structure intact,
cross-replica content decorrelated (no quadratic pair blowup), and
embedding geometry exactly preserved within a replica. These tests pin
the perturbation properties the generator's docstring claims — the
first generator attempt (cyclic word rotation) silently violated them
and inflated pair counts ~1000×.
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_sf import (  # noqa: E402
    scale_documents,
    scale_embeddings,
    scale_events,
)

FACTOR = 3


def _jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        w = t.split()
        return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / max(len(sa | sb), 1)


@pytest.fixture(scope="module")
def scaled_docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    docs = spark.createDataFrame(
        [(0, base + "alpha beta gamma", "en", "web", 1),
         (1, base + "alpha beta delta", "en", "web", 1),   # near-dup of 0
         (2, "entirely different content about ships and harbours "
             "and the sea " * 5, "en", "web", 1)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = scale_documents(docs, FACTOR).collect()
    return {r["doc_id"]: r["text"] for r in out}


def test_docs_ids_and_counts(scaled_docs):
    assert len(scaled_docs) == 3 * FACTOR
    assert set(scaled_docs) == {d * FACTOR + k
                                for d in range(3) for k in range(FACTOR)}


def test_docs_within_replica_near_dups_preserved(scaled_docs):
    for k in range(FACTOR):
        j = _jaccard(scaled_docs[0 * FACTOR + k],
                     scaled_docs[1 * FACTOR + k])
        assert j > 0.5, f"replica {k} lost its near-dup pair ({j:.2f})"


def test_docs_cross_replica_decorrelated(scaled_docs):
    for k in range(1, FACTOR):
        j = _jaccard(scaled_docs[0], scaled_docs[k])  # doc 0's replicas
        assert j < 0.2, f"replica {k} near-dups the original ({j:.2f})"
    j12 = _jaccard(scaled_docs[1], scaled_docs[2])
    assert j12 < 0.2


def _cos(a, b):
    num = sum(x * y for x, y in zip(a, b))
    return num / (math.sqrt(sum(x * x for x in a))
                  * math.sqrt(sum(y * y for y in b)) or 1.0)


def test_embeddings_isometry_within_decorrelation_across(spark):
    vecs = [
        [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],  # close to vec 0
        [0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0],  # orthogonal
    ]
    embs = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: [float(x) for x in r["embedding"]]
           for r in scale_embeddings(embs, FACTOR).collect()}
    for k in range(FACTOR):
        # exact isometry: pairwise cosines equal the originals
        for i in range(3):
            for j in range(i + 1, 3):
                got = _cos(out[i * FACTOR + k], out[j * FACTOR + k])
                want = _cos(vecs[i], vecs[j])
                assert abs(got - want) < 1e-6
    for k in range(1, FACTOR):
        # the same source vector decorrelates across replicas
        assert _cos(out[0], out[k]) < 0.9


def test_events_cardinalities_grow(spark):
    ev = spark.createDataFrame(
        [(i, f"2024-01-01 00:00:{i:02d}", i % 4, "view", 1.0, "{}")
         for i in range(20)],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value", "props")
    out = scale_events(ev, FACTOR)
    assert out.count() == 20 * FACTOR
    assert out.select("event_id").distinct().count() == 20 * FACTOR
    assert out.select("user_id").distinct().count() == 4 * FACTOR
