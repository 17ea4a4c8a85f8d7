"""Registry-orphan tripwire + locks for the merged-row legs.

The r4 consolidation moved ~21 ``q_*`` components out of the 50-row
driver registry into merged rows and pytest equality locks (VERDICT r4
next #3). These tests make that web refactor-proof:

- ``test_no_orphaned_q_functions`` walks every exported ``q_*`` in
  ``queries.py`` and fails if one is neither reachable from the
  REGISTRY (called by a registered merged row, transitively) nor named
  in ``tests/`` source (an equality/parity lock). Dropping a component
  from both places turns this red — it cannot be orphaned silently.
- ``test_orphan_oracle_parity`` runs each unregistered-but-oracled
  ``q_*`` against its own ``O_*`` DuckDB SQL with the driver's exact
  comparison semantics (``tools.parity.compare_fn``).
- ``test_*_twin_equality`` locks the oracle-sharing twins (salted
  assembly, pandas cosine, indexed LSH/IVF probes) row-for-row against
  their registered siblings.
"""

from __future__ import annotations

import os
import pathlib
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from remote_storage_adapter_spark import queries as Q  # noqa: E402
from tools.parity import compare_fn, duck_con  # noqa: E402

_QUERIES_SRC = pathlib.Path(Q.__file__).read_text()
_TESTS_SRC = "\n".join(
    p.read_text() for p in pathlib.Path(__file__).parent.glob("*.py")
)


def _q_defs_and_bodies():
    """name -> body source for every top-level function in queries.py."""
    defs, cur, body = {}, None, []
    for ln in _QUERIES_SRC.split("\n"):
        m = re.match(r"^def (\w+)\(", ln)
        if m:
            if cur:
                defs[cur] = "\n".join(body)
            cur, body = m.group(1), []
        elif cur is not None:
            body.append(ln)
    if cur:
        defs[cur] = "\n".join(body)
    return defs


def test_no_orphaned_q_functions():
    defs = _q_defs_and_bodies()
    q_names = [n for n in defs if n.startswith("q_")]
    reach = {fn.__name__ for fn, _ in Q.REGISTRY.values()}
    changed = True
    while changed:  # transitive: merged rows call the legs they absorbed
        changed = False
        for root in list(reach):
            for q in q_names:
                if q not in reach and re.search(
                        rf"\b{q}\b", defs.get(root, "")):
                    reach.add(q)
                    changed = True
    orphans = [q for q in q_names
               if q not in reach and q not in _TESTS_SRC
               and q.removeprefix("q_") not in _TESTS_SRC]
    assert not orphans, (
        f"q_* components neither registered (transitively) nor "
        f"referenced by any test lock: {orphans} — register them, have "
        f"a merged row call them, or add an equality/parity lock in "
        f"tests/ that names them.")


# every q_* that left the registry in the r4 consolidation but still
# carries its own O_* oracle: lock each against that oracle directly.
_ORACLED_ORPHANS = [
    "events_json_props",
    "events_distinct_users",
    "dedup_resolve",
    "dedup_keep_best",
    "text_quality",
    "text_lang_id",
    "text_token_stats",
    "text_winnow",
    "text_fingerprint",
    "emb_normalize",
    "emb_quantize",
    "text_lm_ref",
    "text_manifest",
    "multimodal_mp4",
    "sample_dsir",
    "text_passage_dedup",
    "multimodal_dhash",
    "multimodal_audio",
    "text_normalize",
    "text_pack_sequences",
    "multimodal_exif",
    "multimodal_exif_strip",
    "multimodal_webp",
    "web_urls",
    "web_html_text",
    "web_warc",
    "web_robots",
    "pipeline_crawl",
    "tar_shards",
    "pipeline_webdataset",
    "text_sft_render",
    # evicted from the registry in r9 to free a slot for
    # pipeline_ingest (the composed capstones): the direct-join
    # oracle mode is not the user contract, the indexed twin is
    "dedup_cross_join",
    # text_quality_score was promoted INTO the registry in r8 (a
    # model_score leg of text_profile) — no longer an orphan
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_con(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _ORACLED_ORPHANS)
def test_orphan_oracle_parity(spark, sf_dir, duck, name):
    fn = getattr(Q, f"q_{name}")
    sql = getattr(Q, f"O_{name}")
    assert compare_fn(fn, sql, spark, duck, sf_dir, name=name,
                      verbose=False), name


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_assembly_twin_equality(spark, sf_dir):
    assert _rows(Q.q_read_series_assembly_salted(spark, sf_dir)) == \
        _rows(Q.q_read_series_assembly(spark, sf_dir))


def test_pandas_cosine_twin_equality(spark, sf_dir):
    # the registry row carries pair + sem + caps legs (r6 leg-merge);
    # the pandas twin recomputes the pair legs only
    from pyspark.sql import functions as F

    pair_legs = (
        Q.q_dedup_embedding_cosine(spark, sf_dir)
        .filter(F.col("leg") == "pair")
        .select("id_a", "id_b", "cosine")
    )
    assert _rows(Q.q_dedup_embedding_cosine_pandas(spark, sf_dir)) == \
        _rows(pair_legs)


def test_lsh_indexed_twin_equality(spark, sf_dir):
    assert _rows(Q.q_simsearch_lsh_indexed(spark, sf_dir)) == \
        _rows(Q.q_simsearch_lsh(spark, sf_dir))


def test_ivf_indexed_twin_equality(spark, sf_dir):
    assert _rows(Q.q_simsearch_ivf_indexed(spark, sf_dir)) == \
        _rows(Q.q_simsearch_ivf(spark, sf_dir))


def test_every_registry_row_has_oracle():
    # the r4 bar: zero rows-only rows; keep it that way
    assert set(entry_mod.oracle_sql()) == set(entry_mod.queries())


def test_text_search_indexed_twin_equality(spark, sf_dir):
    assert _rows(Q.q_text_search_indexed(spark, sf_dir)) == \
        _rows(Q.q_text_search(spark, sf_dir))
