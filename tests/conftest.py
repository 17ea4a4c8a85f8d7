from __future__ import annotations

import os
import pathlib

import pytest

from remote_storage_adapter_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# ---------------------------------------------------------------------
# Slow-test gate (r15, VERDICT r14 next #2): the full suite outgrew the
# driver's verify budget (measured 26:54 quiet / 59:13 loaded; the r14
# driver run was KILLED mid-suite at ~45%). pytest-xdist is unavailable
# in the sandbox (no network), so the multi-minute end-to-end /
# equality-ladder tests are env-gated instead: the default run skips
# them (clearly counted as skips) and finishes in ~12-14 min;
# ``SPARK_GRAFT_SLOW_TESTS=1`` runs everything (builders run the full
# suite in-round and record the green run in OPTIMIZATION_r<N>.md).
#
# Membership = every test whose `--durations` call time was >= ~15 s
# on the r15 profile run (together ~920 s of the 1766 s wall). Every
# feature area keeps sub-15 s tests in the default gate. The list is
# STRICT: a renamed/removed test left in the list fails collection, so
# entries cannot silently rot.
SLOW_TESTS = {
    "test_hostile_bytes_never_hang_or_crash_decode_one",       # 90 s
    "test_dedup_clusters_local_contract_equality",             # 55 s
    "test_curation_near_dup_gate",                             # 45 s
    "test_minhash_indexed_join_matches_direct_and_skips_shuffle",  # 41 s
    "test_streaming_minhash_index_matches_batch_and_skips_replay",  # 41 s
    "test_streaming_text_index_matches_batch_and_survives_crashes",  # 35 s
    "test_streaming_line_dedup_matches_batch_and_survives_crashes",  # 33 s
    "test_minhash_index_compact_files_and_results",            # 32 s
    "test_minhash_counts_compact_safe_and_refuses_inflight",   # 29 s
    "test_streaming_text_dedup_on_ingest",                     # 28 s
    "test_lr_train_on_sample_reaches_accuracy",                # 27 s
    "test_vocab_broadcast_size_guard",                         # 27 s
    "test_streaming_cms_and_bloom_match_batch",                # 27 s
    "test_lr_train_separates_planted_corpus",                  # 26 s
    "test_streaming_curation_pipeline_e2e",                    # 25 s
    "test_lm_table_delta_maintainer_exactly_once_and_compacts",  # 24 s
    "test_webdataset_archive_local_equals_default",            # 24 s
    "test_streaming_hll_matches_batch",                        # 22 s
    "test_int8_quantization_error_bound",                      # 20 s
    "test_curate_gate_forwards_probe_kwargs",                  # 20 s
    "test_minhash_append_guards_compaction_crash_windows",     # 19 s
    "test_minhash_maintainer_recovers_between_table_appends",  # 18 s
    "test_apply_index_batch_routes_probe_only_kwargs",         # 17 s
    "test_minhash_lsh_join_cross_corpus",                      # 17 s
    "test_minhash_bootstrap_and_missing_delta_crash_repair",   # 17 s
    "test_streaming_simhash_index_matches_batch",              # 17 s
    "test_streaming_semantic_index_dedups_and_skips_replay",   # 17 s
    "test_streaming_lm_matches_batch_and_replay_skips",        # 16 s
    "test_pack_shards_property_matches_model",                 # 16 s
    "test_min_tasks_parallelism_floor",                        # 16 s
    "test_minhash_lsh_recalls_exact_dups",                     # 16 s
    "test_stream_rollup_finalizes_windows",                    # 16 s
    "test_stream_rollup_lww_rewrite_matches_batch",            # 14 s
    "test_semantic_index_append_survives_crash_at_every_step",  # 14 s
}

RUN_SLOW = os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1"
_SLOW_REASON = ("slow test gated by SPARK_GRAFT_SLOW_TESTS=1 "
                "(verify-budget gate, r15)")


def _collects_whole_suite(config) -> bool:
    """True when a command-line path (or the default, the invocation
    directory) is this test directory or one above it, i.e. every test
    module here was collected. One file or one node id is not."""
    here = pathlib.Path(__file__).resolve().parent
    base = config.invocation_params.dir
    for arg in config.args:
        path = (base / arg).resolve()
        if "::" not in arg and (path == here or path in here.parents):
            return True
    return False


# tryfirst: see every collected item before -k/-m/--deselect drop some
@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(session, config, items):
    seen = set()
    skip = pytest.mark.skip(reason=_SLOW_REASON)
    for item in items:
        base = item.name.split("[", 1)[0]
        if base in SLOW_TESTS:
            seen.add(base)
            if not RUN_SLOW:
                item.add_marker(skip)
    # strict-list enforcement whenever the whole directory was
    # collected, however many tests it holds; a module that failed to
    # import is already reported as a collection error
    if _collects_whole_suite(config) and not session.testsfailed:
        missing = SLOW_TESTS - seen
        if missing:
            raise pytest.UsageError(
                f"conftest SLOW_TESTS entries not collected (renamed "
                f"or removed? update the list): {sorted(missing)}")


def pytest_terminal_summary(terminalreporter):
    """Say how many slow tests the gate skipped, so a gated run is
    not mistaken for the full suite."""
    gated = sum(_SLOW_REASON in str(rep.longrepr)
                for rep in terminalreporter.stats.get("skipped", []))
    if gated:
        terminalreporter.write_line(
            f"{gated} slow tests skipped: SPARK_GRAFT_SLOW_TESTS is not "
            f"1, so this is not the full suite")
