import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aim357_2019_etl_and_ml_workshop_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"

# Deep equivalence / soak / infra tests that each ran >=20 s in the full
# suite (r13 durations profile: the 22 tests below were ~940 s of the
# 1786 s total — past the driver's verification window, which truncated
# the r12 run mid-suite; VERDICT r12 next #1). They are EXCLUDED from the
# default lane by pytest.ini's `-m "not slow"` and still run via
# `pytest -m ""` (the round-close full run recorded in
# OPTIMIZATION_r13.md). Every operator they exercise keeps fast-lane
# coverage: a quicker equivalence twin, the per-query registry smoke
# test, and the 198-query DuckDB oracle gate.
SLOW_TESTS = {
    # property-based deep-equivalence soaks (faster twins stay in lane)
    "test_incremental_dedup_equals_selfjoin_over_union",
    "test_simhash_skew_split_preserves_the_answer",
    "test_connected_components_both_paths_match_bfs",
    "test_semantic_dedup_blocked_equals_joined",
    "test_minhash_portable_matches_reference_and_xxhash_verdicts",
    "test_hash_spans_mode_equals_string_mode",
    "test_dsir_weights_invariant_to_partitioning",
    "test_remove_repeated_spans_matches_python_reference",
    # infra soaks: task-retry determinism, multi-executor parity,
    # registry-wide plan lint, multiprocess commit contention
    "test_retried_tasks_reproduce_results",
    "test_local_cluster_matches_local",
    "test_no_unjustified_single_partition_exchanges",
    "test_multiprocess_commit_contention",
    # streaming crash/backlog soaks (exactly-once, join, decode,
    # dedup-under-repartition twins stay in lane)
    "test_watermark_drops_late_rows",
    "test_incremental_ingest_paced_backlog",
    "test_incremental_ingest_crash_recovery",
    "test_incremental_aggregate_crash_recovery",
    "test_stream_dedup_within_watermark",
    # heavy equivalence runs with in-lane twins
    "test_distributed_rank_stats_matches_builtin_window",
    "test_ivf_state_probe_equals_derived",
    "test_incremental_neardup_precomputed_state_matches_derived",
    "test_embedding_neardup_tiled_exact_and_banded_agree",
    "test_incremental_neardup_matches_all_pairs",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if getattr(item, "originalname", item.name) in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
