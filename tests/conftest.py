"""Shared pytest fixtures: one SparkSession per test run, plus a DuckDB
oracle connection mirroring the driver's setup (test tables registered
as views named after the parquet files).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spacex_data_engineering_pipeline_spark.catalog import TABLES
from spacex_data_engineering_pipeline_spark.session import get_spark

SMOKE_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="pytest", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """DuckDB connection with the same tables registered as views."""
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


# ---------------------------------------------------------------------
# FAST/SLOW tiers: the full suite runs ~45 min — no driver/CI window
# reliably finishes it, so the measured long tail (every test ≥ ~7 s
# in the r15 --durations=80 run: the two full-catalog plan audits and
# the multi-batch streaming crash/restart scenario pins) is marked
# `slow` and deselected by default (pyproject addopts = -m 'not slow').
# The default tier still exercises every operator family; run the full
# suite with `python -m pytest tests/ -m "" -q`.
SLOW_TESTS = {
    "test_plans.py::test_no_single_partition_exchange_over_data_anywhere",
    "test_plans.py::test_no_cartesian_or_nested_loop_anywhere",
    "test_stats.py::test_edit_join_matches_bruteforce_with_indels",
    "test_streaming.py::test_bm25_cdc_sync_updates_deletes_crash_restart",
    "test_storage.py::test_txn_crash_sweep_every_step_boundary",
    "test_streaming.py::test_synced_artifact_time_travel",
    "test_streaming.py::test_streaming_semantic_dedup_sync_crash_restart",
    "test_streaming.py::test_sessionized_user_stats_ttl_evicts_state",
    "test_streaming.py::test_streaming_knn_graph_sync_crash_restart",
    "test_streaming.py::test_streaming_txn_sync_fact_and_summary_agree",
    "test_streaming.py::test_streaming_minhash_index_sync_crash_restart",
    "test_storage.py::test_delete_where_escaped_partition_values",
    "test_matview.py::test_streaming_matview_sync_and_full_redrain_fixed_point",
    "test_streaming.py::test_streaming_txn_sync_redrain_is_fixed_point",
    "test_streaming.py::test_state_store_provider_dial_rocksdb_parity",
    "test_streaming.py::test_streaming_knn_graph_ivf_sync_crash_restart",
    "test_streaming.py::test_late_data_quarantine_routes_and_replays_identically",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_fenced_redrain]",
    "test_streaming.py::test_streaming_scd2_sync_versions_and_replay_fixed_point",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_knn_graph_sync]",
    "test_streaming.py::test_streaming_ivf_index_sync_crash_restart",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_bm25_cdc_sync]",
    "test_stats.py::test_edit_join_null_strings_never_pair",
    "test_queries_oracle.py::test_query_matches_oracle[hybrid_cdc_paired_sync]",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_bm25_index_sync]",
    "test_streaming.py::test_bm25_synced_lazy_queries_are_independent",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_knn_graph_ivf_sync]",
    "test_streaming.py::test_streaming_scd2_sync_heals_crashed_swap",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_maintained_index]",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_click_outcomes_outer]",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_knn_graph_delete_sync]",
    "test_streaming.py::test_streaming_checkpoint_restart_exactly_once",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_minhash_index_sync]",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_minhash_cdc_sync]",
    "test_graph.py::test_approx_graph_chain_ordering_overlap",
    "test_streaming.py::test_bm25_cdc_null_text_and_empty_index_edges",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_knn_graph_ivf_cdc_sync]",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_knn_graph_cdc_sync]",
    "test_streaming.py::test_drain_source_fence_blocks_double_apply",
    "test_zorder.py::test_file_index_distributed_prune_and_batched_read",
    "test_queries_oracle.py::test_query_matches_oracle[hybrid_rrf_synced_asof]",
    "test_queries_oracle.py::test_query_matches_oracle[bm25_netting_compact]",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_graph_rebase_sync]",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_sessionized_user_stats]",
    "test_streaming.py::test_hybrid_cdc_stream_crash_between_drains",
    "test_storage.py::test_partitioned_upsert_key_moves_partition",
    "test_queries_oracle.py::test_query_matches_oracle[dedup_index_time_travel]",
    "test_storage.py::test_upsert_schema_evolution",
    "test_streaming.py::test_streaming_pca_moment_sync_crash_restart",
    "test_storage.py::test_delete_where_flat_and_partitioned",
    "test_queries_oracle.py::test_query_matches_oracle[hybrid_rrf_synced]",
    "test_properties.py::test_distributed_rank_property",
    "test_properties.py::test_global_offset_property",
    "test_storage.py::test_pipeline_partitioned_layout_end_to_end",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_purchase_attribution_multibatch]",
    "test_streaming.py::test_minhash_sync_verify_partition_prunes",
    "test_queries_oracle.py::test_query_matches_oracle[streaming_semantic_dedup_sync]",
    "test_streaming.py::test_bm25_cdc_refuses_duplicate_doc_rows_in_batch",
    "test_operators.py::test_ann_lsh_consistent_with_bruteforce",
    "test_storage.py::test_repair_drops_partition_missing_from_source",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        rel = item.nodeid.split("tests/")[-1]
        if rel in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
