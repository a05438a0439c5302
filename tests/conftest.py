from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = os.environ.get("TIMEBOX_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_CORRECT = os.environ.get("TIMEBOX_TEST_SF01_DIR", "/root/testdata/sf0.01")

# Fast default profile (round 18, r17 verdict task 1): the full suite
# runs ~54-75 minutes — longer than the driver's verify window, so a
# default `pytest tests/` run could never finish and a real failure
# was indistinguishable from the timeout. The slow tests (everything
# measured > 10 s call time in the full-suite `--durations=0` run at
# final round-18 HEAD — 68 tests summing 2,391 s of the 3,216 s wall,
# mostly streaming drains / e2e ingest loops / the heaviest oracle
# suite members) are SKIPPED by default and run when
# TIMEBOX_FULL_TESTS is set — the builder's end-of-round gate.
# Nothing is deleted: the skip reason names the switch, every slow
# test still runs in the full profile, and the oracle members skipped
# here are all independently re-checked by the driver's own
# CORRECTNESS run over the 50 declared keys. Tests can also opt in
# directly with @pytest.mark.slow; the nodeid list below is the
# measured set (the > 10 s calls of that `--durations=0` run).
RUN_SLOW = bool(os.environ.get("TIMEBOX_FULL_TESTS"))

SLOW_NODEIDS = {
    "test_oracle_queries.py::test_query_matches_oracle[q68_stream_suite]",
    "test_streaming.py::test_corpus_index_estimate_tier_signature_sized",
    "test_streaming.py::test_run_ingest_cycle_consolidation_bounded_and_identical",
    "test_plans.py::test_no_unguarded_fact_broadcast[q29_ann_suite]",
    "test_similarity_ops.py::test_portable_ann_recall_floors",
    "test_oracle_queries.py::test_query_matches_oracle[q29_ann_suite]",
    "test_plans.py::test_no_unreduced_single_partition_exchange[q29_ann_suite]",
    "test_clustering.py::test_connected_components_deep_path_raises_and_auto_escalates",
    "test_streaming.py::test_run_ingest_cycle_disk_state_and_replay",
    "test_examples.py::test_example_runs_end_to_end[curate_corpus.py]",
    "test_streaming.py::test_run_ingest_cycle_cold_start_from_consolidated_store",
    "test_plans.py::test_warc_http_retry_backoff_and_span_coalescing",
    "test_examples.py::test_example_runs_end_to_end[streaming_ingest.py]",
    "test_oracle_queries.py::test_query_matches_oracle[q21_text_aggregates]",
    "test_streaming.py::test_store_recreated_at_the_same_path_reads_its_own_trees",
    "test_oracle_queries.py::test_query_matches_oracle[q54_curation_pipeline]",
    "test_examples.py::test_example_runs_end_to_end[domain_ranking.py]",
    "test_examples.py::test_example_runs_end_to_end[multimodal_features.py]",
    "test_plans.py::test_no_unguarded_fact_broadcast[q57_stats_suite]",
    "test_streaming.py::test_near_dup_hits_stream_state_ttl_evicts_after_watermark",
    "test_clustering.py::test_connected_components_star_matches_union_find",
    "test_streaming.py::test_hits_tree_holds_every_drain_across_three_drains",
    "test_oracle_queries.py::test_query_matches_oracle[q31_dedup_clusters]",
    "test_plans.py::test_no_unguarded_fact_broadcast[q54_curation_pipeline]",
    "test_plans.py::test_no_unguarded_fact_broadcast[q31_dedup_clusters]",
    "test_streaming.py::test_compact_corpus_band_gate_identical_results",
    "test_clustering.py::test_concurrent_cluster_compactions_do_not_interfere",
    "test_streaming.py::test_compact_corpus_leaves_no_cached_rdds",
    "test_streaming.py::test_near_dup_hits_stream_fanout_invariant",
    "test_plans.py::test_no_unreduced_single_partition_exchange[q54_curation_pipeline]",
    "test_streaming.py::test_run_ingest_cycle_band_bloom_tree_and_coverage",
    "test_streaming.py::test_compact_corpus_scratch_path_distributed_drop",
    "test_streaming.py::test_curate_and_ingest_stream_forwards_gate_and_keep",
    "test_graphs.py::test_pagerank_residuals_and_early_exit",
    "test_streaming.py::test_compact_corpus_near_dup_drops_planted_neighbors",
    "test_streaming.py::test_zscore_anomalies_state_accumulates_across_batches",
    "test_streaming.py::test_curate_and_ingest_stream_sink_releases_checkpoints",
    "test_streaming.py::test_curate_and_ingest_stream_with_stream_near_dup",
    "test_examples.py::test_example_runs_end_to_end[migration_from_timebox.py]",
    "test_streaming.py::test_corpus_index_save_load_survives_restart",
    "test_similarity_ops.py::test_pq_train_encode_topk_match_numpy_reference",
    "test_streaming.py::test_curate_and_ingest_stream_end_to_end",
    "test_clustering.py::test_connected_components_matches_union_find",
    "test_streaming.py::test_compact_corpus_band_gate_prunes_index_scans",
    "test_text.py::test_token_budget_cms_enforces_corpus_horizon_token_budget",
    "test_streaming.py::test_run_ingest_cycle_token_budget_enforces_stream_budget",
    "test_plans.py::test_no_unreduced_single_partition_exchange[q31_dedup_clusters]",
    "test_plans.py::test_no_unreduced_single_partition_exchange[q57_stats_suite]",
    "test_sketches.py::test_gated_dedup_maybe_overflow_falls_back_identical[fps]",
    "test_sketches.py::test_gated_dedup_maybe_overflow_falls_back_identical[band_keys]",
    "test_sketches.py::test_gated_dedup_maybe_overflow_falls_back_identical[cand_ids]",
    "test_oracle_queries.py::test_query_matches_oracle[q57_stats_suite]",
    "test_oracle_queries.py::test_query_matches_oracle[q25_neardup_pairs]",
    "test_plans.py::test_cross_contamination_corpus_sets_candidate_bounded",
    "test_graphs.py::test_pagerank_weighted_matches_duckdb_and_semantics",
    "test_streaming.py::test_estimate_verify_warns_on_high_variance_at_call_site",
    "test_text.py::test_cap_per_group_cms_enforces_corpus_horizon_budget",
    "test_streaming.py::test_compact_corpus_cluster_keep_one_vs_chain",
    "test_oracle_queries.py::test_query_matches_oracle[q30_multimodal_suite]",
    "test_plans.py::test_warc_ranged_reads_over_http",
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute streaming/e2e drains — skipped unless "
        "TIMEBOX_FULL_TESTS=1 (fast default profile, round 18)",
    )


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW:
        return
    skip = pytest.mark.skip(
        reason="slow profile: set TIMEBOX_FULL_TESTS=1 to run"
    )
    for item in items:
        # SLOW_NODEIDS entries are "file::name": split the path off at
        # the first "::" so a "/" inside a parametrized id is kept
        path, _, name = item.nodeid.partition("::")
        key = f"{os.path.basename(path)}::{name}"
        if "slow" in item.keywords or key in SLOW_NODEIDS:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from timebox_spark.session import get_spark

    s = get_spark(app_name="timebox-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture()
def gateway_round_trips(monkeypatch):
    """``count(fn)`` → (py4j round trips ``fn()`` made, its result).
    Every Column method is at least one round trip (PySpark 4 also
    captures its call site), so the count tracks driver-side plan
    construction cost independent of the data. Only the calling
    thread's are counted: py4j's finalizer thread sends the deletes of
    JVM handles that earlier code dropped whenever it gets to them."""
    import threading

    import py4j.clientserver as cs

    n = [0]
    caller = threading.get_ident()
    send = cs.ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        if threading.get_ident() == caller:
            n[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)

    def count(fn):
        n[0] = 0
        out = fn()
        return n[0], out

    return count


def _group_job_ids(spark, group: str) -> list[int]:
    """Job ids the status tracker holds for ``group``, once every job
    submitted so far has reached it: the tracker is fed by the
    listener bus, so wait for a marker job submitted afterwards."""
    sc = spark.sparkContext
    marker = f"{group}-marker"
    sc.setJobGroup(marker, marker)
    spark.range(1).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(marker), "marker job never reached the tracker"
    return list(tracker.getJobIdsForGroup(group))
