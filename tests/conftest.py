"""Shared fixtures: one local SparkSession + a DuckDB oracle connection
with the testdata tables registered as views (mirrors the driver's
correctness harness)."""

from __future__ import annotations

import contextlib
import os
import types
import uuid

import duckdb
import pytest

from nextbus2pg_spark.catalog import TABLES
from nextbus2pg_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Executor python workers inherit PYTHONPATH from the driver env at
    # session start; include repo + tests so classes defined in test
    # modules (fake sinks, etc.) unpickle on workers.
    here = os.path.dirname(__file__)
    repo = os.path.dirname(here)
    extra = os.pathsep.join([repo, here])
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = (
        extra + (os.pathsep + prev if prev else "")
    )
    spark = get_spark("nextbus2pg-tests")
    yield spark
    spark.stop()


@contextlib.contextmanager
def count_jobs(spark):
    """Count the Spark jobs started inside a ``with`` block::

        with count_jobs(spark) as jobs:
            frame = build_frame()
        assert jobs.n == 1

    The block runs under a fresh job group, and ``jobs.n`` is set on
    exit from ``statusTracker().getJobIdsForGroup`` of that group
    (AQE's map-stage jobs included). The caller's job group is
    restored afterwards."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"count-jobs-{uuid.uuid4().hex}"
    jobs = types.SimpleNamespace(n=0)
    sc.setJobGroup(group, "count_jobs")
    try:
        yield jobs
    finally:
        jobs.n = len(sc.statusTracker().getJobIdsForGroup(group))
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "soak: slow soak/property sweep — skipped unless "
        "SPARK_GRAFT_SOAK=1 (round-13 verdict item 1: the full suite "
        "outgrew the driver's verify window; the default run is the "
        "fast gate, the soak tier runs on demand and before round "
        "close)",
    )


#: Central soak-tier registry (round-13 verdict item 1): the full
#: suite outgrew the driver's verify window (cut off at 54% with zero
#: failures in VERIFY_r13), so the slow soak / property-sweep /
#: crash-recovery / end-to-end-integration tests are skipped by
#: default and run with SPARK_GRAFT_SOAK=1 (always before round
#: close, and whenever their operators change). Selection rule,
#: measured from plans/r14/pytest_durations_r14pre.txt: call time
#: >= ~8s, EXCLUDING every oracle-parity row (the driver-gate mirror
#: stays whole) and excluding fast coverage of operators touched in
#: the current round (their differentials/recall floors stay in the
#: gate). Entries match either ``file::originalname`` (all params) or
#: the exact parametrized ``file::name``. Seconds in comments are
#: from the (contended) round-14 profile.
_SOAK_TESTS = frozenset({
    "test_bench_ratios.py::test_pinned_normalized_ratio",  # 120s, perf pin — contention-sensitive, false-reds under driver load
    "test_http_fetcher.py::test_soak_app_level_restart_resumes_cursor",  # 75s
    "test_properties.py::test_scd2_invariants_hold_for_any_snapshot_sequence",  # 67s
    "test_cdc_end_to_end.py::test_cdc_loop_both_indexes_crash_mid_apply",  # 61s
    "test_ivfpq_index.py::test_crash_before_flip_invisible_even_with_codebook_debris",  # 55s
    "test_ivfpq_index.py::test_streaming_embedding_index_with_pq_codec",  # 51s
    "test_feed_stream_source.py::test_end_to_end_reference_pipeline_on_dsv2_source",  # 37s
    "test_postgres_upsert_integration.py::test_dimension_refresh_postgres_equals_parquet_store",  # 30s
    "test_app.py::test_main_cli_end_to_end",  # 30s
    "test_properties.py::test_upsert_key_set_is_union",  # 29s
    "test_store.py::test_cdc_reconstructs_any_snapshot",  # 28s
    "test_neardup_index.py::test_apply_changes_follows_corpus_store",  # 27s
    "test_http_fetcher.py::test_main_cli_feed_url_backfill",  # 26s
    "test_ivfpq_index.py::test_retrain_swap_flips_codebook_with_centroids",  # 24s
    "test_ann_recall.py::test_lsh_topk_recall_floor",  # 24s
    "test_app.py::test_main_resolves_duplicate_direction_tags_per_route",  # 23s
    "test_dimension_refresh.py::test_refresh_twice_key_stability_and_idempotence",  # 22s
    "test_ivfpq_index.py::test_delete_and_cdc_apply_changes",  # 21s
    "test_properties.py::test_histogram_merge_law_and_quantile_model",  # 19s
    "test_neardup_index.py::test_delete_removes_doc_from_probe_without_rebuild",  # 19s
    "test_ivf_index.py::test_apply_changes_follows_embedding_store",  # 19s
    "test_feed_stream_source.py::test_purge_committed_bounds_spool_and_resumes",  # 16s
    "test_properties.py::test_countmin_estimate_bounds",  # 15s
    "test_properties.py::test_substring_span_dedup_matches_reference_model",  # 15s
    "test_ivf_index.py::test_retrain_swap_is_atomic_for_inflight_readers",  # 14s
    "test_textstats.py::test_perplexity_buckets_approx_path_agrees_with_exact",  # 14s
    "test_feed_stream_source.py::test_restart_with_throttle_never_regresses_offsets",  # 14s
    "test_streaming_neardup.py::test_stream_suppresses_cross_batch_neardups",  # 14s
    "test_store.py::test_read_changes_across_schema_evolution",  # 13s
    "test_store.py::test_create_exclusive_is_atomic_under_thread_storm",  # 13s
    "test_bpe.py::test_trainer_matches_reference",  # 13s
    "test_ivf_index.py::test_retrain_swap_crash_before_flip_is_invisible_and_retryable",  # 12s
    "test_live_crawl.py::test_live_crawl_loop_end_to_end",  # 12s
    "test_neardup_index.py::test_index_compaction_preserves_probes",  # 12s
    "test_properties.py::test_psl_registrable_domain_matches_reference_model",  # 12s
    "test_streaming_anomaly.py::test_stream_late_data_restart_and_batch_parity",  # 12s
    "test_properties.py::test_dedup_keys_unique_after_append_dedup",  # 11s
    "test_graph.py::test_personalized_matches_numpy",  # 11s
    "test_live_crawl.py::test_live_crawl_to_warc_roundtrip",  # 11s
    "test_graph.py::test_personalized_deterministic_matches_plain",  # 11s
    "test_properties.py::test_line_dedup_invariants",  # 11s
    "test_curate_pipeline.py::test_curate_end_to_end_with_metrics",  # 10s
    "test_streaming_anomaly.py::test_op_fn_swaps_in_cusum",  # 10s
    "test_classifier.py::test_fixture_model_learns_the_keyword",  # 10s
    "test_readme_recipe.py::test_readme_recipe_runs_verbatim",  # 10s
    "test_semdedup_recall.py::test_cross_cell_misses_exist_and_nprobe_recovers",  # 9s
    "test_graph.py::test_matches_numpy_reference",  # 9s
    "test_graph.py::test_deterministic_mode_matches_scale_mode",  # 9s
    "test_semdedup_recall.py::test_hot_cell_cap_preserves_recall_at_nprobe_2",  # 9s
    "test_histogram_sketch.py::test_cms_state_in_continuous_aggregate",  # 9s
    "test_properties.py::test_theil_sen_matches_sorted_slope_model",  # 9s
    "test_ivf_index.py::test_adds_and_deletes_land_in_current_epoch_after_swap",  # 9s
    "test_graph.py::test_hits_deterministic_matches_plain",  # 9s
    "test_semdedup_recall.py::test_nprobe_output_grain_and_primary_cell",  # 9s
    "test_semdedup_recall.py::test_partitioned_cells_lose_recall_vs_exact",  # 9s
    "test_http_fetcher.py::test_soak_fetch_restart_resume_no_duplicates",  # 8s
    "test_properties.py::test_chunk_documents_covers_every_token",  # 8s
    "test_plan_audit.py::test_semantic_dedup_pairs_confined_to_cells",  # 8s
    "test_postgres_upsert_integration.py::test_streaming_vehicle_ingest_into_real_postgres",  # 8s
    # the three slow-class parity rows (unrolled BPE-training CTE
    # oracles, ~103s combined — operators untouched since round 5 and
    # driver-green repeatedly); every other parity row stays in the
    # fast gate
    "test_oracle_parity.py::test_query_matches_oracle[q_bpe_merges]",
    "test_oracle_parity.py::test_query_matches_oracle[q_bpe_token_count]",
    "test_oracle_parity.py::test_query_matches_oracle[q_tokenizer_fertility]",
})


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SOAK"):
        return
    skip = pytest.mark.skip(
        reason="soak tier: set SPARK_GRAFT_SOAK=1 to run"
    )
    for item in items:
        base = os.path.basename(str(item.fspath))
        generic = f"{base}::{getattr(item, 'originalname', item.name)}"
        exact = f"{base}::{item.name}"
        if (
            "soak" in item.keywords
            or generic in _SOAK_TESTS
            or exact in _SOAK_TESTS
        ):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
