from __future__ import annotations

import os
import sys
import uuid
import warnings

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Tests measured >= 5 s in a clean full-suite run (r12; the whole
# suite was 27 min and these 69 tests carried 1155 s of it). They are
# marked `slow` here — one list instead of 69 decorators across 15
# files — and pytest.ini's `addopts = -m "not slow"` keeps them out
# of the default run so the driver's capped `pytest tests/ -x -q`
# finishes (~8 min). Run them with `pytest tests/ -m slow`; the full
# suite (both halves) is run per round before the final commit. When
# a default-run test grows past ~5 s, move it here rather than
# letting the default run creep back toward the cap.
SLOW_TESTS = {
    "test_cli_sinks.py::test_cli_end_to_end",
    "test_cli_sinks.py::test_write_csv_json_stream",
    "test_cli_streaming.py::test_cli_poll_continuous_retract_emit",
    "test_cli_streaming.py::test_cli_streaming_max_diff_watermark_runs",
    "test_cli_streaming.py::test_cli_tail_csv_truncate_rewrite_no_double_header",
    "test_cli_streaming.py::test_cli_tail_directory_lines_numbered_per_file",
    "test_cli_streaming.py::test_cli_tail_follows_new_files",
    "test_cli_streaming.py::test_cli_tail_follows_single_file_appends",
    "test_cli_streaming.py::test_cli_tail_single_csv_header_preserved",
    "test_cli_streaming.py::test_cli_tail_single_file_lines_numbered",
    "test_cli_streaming.py::test_cli_tail_trigger_eos",
    "test_cli_streaming.py::test_fuzz_streaming_error_contract_source_shapes",
    "test_cli_streaming.py::test_trigger_counting_exact_over_tumble",
    "test_cli_streaming.py::test_trigger_counting_exact_stream_static_join",
    "test_cli_streaming.py::test_trigger_counting_exact_through_cli",
    "test_cli_streaming.py::test_trigger_counting_exact_with_where_and_alias",
    "test_cli_streaming.py::test_trigger_counting_expression_key",
    "test_cli_streaming.py::test_trigger_counting_join_where_and_fanout",
    "test_cli_streaming.py::test_trigger_counting_max_diff_watermark_exact",
    "test_cli_streaming.py::test_trigger_counting_stream_stream_inner",
    "test_cli_streaming.py::test_trigger_counting_where_uses_dialect_semantics",
    "test_counting_trigger.py::test_counting_behind_bounded_outer_join_mechanically_possible",
    "test_counting_trigger.py::test_counting_trigger_random_replay",
    "test_datapipe.py::test_cluster_ingest_components_matches_full_recompute",
    "test_datapipe.py::test_complete_prefix_guarantees_recall",
    "test_datapipe.py::test_edit_distance_pairs_differential",
    "test_datapipe.py::test_embedding_dedup_zero_vectors_skipped",
    "test_datapipe.py::test_embedding_ingest_near_dups",
    "test_datapipe.py::test_embedding_near_dup_lsh_subset_of_exact",
    "test_datapipe.py::test_ivf_index_build_and_probe",
    "test_datapipe.py::test_ivf_topk_exact_cosines_and_recall",
    "test_datapipe.py::test_ivfpq_topk_recall_and_full_probe",
    "test_datapipe.py::test_lsh_bucketed_topk_recall",
    "test_datapipe.py::test_minhash_auto_collapse_guards_oversized_group",
    "test_datapipe.py::test_minhash_collapse_auto_probe",
    "test_datapipe.py::test_planted_fixture_recall_and_precision",
    "test_datapipe.py::test_pq_index_build_and_probe",
    "test_datapipe.py::test_semantic_decontaminate_flags_cosine_hits",
    "test_datapipe.py::test_semantic_dedup_cells_outlier_rep",
    "test_datapipe.py::test_semantic_dedup_exact_chain",
    "test_datapipe.py::test_semantic_ingest_matches_recompute",
    "test_datapipe.py::test_simhash_md5_60_mode",
    "test_differential_fuzz.py::test_dialect_matches_duckdb",
    "test_differential_fuzz.py::test_html_extract_matches_duckdb",
    "test_differential_fuzz.py::test_url_functions_match_duckdb",
    "test_operators.py::test_global_ntile_property_random",
    "test_pipeline_e2e.py::test_full_curation_chain",
    "test_plan_budget.py::test_plan_budgets_do_not_grow",
    "test_scale_paths.py::test_semantic_dedup_cells_autoscales_k",
    "test_scale_paths.py::test_semantic_dedup_cells_plan_constant_in_k",
    "test_scale_paths.py::test_semantic_dedup_two_level_assignment",
    "test_scale_report.py::test_repartition1_plant_is_detectable_by_ratio",
    "test_stdin_tsv.py::test_stdin_json",
    "test_stdin_tsv.py::test_stdin_lines_seqsum",
    "test_streaming.py::test_stream_stream_join",
    "test_streaming.py::test_stream_stream_left_outer_emits_unmatched",
    "test_workloads.py::test_workload_runs[ann_lsh_consistency]",
    "test_workloads.py::test_workload_runs[ann_lsh_topk]",
    "test_workloads.py::test_workload_runs[ann_pq_index_topk]",
    "test_workloads.py::test_workload_runs[cluster_graph_metrics]",
    "test_workloads.py::test_workload_runs[dedup_embedding_ingest]",
    "test_workloads.py::test_workload_runs[dedup_embedding_lsh_planted]",
    "test_workloads.py::test_workload_runs[dedup_semantic_cells]",
    "test_workloads.py::test_workload_runs[dedup_semantic_ingest]",
}


def _slow_key(nodeid: str) -> str:
    """(file basename, id after ``::``) of a node id such as
    ``tests/test_x.py::test_y[a/b]`` — the same key whether pytest runs
    from the repo root or tests/, and a ``/`` inside a parameter id
    stays part of the id."""
    path, _, test_id = nodeid.partition("::")
    return f"{os.path.basename(path)}::{test_id}"


def pytest_collection_modifyitems(config, items):
    matched, files = set(), set()
    for item in items:
        key = _slow_key(item.nodeid)
        files.add(key.partition("::")[0])
        if key in SLOW_TESTS:
            matched.add(key)
            item.add_marker(pytest.mark.slow)
    # an entry naming a collected file but no collected test is stale
    # (renamed or deleted test): it would silently stop marking anything
    stale = sorted(k for k in SLOW_TESTS - matched
                   if k.partition("::")[0] in files)
    if stale:
        warnings.warn(pytest.PytestWarning(
            "SLOW_TESTS entries match no collected test: " + ", ".join(stale)))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from octosql_spark.session import get_spark
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def read_stream(spark, path, fmt="json", **options):
    """A streaming file source over ``path``; its schema is read from
    the current contents with the same reader options."""
    schema = spark.read.format(fmt).options(**options).load(path).schema
    return (spark.readStream.format(fmt).schema(schema).options(**options)
            .load(path))


def run_to_memory(df, output_mode="append", timeout_s=120.0):
    """Drain a streaming frame once (Trigger.AvailableNow) into an
    in-memory table and return that table."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    if not q.awaitTermination(timeout_s):
        q.stop()  # a silent partial table is worse than the error
        raise TimeoutError(f"streaming pass did not finish in {timeout_s}s")
    return df.sparkSession.table(name)


def make_wav(samples, n_ch=1, rate=8000):
    """16-bit PCM WAV bytes of ``samples`` (floats in [-1, 1]); with
    ``n_ch=2`` every sample is written to both channels."""
    import struct

    import numpy as np
    ints = np.clip(samples * 32767, -32768, 32767).astype("<i2")
    if n_ch == 2:
        ints = np.repeat(ints, 2)
    pcm = ints.tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate,
                      rate * 2 * n_ch, 2 * n_ch, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
