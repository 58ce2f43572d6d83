"""The query batches of rounds 11-21, in the order they joined ``QUERIES``.

Each of those rounds registered one batch of specs. The batches are now
part of the single ``QUERIES`` literal. ``tests/test_rNN_staged.py``
pins where batch NN sits in the registry order, that its specs are well
formed, and that the module defining its functions imports cleanly
before the registry does.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from pgsf_spark.analytics.registry import QUERIES, QuerySpec

BATCHES = {
    11: (
        "stream_sessionize_gate",
        "stream_tumbling_revenue",
        "stream_dedup_watermark",
        "stream_cdc_merge_parity",
        "stream_static_enrich",
        "stream_interval_join_gate",
        "stream_running_hll",
        "stream_state_timeout_audit",
        "range_join_bucketed",
        "skew_salted_topk",
        "bucketed_colocated_join_gate",
        "snapshot_asof_read_gate",
        "window_rangebetween_native",
        "grouping_sets_cube_gate",
        "pivot_unpivot_roundtrip",
        "image_phash_neardup",
        "image_channel_histogram",
        "image_resize_gate",
        "audio_spectral_centroid",
        "audio_silence_ratio",
        "video_shot_boundaries",
        "video_motion_profile",
        "multimodal_dedup_cross",
        "media_metadata_quality_gate",
        "lateral_explode_topk",
    ),
    12: (
        "variant_shred",
        "variant_typeof_profile",
        "from_json_corrupt_gate",
        "map_reshape_gate",
        "higher_order_chain",
        "udtf_bigram_topk",
        "arrow_map_profile",
        "xml_shred_gate",
        "statestore_read_gate",
        "python_datasource_gate",
        "python_cdc_stream_gate",
    ),
    13: (
        "recursive_cte_closure",
        "pipe_syntax_parity",
        "sql_udf_gate",
        "sql_table_udf_gate",
        "collation_gate",
        "chunked_sink_gate",
        "observe_metrics_gate",
        "chunked_stream_sink_gate",
    ),
    14: ("schema_drift_gate", "integrity_quarantine_gate"),
    15: (
        "fleet_scheduler_gate",
        "vacuum_retention_gate",
        "cas_publish_gate",
        "snapshot_consistency_gate",
    ),
    16: ("curation_funnel_gate", "curation_funnel_incremental_gate"),
    17: (
        "sosl_search_gate",
        "query_pages_gate",
        "cdc_id_scans_gate",
        "compaction_gate",
    ),
    18: ("bootstrap_seed_gate", "upload_results_gate"),
    19: (
        "catalog_snapshot_gate",
        "fleet_catalog_wave_gate",
        "cdf_changes_gate",
        "state_recovery_gate",
    ),
    20: ("catalog_join_pin_gate", "recovery_wave_gate"),
    21: ("catalog_retention_gate", "maintenance_recovery_gate"),
}

# the modules that define each batch's query functions
MODULES = {
    11: (
        "pgsf_spark.analytics.media_analysis",
        "pgsf_spark.analytics.shapes",
        "pgsf_spark.streaming.faces",
    ),
    12: ("pgsf_spark.analytics.semistructured", "pgsf_spark.streaming.faces"),
    13: ("pgsf_spark.analytics.sqlsurfaces",),
    14: ("pgsf_spark.analytics.robustness",),
    15: ("pgsf_spark.analytics.fleet",),
    16: ("pgsf_spark.analytics.funnel",),
    17: ("pgsf_spark.analytics.refsurfaces",),
    18: ("pgsf_spark.analytics.bootstrap",),
    19: ("pgsf_spark.analytics.recovery",),
    20: ("pgsf_spark.analytics.epochs",),
    21: ("pgsf_spark.analytics.retention",),
}


def assert_batch_at(batch: int, start: int) -> None:
    """Batch ``batch`` occupies ``list(QUERIES)[start:]`` in its own order."""
    names = list(BATCHES[batch])
    assert list(QUERIES)[start : start + len(names)] == names


def assert_specs_well_formed(batch: int) -> None:
    for name in BATCHES[batch]:
        spec = QUERIES[name]
        assert isinstance(spec, QuerySpec), name
        assert callable(spec.fn), name
        assert isinstance(spec.oracle, str) and spec.oracle.strip(), name
        assert spec.fn.__module__ in MODULES[batch], (name, spec.fn.__module__)


def assert_importable_before_registry(*batches: int) -> None:
    """Import the batches' modules first, then the registry, in a clean
    interpreter, so this session's import cache cannot hide a cycle."""
    modules = [m for b in reversed(batches) for m in MODULES[b]]
    names = [n for b in batches for n in BATCHES[b]]
    code = "".join(f"import {m};" for m in modules) + (
        "from pgsf_spark.analytics.registry import QUERIES;"
        f"missing = [n for n in {names!r} if n not in QUERIES];"
        "assert missing == [], missing"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert r.returncode == 0, r.stderr[-1000:]
