"""Names and units of every metric the benchmark prints. Both workloads
print every name; a layer a workload does not use reads 0 there."""

from __future__ import annotations

# end-to-end (untraced run): name -> unit. The SOQL read latencies of
# cdc_trickle are recorded too, but every workload must print every gated
# name and headline_queries makes no reads, so they are reported per layer,
# without a bound.
E2E = {
    "setup_s": "s",
    "step_p50_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer (traced run), fixed part: name -> unit
LAYERS = {
    "sync.runner.jobs_per_tick": "count",
    "sync.runner.self_s": "s",
    "sync.state.claim_release_ms": "ms",
    "sources.entity.rows_read_per_tick": "count",
    "sources.entity.read_efficiency": "ratio",
    "operators.merge.exchanges": "count",
    "operators.table_store.write_partial_s": "s",
    "operators.table_store.write_s": "s",
    "operators.table_store.buckets_rewritten": "count",
    "operators.table_store.buckets_carried": "count",
    "operators.table_store.rows_rewritten_per_change": "ratio",
    "operators.table_store.kb_written": "kB",
    "operators.table_store.files_per_version": "count",
    "soql.lookup_p50_ms": "ms",
    "soql.count_p50_ms": "ms",
    "soql.lookup_rows_scanned_per_row_returned": "ratio",
    "soql.count_rows_scanned_per_row_returned": "ratio",
    "session.exec_cpu_s": "s",
    "session.gc_s": "s",
    "session.spill_mb": "MB",
    "session.tasks": "count",
}

# per headline query, appended to ``analytics.<module>.<query>``
QUERY_METRICS = {
    "_s": "s",
    "_jobs": "count",
    "_max_stage_tasks": "count",
    "_serial_exec_s": "s",
    "_shuffle_mb": "MB",
}

HIGHER_IS_BETTER = {
    "sources.entity.read_efficiency",
    "operators.table_store.buckets_carried",
}


# The headline queries the benchmark runs: one per analytics module, so that
# every module is measured while a run stays near one minute. The whole list
# (bench.HEADLINE, 14 queries) takes ~35-45 s cold and ~17-20 s per warm
# pass at sf0.01 on 4 cores, before any sync work.
QUERIES = [
    "pricing_summary",  # relational: scan + aggregate
    "sessionize",  # events: window
    "merge_upsert_customer",  # cdc_demo: the merge operator
    "prefix_filter_pairs",  # dedup: heaviest headline query, single-task stages
    "cosine_topk",  # similarity
    "quality_score",  # text
]


def headline_queries() -> list[tuple[str, str]]:
    """(layer prefix, query name) of each query run, the layer named after
    the analytics module that implements it."""
    from bench import HEADLINE
    from pgsf_spark.analytics.registry import QUERIES as REGISTRY

    out = []
    for name in QUERIES:
        if name not in HEADLINE:
            raise ValueError(f"{name} is not a headline query")
        module = REGISTRY[name].fn.__module__.removeprefix("pgsf_spark.")
        out.append((f"{module}.{name}", name))
    return out


def layer_units() -> dict[str, str]:
    units = dict(LAYERS)
    for prefix, _ in headline_queries():
        for suffix, unit in QUERY_METRICS.items():
            units[prefix + suffix] = unit
    return units


def better(name: str) -> str:
    if name in HIGHER_IS_BETTER or name.endswith("_max_stage_tasks"):
        return "higher"
    return "lower"


def zeros(prefix: str) -> dict:
    """Every per-layer metric under ``prefix`` at 0: the layers a workload
    does not use."""
    return {n: 0 for n in layer_units() if n.startswith(prefix)}
