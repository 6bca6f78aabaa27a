"""Names and units of every metric the benchmark prints; the lists in
``BENCHMARK.json`` are these, in this order."""

from perfbench import eventlog

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
}

_PROGRAM = {
    "parsing.load_s": "s", "parsing.yaml_s": "s", "parsing.refs_s": "s",
    "parsing.files_parsed": "count", "partial.reuse_ratio": "ratio",
    "graph.link_s": "s", "graph.select_s": "s", "graph.queue_wait_s": "s",
    "compilation.compile_s": "s", "compilation.nodes": "count",
    "runner.node_ms.p50": "ms", "runner.node_ms.tail": "ms",
    "runner.overhead_ms_per_node": "ms", "runner.busy_frac": "ratio",
    "runner.artifacts_s": "s",
    "materializations.seed_s": "s", "materializations.view_s": "s",
    "materializations.table_s": "s", "materializations.incremental_s": "s",
    "materializations.snapshot_s": "s", "materializations.test_s": "s",
    "adapter.statements": "count", "adapter.execute_s": "s",
    "adapter.ddl_s": "s", "adapter.metadata_calls": "count",
    "adapter.metadata_s": "s", "adapter.cache_hit_ratio": "ratio",
    "adapter.catalog_saves": "count", "adapter.catalog_save_s": "s",
    "queries.build_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "functions.reuse_sites": "count", "functions.reuse_s": "s",
    "driver.collect_s": "s",
}

LAYER_UNITS = {
    **_PROGRAM,
    **eventlog.SPARK_UNITS,
    "driver.rss_peak_mb": "MB",
    "trace.pass_wall_s": "s",
    "trace.overhead_s": "s",
}
