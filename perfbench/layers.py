"""Span and counter hooks on the program's layer boundaries, and the
per-layer metrics computed from them.

``install`` wraps public functions of ``sparkt`` (and the PySpark
``DataFrame`` reuse/collect calls the operators make) with a
``Recorder``; ``program_metrics`` turns the recorded spans into the
frontend, orchestration, adapter, functions and driver metrics. The
Spark-side layers come from the event log (``eventlog.py``).
"""

from __future__ import annotations

import time

from perfbench.trace import Recorder, median, tail_percentile

ADAPTER_DDL = (
    "create_schema", "drop_schema", "create_view_as", "create_table_as",
    "create_seed", "insert_into", "insert_overwrite", "drop_relation",
    "rename_relation", "alter_table_add_columns",
)
ADAPTER_METADATA = (
    "get_relation", "list_relations", "get_columns_in_relation",
    "partition_columns", "table_stats", "list_relations_without_caching",
)
MATERIALIZATIONS = ("seed", "view", "table", "incremental", "snapshot", "test")


def node_kind(node) -> str:
    if node.resource_type in ("seed", "snapshot", "test"):
        return node.resource_type
    return node.materialized


def install(rec: Recorder) -> None:
    """Wrap every layer boundary; ``rec.unpatch()`` undoes it."""
    from pyspark.sql.classic.dataframe import DataFrame

    import sparkt.graph.linker as linker
    import sparkt.runner as runner
    from sparkt.adapter import SparkAdapter
    from sparkt.compilation import Compiler
    from sparkt.graph.queue import GraphQueue
    from sparkt.manifest import Manifest
    from sparkt.parsing.parser import ManifestLoader

    def count(name, n=1):
        return lambda args, state, out, dt: rec.count(name, n)

    # frontend
    rec.wrap(ManifestLoader, "load", "parsing.load",
             after=lambda a, s, o, dt: rec.count(
                 "parsing.files_parsed", a[0].files_reparsed))
    rec.wrap(ManifestLoader, "_file_hashes", "parsing.hash",
             after=lambda a, s, o, dt: rec.count("partial.files_seen", len(o)))
    rec.wrap(ManifestLoader, "_parse_schema_yaml", "parsing.yaml")
    rec.wrap(ManifestLoader, "_resolve_refs", "parsing.refs")
    rec.wrap(linker, "link_graph", "graph.link")
    rec.wrap(runner, "link_graph", "graph.link")
    rec.wrap(runner, "select_nodes", "graph.select")
    rec.wrap(Compiler, "compile_node", "compilation.compile",
             after=count("compilation.nodes"))

    # ready -> started wait of each node in the scheduler queue
    ready: dict[tuple[int, str], float] = {}
    rec.wrap(GraphQueue, "_mark_queued", "graph.mark_queued",
             before=lambda a, k: ready.__setitem__(
                 (id(a[0]), a[1]), time.perf_counter()))
    def started(args, state, node, dt):
        t = ready.pop((id(args[0]), node), None)
        if t is not None:
            rec.count("graph.queue_wait_s", time.perf_counter() - t)

    rec.wrap(GraphQueue, "get", "graph.get", after=started)

    # orchestration
    rec.wrap(runner.Runner, "_execute_node", "runner.node",
             after=lambda a, s, o, dt: rec.count(
                 f"materializations.{node_kind(a[2])}_s", dt))
    rec.wrap(runner.RunResults, "write", "runner.artifacts")
    rec.wrap(Manifest, "write", "runner.artifacts")

    # adapter
    rec.wrap(SparkAdapter, "execute", "adapter.execute",
             after=count("adapter.statements"))
    for m in ADAPTER_DDL:
        rec.wrap(SparkAdapter, m, "adapter.ddl")
    for m in ADAPTER_METADATA:
        rec.wrap(SparkAdapter, m, "adapter.metadata",
                 after=count("adapter.metadata_calls"))
    rec.wrap(SparkAdapter, "_cached_relation_type", "adapter.cache",
             before=lambda a, k: a[1] in getattr(a[0], "_listing", {}),
             after=lambda a, hit, o, dt: rec.count(
                 "adapter.cache_hits" if hit else "adapter.cache_misses"))
    rec.wrap(SparkAdapter, "_save_catalog", "adapter.catalog_save",
             before=lambda a, k: not (a[0]._restoring
                                      or getattr(a[0], "_defer_saves", False)),
             after=lambda a, wrote, o, dt: rec.count(
                 "adapter.catalog_saves", 1 if wrote else 0))

    # operators: single-evaluation sites and driver collects
    for m in ("localCheckpoint", "checkpoint", "persist"):
        rec.wrap(DataFrame, m, "functions.reuse",
                 after=count("functions.reuse_sites"))
    for m in ("collect", "toPandas"):
        rec.wrap(DataFrame, m, "driver.collect")


def _top_level(rec: Recorder, name: str) -> float:
    """Total time of ``name`` spans not nested in another ``name``
    span (a nested call is already inside its caller's interval)."""
    by_id = {s.id: s for s in rec.spans}

    def nested(s):
        p = by_id.get(s.parent)
        while p is not None:
            if p.name == name:
                return True
            p = by_id.get(p.parent)
        return False

    return sum(s.end - s.start for s in rec.spans
               if s.name == name and not nested(s))


def _adapter_time_under(rec: Recorder) -> dict[int, float]:
    """runner.node span id -> time in top-level adapter spans below it."""
    by_id = {s.id: s for s in rec.spans}
    out: dict[int, float] = {}
    for s in rec.spans:
        if not s.name.startswith("adapter."):
            continue
        p, node = by_id.get(s.parent), None
        nested = False
        while p is not None:
            if p.name.startswith("adapter."):
                nested = True
                break
            if p.name == "runner.node":
                node = p
                break
            p = by_id.get(p.parent)
        if node is not None and not nested:
            out[node.id] = out.get(node.id, 0.0) + (s.end - s.start)
    return out


def program_metrics(rec: Recorder, threads: int, build_wall_s: float) -> dict:
    """Frontend, orchestration, adapter, operator and driver metrics
    from one traced pass. ``build_wall_s`` is the wall of the
    ``Runner.build`` calls in the pass (0 when there are none)."""
    c = rec.counts
    nodes = [s for s in rec.spans if s.name == "runner.node"]
    node_ms = [1000 * (s.end - s.start) for s in nodes]
    adapter_under = _adapter_time_under(rec)
    overhead = [
        (s.end - s.start) - adapter_under.get(s.id, 0.0) for s in nodes
    ]
    seen = c.get("partial.files_seen", 0)
    hits, misses = c.get("adapter.cache_hits", 0), c.get("adapter.cache_misses", 0)
    tail = tail_percentile(node_ms)
    m = {
        "parsing.load_s": rec.total("parsing.load"),
        "parsing.yaml_s": rec.total("parsing.yaml"),
        "parsing.refs_s": rec.total("parsing.refs"),
        "parsing.files_parsed": c.get("parsing.files_parsed", 0),
        "partial.reuse_ratio": (
            max(0.0, 1 - c.get("parsing.files_parsed", 0) / seen) if seen else 0.0
        ),
        "graph.link_s": rec.total("graph.link"),
        "graph.select_s": rec.total("graph.select"),
        "graph.queue_wait_s": c.get("graph.queue_wait_s", 0.0),
        "compilation.compile_s": _top_level(rec, "compilation.compile"),
        "compilation.nodes": c.get("compilation.nodes", 0),
        "runner.node_ms.p50": median(node_ms) if node_ms else 0.0,
        "runner.node_ms.tail": tail[1] if tail[1] is not None else (
            max(node_ms) if node_ms else 0.0),
        "runner.overhead_ms_per_node": (
            1000 * sum(overhead) / len(overhead) if overhead else 0.0
        ),
        "runner.busy_frac": (
            sum(s.end - s.start for s in nodes) / (threads * build_wall_s)
            if build_wall_s else 0.0
        ),
        "runner.artifacts_s": rec.total("runner.artifacts"),
        "adapter.statements": c.get("adapter.statements", 0),
        "adapter.execute_s": _top_level(rec, "adapter.execute"),
        "adapter.ddl_s": _top_level(rec, "adapter.ddl"),
        "adapter.metadata_calls": c.get("adapter.metadata_calls", 0),
        "adapter.metadata_s": _top_level(rec, "adapter.metadata"),
        "adapter.cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "adapter.catalog_saves": c.get("adapter.catalog_saves", 0),
        "adapter.catalog_save_s": rec.total("adapter.catalog_save"),
        "functions.reuse_sites": c.get("functions.reuse_sites", 0),
        "functions.reuse_s": _top_level(rec, "functions.reuse"),
        "driver.collect_s": _top_level(rec, "driver.collect"),
    }
    for kind in MATERIALIZATIONS:
        m[f"materializations.{kind}_s"] = c.get(f"materializations.{kind}_s", 0.0)
    return m
