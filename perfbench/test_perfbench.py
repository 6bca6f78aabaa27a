"""Self-tests for the benchmark's own code:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, gen  # noqa: E402
from perfbench.run import stop_processes  # noqa: E402
from perfbench.trace import Recorder, Span, self_times, tail_percentile  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(1, 101))) == (90, 90, 10)
    # 20 samples: p50 (value 10) has exactly ten above it, p75 only five
    assert tail_percentile([float(x) for x in range(1, 21)]) == (50, 10.0, 10)
    assert tail_percentile(list(range(10))) == (None, None, 0)
    # ties at the percentile value are not "beyond" it
    assert tail_percentile([1.0] * 50 + [2.0] * 9) == (None, None, 0)
    assert tail_percentile(list(range(1000)))[0] == 99


def test_self_time_subtracts_merged_child_coverage():
    spans = [
        Span(1, "parent", 0.0, 10.0, None, None),
        Span(2, "a", 1.0, 3.0, 1, None),
        Span(3, "b", 2.0, 5.0, 1, None),   # overlaps a: [1, 5] covered
        Span(4, "c", 8.0, 12.0, 1, None),  # clipped to the parent's end
        Span(5, "grandchild", 1.5, 2.5, 2, None),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 2)
    assert st[2] == pytest.approx(2 - 1)
    assert st[5] == pytest.approx(1)


def test_recorder_nests_spans_and_unpatches():
    class Target:
        def work(self, x):
            return x * 2

    rec = Recorder()
    rec.wrap(Target, "work", "layer.work",
             after=lambda a, s, out, dt: rec.count("calls"))
    with rec.op("op1"):
        assert Target().work(21) == 42
    rec.unpatch()
    assert Target().work(1) == 2 and rec.counts["calls"] == 1
    outer = next(s for s in rec.spans if s.name == "op")
    inner = next(s for s in rec.spans if s.name == "layer.work")
    assert inner.parent == outer.id and inner.op == "op1"
    off = Recorder(enabled=False)
    with off.op("x"), off.span("y"):
        pass
    assert off.spans == []


def _tree_equal(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize("make", [
    lambda d, s: gen.rung_corpus(d, s, 500),
    lambda d, s: gen.dbt_project(d, s, 2, 100),
])
def test_generators_are_deterministic(tmp_path, make):
    make(str(tmp_path / "a"), 3)
    make(str(tmp_path / "b"), 3)
    make(str(tmp_path / "c"), 4)
    assert _tree_equal(tmp_path / "a", tmp_path / "b")
    assert not _tree_equal(tmp_path / "a", tmp_path / "c")


def test_benchmark_json_lists_the_printed_metrics():
    from perfbench.metrics import E2E_UNITS, LAYER_UNITS
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_event_log_parser_on_a_tiny_local_job(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    builder = SparkSession.builder.master("local[2]").appName("perfbench-test")
    for k, v in {**eventlog.conf(str(log_dir)),
                 "spark.ui.enabled": "false",
                 "spark.sql.shuffle.partitions": "2",
                 "spark.sql.warehouse.dir": str(tmp_path / "wh")}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.range(10).count()  # outside the window below
        spark.sparkContext.setJobDescription("perfbench op")
        t0 = time.time() * 1000
        df = spark.range(0, 1000, 1, 2).selectExpr("id % 5 as k", "id as v")
        rows = df.groupBy("k").applyInPandas(
            lambda pdf: pdf.assign(v=pdf.v * 2), "k long, v long").collect()
        t1 = time.time() * 1000
    finally:
        spark.stop()
        stop_processes()
    assert len(rows) == 1000
    m, by_op = eventlog.summarize(eventlog.log_file(str(log_dir)), t0, t1, cores=2)
    assert m["spark.jobs"] >= 1 and m["spark.tasks"] >= 2
    assert m["executor.run_s"] > 0 and 0 < m["executor.busy_frac"] <= 1
    assert m["shuffle.write_bytes"] > 0 and m["shuffle.read_bytes"] > 0
    assert m["python.data_sent_bytes"] > 0 and m["python.rows_out"] == 1000
    assert m["driver.result_bytes"] > 0
    assert set(by_op) == {"perfbench op"}
    assert by_op["perfbench op"]["tasks"] == m["spark.tasks"]


_SESSION_THEN_STOP = """
import os, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from perfbench.run import descendants, running, stop_processes
spark = (SparkSession.builder.master("local[2]").appName("perfbench-stop")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.warehouse.dir", sys.argv[2]).getOrCreate())
df = spark.range(0, 100, 1, 2).selectExpr("id % 3 as k", "id as v")
df.groupBy("k").applyInPandas(lambda p: p, "k long, v long").collect()
before = descendants(os.getpid())
spark.stop()
stop_processes(timeout=30)
print(len(before), [p for p in before if running(p)], sorted(descendants(os.getpid())))
"""


def test_stop_processes_ends_the_jvm_and_its_workers(tmp_path):
    import subprocess

    out = subprocess.run(
        [sys.executable, "-c", _SESSION_THEN_STOP, ROOT, str(tmp_path / "wh")],
        capture_output=True, text=True, timeout=170, check=True,
    ).stdout.split("\n")[-2]
    # the JVM plus at least one Python worker daemon were running
    assert int(out.split()[0]) >= 2
    assert out.split(" ", 1)[1] == "[] []"
