"""The benchmark workloads.

Each workload generates its inputs from the seed, sets up several
times (the median is ``setup_s``), runs an untimed pass that checks
every output where later passes only compare against it, then
``WARM_PASSES`` untimed passes at once while the JVM compiles, then
timed passes in a closed loop with one client until at least
``seconds`` are measured.
A traced run adds one more pass with the layer hooks installed, on a
session that writes an event log.
"""

from __future__ import annotations

import gc
import hashlib
import itertools
import json
import math
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import eventlog, gen, layers
from perfbench.trace import Recorder, median, tail_percentile

#: ``setup_s`` is the median of this many timed setup rounds
SETUP_ROUNDS = 5
#: untimed session restarts before the timed ones (restarts get faster
#: until about the sixth while the JVM compiles the session code; the
#: median of the timed ones passes over the slower first of them)
SETUP_WARM = 2
#: untimed passes between the check pass and the timed passes, run
#: concurrently: the JVM warms per execution, not per second, and one
#: Spark pass keeps under a quarter of the cores busy
WARM_PASSES = 2
RUNG_N = 3000
PROJECT_CHAINS = 2
PROJECT_ROWS = 1000
PROJECT_APPEND = 100
#: d6 runs cell-pruned (n_probe=2), which may miss a near-duplicate pair
#: whose two vectors fall in different cells; full probe finds them all
D6_MIN_RECALL = 0.9
#: rung ops that can run concurrently in the untimed check pass (sd1
#: clusters d6's checkpointed pairs, so the two stay in order)
CHECK_CHAINS = (
    ("d3_minhash_pairs",),
    ("d6_neardup_cellpruned", "sd1_semdedup_cellpruned"),
    ("s12_ivfpq_topk",),
)
#: parse-2000's setup round parses this many of the 200 model dirs
SETUP_PARSE_PATHS = 20
HERE = os.path.dirname(os.path.abspath(__file__))


def rung_expected(seed: int) -> dict[str, list[int]]:
    """op -> [rows, hash] pinned for ``seed`` ({} for unpinned seeds)."""
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f).get("rung", {}).get(str(seed), {})


@dataclass
class Op:
    kind: str
    seconds: float


@dataclass
class Outcome:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    lines: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0


class Workload:
    """Shared closed-loop harness; subclasses define the passes."""

    name = ""
    uses_spark = True
    warm_passes = WARM_PASSES

    def __init__(self, work: str, seed: int, seconds: float, trace: bool,
                 cpus: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.trace, self.cpus = trace, cpus
        self.spark = None
        self.jvm: int | None = None
        self.failures: list[str] = []
        self.notes: list[str] = []  # check-pass findings for the report
        self.attempted = 0
        self.eventlog_dir = os.path.join(work, "eventlog")

    # ------------------------------------------------------- session
    def start(self, with_eventlog: bool = False) -> None:
        from sparkt.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp")
                + " -Dderby.system.home=" + os.path.join(self.work, "derby")
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if with_eventlog:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(eventlog.conf(self.eventlog_dir))
        self.spark = get_spark(app_name=f"perfbench-{self.name}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def warm(self) -> None:
        """Fixed warm-up executions of every setup round."""
        self.spark.range(0, 200_000, 1, self.cpus).selectExpr(
            "id % 97 as k", "id").groupBy("k").count().collect()

    def describe(self, op: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(f"perfbench {op}")

    # -------------------------------------------------------- checks
    def expect(self, what: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def guarded(self, what: str, fn):
        """Run ``fn``; an exception is a failed op, not a crash."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — every op error is counted
            self.attempted += 1
            self.failures.append(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return None

    # ------------------------------------------------ subclass hooks
    def prepare(self) -> None:
        raise NotImplementedError

    def check_pass(self) -> None:
        raise NotImplementedError

    def timed_pass(self, rec: Recorder) -> list[Op]:
        raise NotImplementedError

    def headline(self, ops: list[Op], out: Outcome) -> None:
        raise NotImplementedError

    # ------------------------------------------------------- harness
    def setup_round(self, last: bool) -> float:
        """Session start plus the warm-up job; the session of the last
        round stays up for the passes."""
        t0 = time.perf_counter()
        self.start(with_eventlog=self.trace and last)
        self.warm()
        dt = time.perf_counter() - t0
        if not last:
            self.stop()
        return dt

    def setup(self, out: Outcome) -> None:
        """The first round launches the JVM; ``setup_s`` is the median of
        the timed session restarts on that JVM after it."""
        n = 1 + SETUP_WARM + SETUP_ROUNDS
        rounds = [self.setup_round(i == n - 1) for i in range(n)]
        timed = rounds[1 + SETUP_WARM:]
        out.e2e["setup_s"] = median(timed)
        out.lines += [
            f"setup_cold_s {rounds[0]:.4f} s (JVM launch, session, warm-up; one sample)",
            f"setup_s {out.e2e['setup_s']:.4f} s (median of {SETUP_ROUNDS} session "
            f"restarts: {', '.join(f'{r:.3f}' for r in timed)}; "
            f"{SETUP_WARM} untimed before them)",
        ]

    def run(self) -> Outcome:
        out = Outcome()
        phases = [time.perf_counter()]
        self.prepare()
        phases.append(time.perf_counter())
        self.setup(out)
        phases.append(time.perf_counter())
        self.check_pass()
        phases.append(time.perf_counter())
        out.lines += self.notes
        def warm_pass(_):
            p0 = time.perf_counter()
            self.timed_pass(Recorder(enabled=False))
            return time.perf_counter() - p0

        warm_walls = []
        if self.warm_passes:
            with ThreadPoolExecutor(self.warm_passes) as pool:
                warm_walls = list(pool.map(warm_pass, range(self.warm_passes)))
        phases.append(time.perf_counter())

        ops: list[Op] = []
        pass_walls = []
        t0 = time.perf_counter()
        # whole passes until at least ``seconds`` are measured, so a run
        # whose first timed pass is slow does not rest on that pass alone
        while time.perf_counter() - t0 < self.seconds:
            p0 = time.perf_counter()
            ops += self.timed_pass(Recorder(enabled=False))
            pass_walls.append(time.perf_counter() - p0)
        phases.append(time.perf_counter())
        out.lines.append("phases: " + ", ".join(
            f"{name} {b - a:.1f} s" for name, a, b in zip(
                ("inputs", "setup", "check", "warm", "timed"), phases, phases[1:])))
        self.headline(ops, out)
        out.lines.append(
            f"passes: {len(warm_walls)} warm ({', '.join(f'{w:.3f}' for w in warm_walls)} s), "
            f"{len(pass_walls)} timed ({', '.join(f'{w:.3f}' for w in pass_walls)} s)"
        )
        if self.trace:
            self.traced(out, pass_walls[-1])
        out.attempted = self.attempted
        out.failed = len(self.failures)
        return out

    def traced(self, out: Outcome, before: float) -> None:
        """One traced pass, bracketed by the last untraced pass and one
        more untraced pass after it; the overhead is traced minus the
        mean of the two brackets."""
        rec = Recorder(enabled=True)
        layers.install(rec)
        try:
            wall_t0 = time.time()
            p0 = time.perf_counter()
            self.timed_pass(rec)
            wall = time.perf_counter() - p0
            wall_t1 = time.time()
        finally:
            rec.unpatch()
        p0 = time.perf_counter()
        self.timed_pass(Recorder(enabled=False))
        untraced_wall = (before + time.perf_counter() - p0) / 2
        self.rec = rec
        m = layers.program_metrics(
            rec, self.cpus, sum(rec.durations("runner.build")))
        m["queries.build_s"] = rec.total("queries.build")
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_ms"] = rec.counts.get(f"catalyst.{ph}_ms", 0.0)
        spark_m, self.by_op = dict.fromkeys(eventlog.SPARK_UNITS, 0.0), {}
        if self.uses_spark:
            self.stop()
            spark_m, self.by_op = eventlog.summarize(
                eventlog.log_file(self.eventlog_dir),
                wall_t0 * 1000, wall_t1 * 1000, self.cpus,
            )
        m.update(spark_m)
        m["trace.pass_wall_s"] = wall
        m["trace.overhead_s"] = wall - untraced_wall
        out.layers = m
        out.lines.append(
            f"traced pass {wall:.3f} s vs untraced bracket mean {untraced_wall:.3f} s:"
            f" tracing overhead {wall - untraced_wall:+.3f} s"
        )

    # spark-side helpers for traced ops
    def plan(self, rec: Recorder, df) -> None:
        """Traced runs only: plan ``df`` on its own QueryExecution and
        record the Catalyst phase times."""
        if not rec.enabled:
            return
        with rec.span("catalyst.plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                if phases.contains(ph):
                    rec.count(f"catalyst.{ph}_ms", phases.apply(ph).durationMs())


def _summary(samples: list[float]) -> str:
    p, v, beyond = tail_percentile(samples)
    tail = f"p{p:g} {v:.4f} ({beyond} beyond)" if p is not None else "n/a (<11 samples)"
    return f"n={len(samples)} p50 {median(samples):.4f} tail {tail}"


def by_kind(ops: list[Op]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o.kind, []).append(o.seconds)
    return out


# ===================================================================
class Rung(Workload):
    """The scale-rung operator set on a generated 3k-doc / 3k-vector
    corpus; each op is timed over its whole call including eager
    checkpoints, through a count + order-insensitive hash of its rows."""

    name = "rung-3k"

    def prepare(self) -> None:
        self.data = os.path.join(self.work, "data")
        gen.rung_corpus(self.data, self.seed, RUNG_N)
        self.cells = max(8, round(math.sqrt(RUNG_N)))

    def _ops(self):
        from pyspark.sql import functions as F

        from sparkt.functions import dedup as D
        from sparkt.functions import similarity as S
        from sparkt.queries import pipeline as P

        spark, d, cells = self.spark, self.data, self.cells
        emb = spark.read.parquet(f"{d}/embeddings.parquet").withColumn(
            "embedding", F.col("embedding").cast("array<double>"))
        state = {}

        def d6():
            state["pairs"] = S.cosine_neardup_pairs(
                emb, "vec_id", "embedding", 0.35, n_cells=cells, n_probe=2,
            ).localCheckpoint(eager=False)
            return state["pairs"]

        def sd1():
            return D.duplicate_clusters(state["pairs"]).groupBy("cluster").agg(
                F.count(F.lit(1)).alias("n_members"))

        def s12():
            queries = emb.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").alias("query_id"), "embedding")
            corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
            return S.ivfpq_topk(queries, corpus, dim=64, k=5, m=8, n_codes=16,
                                n_cells=8, n_probe=2, encoder="arrow")

        return [
            ("d3_minhash_pairs", lambda: P.d3_minhash_pairs(spark, d)),
            ("d6_neardup_cellpruned", d6),
            ("sd1_semdedup_cellpruned", sd1),
            ("s12_ivfpq_topk", s12),
        ]

    @staticmethod
    def digest(df):
        """(rows, order-insensitive 32-bit-hash sum) in one action."""
        from pyspark.sql import functions as F

        return df.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.xxhash64(*df.columns).bitwiseAND(0xFFFFFFFF)),
                       F.lit(0)).alias("h"),
        )

    def check_pass(self) -> None:
        """Digest every op once. The independent op chains run in
        parallel threads, so the cold codegen of this untimed pass
        overlaps; bookkeeping stays on this thread."""
        ops = dict(self._ops())

        def chain(names):
            got = {}
            for name in names:
                try:
                    self.describe(f"check {name}")
                    df = ops[name]()
                    row = self.digest(df).collect()[0]
                    got[name] = (df, (int(row["n"]), int(row["h"])))
                except Exception as e:  # noqa: BLE001 — counted below
                    got[name] = e
                    break  # the rest of the chain depends on this op
            return got

        with ThreadPoolExecutor(len(CHECK_CHAINS)) as pool:
            futures = [pool.submit(chain, c) for c in CHECK_CHAINS]
            done = {}
            for f in futures:
                done.update(f.result())
        self.results, outputs = {}, {}
        for name in ops:
            got = done.get(name)
            if isinstance(got, tuple):
                outputs[name], self.results[name] = got
            else:
                self.expect(f"{name}: {type(got).__name__}: {str(got)[:300]}", False)
        exp = rung_expected(self.seed)
        for name, got in self.results.items():
            if name in exp:
                self.expect(f"{name}: {got} != default-seed {exp[name]}",
                            list(got) == exp[name])
        if len(outputs) == len(ops):
            self.guarded("rung invariants", lambda: self._invariants(outputs))

    def _invariants(self, outputs) -> None:
        """Properties of the generated corpus that hold for any seed."""
        docs = os.path.join(self.data, "documents.parquet")
        import pyarrow.parquet as pq

        n = pq.read_metadata(docs).num_rows
        d3 = {(r[0], r[1]) for r in outputs["d3_minhash_pairs"]
              .select("id_a", "id_b").collect()}
        exact = {(j - 1, j) for j in range(49, n, 50)}
        self.expect(f"d3: {len(exact - d3)} engineered exact duplicates missing",
                    exact <= d3)
        d6 = {(r[0], r[1]) for r in outputs["d6_neardup_cellpruned"]
              .select("id_a", "id_b").collect()}
        near = {(j - 1, j) for j in range(99, RUNG_N, 100)}
        recall = len(near & d6) / len(near)
        self.notes.append(f"d6 recall of engineered near-duplicate pairs: {recall:.3f}")
        self.expect(f"d6: recall {recall:.3f} of engineered near-duplicate pairs "
                    f"< {D6_MIN_RECALL}", recall >= D6_MIN_RECALL)
        members = outputs["sd1_semdedup_cellpruned"].groupBy().sum("n_members").collect()[0][0]
        self.expect(f"sd1: {members} members != {len({i for p in d6 for i in p})} "
                    "vertices of the d6 pairs",
                    members == len({i for p in d6 for i in p}))
        s12 = outputs["s12_ivfpq_topk"].groupBy("query_id").count().collect()
        self.expect(f"s12: {sorted(r[1] for r in s12)} != 10 queries x 5",
                    len(s12) == 10 and all(r[1] == 5 for r in s12))

    def timed_pass(self, rec: Recorder) -> list[Op]:
        ops = []
        for name, fn in self._ops():
            def one(name=name, fn=fn):
                self.describe(name)
                t0 = time.perf_counter()
                with rec.op(name):
                    with rec.span("queries.build"):
                        dig = self.digest(fn())
                    self.plan(rec, dig)
                    with rec.span("action"), rec.suppressed():
                        row = dig.collect()[0]
                return time.perf_counter() - t0, (int(row["n"]), int(row["h"]))

            got = self.guarded(name, one)
            if got is None:
                continue
            self.expect(f"{name}: timed result {got[1]} != checked "
                        f"{self.results.get(name)}",
                        got[1] == self.results.get(name))
            ops.append(Op(name, got[0]))
        return ops

    def headline(self, ops: list[Op], out: Outcome) -> None:
        kinds = by_kind(ops)
        secs = [o.seconds for o in ops]
        out.e2e["wall_s"] = sum(median(v) for v in kinds.values())
        out.lines += [
            f"rung_wall_s {out.e2e['wall_s']:.4f} s (sum of {len(kinds)} op medians)",
            f"rung op latency: {_summary(secs)} s",
        ] + [f"  {k:<28} {median(v):.4f} s (n={len(v)}) rows,hash={self.results.get(k)}"
             for k, v in kinds.items()]


# ===================================================================
class ProjectBuild(Workload):
    """A generated dbt project: cold ``Runner.build`` into an empty
    schema, then an incremental build after appending seed rows."""

    name = "project-build"

    def prepare(self) -> None:
        self.tags = itertools.count(1)  # next() is atomic across warm threads
        rows = gen.seed_rows(self.seed, PROJECT_ROWS)
        more = gen.seed_rows(self.seed, PROJECT_APPEND, PROJECT_ROWS)
        self.rows_cold = rows
        self.rows_incr = [
            (i, ch, cu, amt, "returned" if i % 10 == 0 else st)
            for i, ch, cu, amt, st in rows + more
        ]

    def _expected(self, rows) -> dict:
        marts: dict[int, dict[int, list[int]]] = {}
        for _i, chain, cust, amount, _st in rows:
            acc = marts.setdefault(chain % PROJECT_CHAINS, {}).setdefault(cust, [0, 0])
            acc[0] += 1
            acc[1] += 2 * amount
        return marts

    def _build(self, root: str, schema: str, rec: Recorder, kind: str):
        from sparkt.runner import Runner

        gc.collect()  # as in Parse._op
        t0 = time.perf_counter()
        with rec.op(kind), rec.span("runner.build"):
            runner = Runner(root, spark=self.spark,
                            project_overrides={"schema": schema})
            res = runner.build(threads=self.cpus)
        return time.perf_counter() - t0, res

    def _verify(self, schema: str, res, rows, snap_extra: int) -> None:
        bad = [f"{r.unique_id}={r.status}" for r in res.results
               if r.status not in ("success", "pass")]
        self.expect(f"{schema}: nodes not successful: {bad[:5]}", not bad)
        for c, custs in self._expected(rows).items():
            got = {r[0]: [r[1], r[2]] for r in self.spark.sql(
                f"select cust, n, total from {schema}.mart_{c}").collect()}
            self.expect(f"{schema}.mart_{c} differs from the seed", got == custs)
        n_chain0 = sum(1 for r in rows if r[1] % PROJECT_CHAINS == 0)
        snap = self.spark.sql(f"select count(*) from {schema}.snap_0").collect()[0][0]
        self.expect(
            f"{schema}.snap_0 has {snap} rows, expected {n_chain0 + snap_extra}",
            snap == n_chain0 + snap_extra)

    def _pair(self, rec: Recorder, tag: str) -> list[Op]:
        root = os.path.join(self.work, f"project-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        gen.dbt_project(root, self.seed, PROJECT_CHAINS, PROJECT_ROWS)
        schema = f"pb_{tag}"
        self.spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")
        ops = []
        got = self.guarded(f"{tag} cold build",
                           lambda: self._build(root, schema, rec, "build_cold"))
        if got is None:
            return ops
        with rec.suppressed():
            self._verify(schema, got[1], self.rows_cold, 0)
        ops.append(Op("build_cold", got[0]))
        ops += [Op("node", r.execution_time) for r in got[1].results]
        gen.write_seed(root, self.rows_incr)
        got = self.guarded(f"{tag} incremental build",
                           lambda: self._build(root, schema, rec, "build_incr"))
        if got is None:
            return ops
        changed0 = sum(1 for r in self.rows_cold
                       if r[0] % 10 == 0 and r[4] != "returned"
                       and r[1] % PROJECT_CHAINS == 0)
        with rec.suppressed():
            self._verify(schema, got[1], self.rows_incr, changed0)
        ops.append(Op("build_incr", got[0]))
        ops += [Op("node", r.execution_time) for r in got[1].results]
        return ops

    def check_pass(self) -> None:
        """Nothing: every pair checks its own outputs, so the concurrent
        warm pairs are the first checked executions."""

    def timed_pass(self, rec: Recorder) -> list[Op]:
        return self._pair(rec, f"t{next(self.tags)}")

    def headline(self, ops: list[Op], out: Outcome) -> None:
        kinds = by_kind(ops)
        nodes = kinds.pop("node", [])
        out.e2e["wall_s"] = sum(median(v) for v in kinds.values())
        out.lines += [
            f"build_cold_s {median(kinds.get('build_cold', [0])):.4f} s "
            f"(n={len(kinds.get('build_cold', []))})",
            f"build_incr_s {median(kinds.get('build_incr', [0])):.4f} s "
            f"(n={len(kinds.get('build_incr', []))})",
            f"node execution: {_summary(nodes)} s",
        ]


#: one fresh-process setup round of parse-2000 (argv: repo root, project)
_FRESH_PARSE = """
import sys
sys.path.insert(0, sys.argv[1])
from sparkt.graph.linker import link_graph
from sparkt.parsing.parser import ManifestLoader
from sparkt.project import load_project
link_graph(ManifestLoader(load_project(sys.argv[2])).load(partial=False),
           add_test_edges=True)
"""


# ===================================================================
class Parse(Workload):
    """Spark-free: a 2,000-model / 6,000-test project parsed cold, warm
    (no change) and warm after a one-file change."""

    name = "parse-2000"
    uses_spark = False
    #: no JIT to warm: ``prepare`` imports the frontend, so the first
    #: pass is as fast as the later ones
    warm_passes = 0

    def prepare(self) -> None:
        import bench_parse

        import sparkt.graph.linker  # noqa: F401 — imported before any timing
        import sparkt.parsing.parser  # noqa: F401
        import sparkt.project  # noqa: F401

        self.root = os.path.join(self.work, "parse_project")
        bench_parse.generate(self.root)
        # the seed picks which model the one-file change edits
        h = int(hashlib.md5(f"parse|{self.seed}".encode()).hexdigest(), 16)
        p, i = h % bench_parse.N_PATHS, 1 + (h >> 16) % (bench_parse.PER_PATH - 1)
        self.edit = (os.path.join(self.root, "models", f"path_{p}", f"node_{p}_{i}.sql"),
                     f"node_{p}_{i}", f"node_{p}_{i - 1}")
        self.n_edit = 0
        self.small = os.path.join(self.work, "parse_small")
        os.makedirs(os.path.join(self.small, "models"), exist_ok=True)
        shutil.copy(os.path.join(self.root, "dbt_project.yml"), self.small)
        for p in range(SETUP_PARSE_PATHS):
            shutil.copytree(os.path.join(self.root, "models", f"path_{p}"),
                            os.path.join(self.small, "models", f"path_{p}"))

    @staticmethod
    def _parse(root: str, partial: bool):
        from sparkt.graph.linker import link_graph
        from sparkt.parsing.parser import ManifestLoader
        from sparkt.project import load_project

        loader = ManifestLoader(load_project(root))
        manifest = loader.load(partial=partial)
        graph = link_graph(manifest, add_test_edges=True)
        return manifest, graph.number_of_nodes()

    def setup(self, out: Outcome) -> None:
        """Each round is a fresh Python process that imports the
        frontend and parses a 200-model slice of the project, timed
        from launch to exit: what a parse invocation pays before it
        reaches the project's size."""
        rounds = []
        for _ in range(SETUP_ROUNDS):
            shutil.rmtree(os.path.join(self.small, "target"), ignore_errors=True)
            t0 = time.perf_counter()
            subprocess.run([sys.executable, "-c", _FRESH_PARSE,
                            os.path.dirname(HERE), self.small],
                           check=True, stdout=subprocess.DEVNULL)
            rounds.append(time.perf_counter() - t0)
        out.e2e["setup_s"] = median(rounds)
        out.lines.append(
            f"setup_s {out.e2e['setup_s']:.4f} s (median of {SETUP_ROUNDS} "
            f"fresh-process rounds: {', '.join(f'{r:.3f}' for r in rounds)})")

    def _edit(self) -> str:
        self.n_edit += 1
        path, _name, parent = self.edit
        body = (f"select id, {self.n_edit} as v "
                f"from {{{{ ref('{parent}') }}}}")
        with open(path, "w") as f:
            f.write(body)
        return f"{self.n_edit} as v"

    def _op(self, rec: Recorder, kind: str, partial: bool, marker: str | None):
        def one():
            # start every parse from a heap without the last parse's
            # cyclic garbage, as a fresh parse invocation would
            gc.collect()
            t0 = time.perf_counter()
            with rec.op(kind):
                manifest, n = self._parse(self.root, partial)
            dt = time.perf_counter() - t0
            node = manifest.nodes.get(f"model.parse_bench.{self.edit[1]}")
            self.expect(f"{kind}: {n} graph nodes, expected 8000", n == 8000)
            if marker is not None:
                self.expect(f"{kind}: edited model not re-parsed",
                            node is not None and marker in node.raw_code)
            return Op(kind, dt)

        return self.guarded(kind, one)

    def _pass(self, rec: Recorder) -> list[Op]:
        ops = [
            self._op(rec, "parse_cold", False, None),
            self._op(rec, "parse_warm", True, None),
        ]
        marker = self._edit()
        ops.append(self._op(rec, "parse_1change", True, marker))
        return [o for o in ops if o is not None]

    def check_pass(self) -> None:
        """Nothing: every pass checks its own output."""

    def timed_pass(self, rec: Recorder) -> list[Op]:
        return self._pass(rec)

    def headline(self, ops: list[Op], out: Outcome) -> None:
        kinds = by_kind(ops)
        out.e2e["wall_s"] = sum(median(v) for v in kinds.values())
        out.lines += [
            f"{k}_s {median(v):.4f} s (n={len(v)})" for k, v in kinds.items()
        ] + [f"parse latency over all invocations: "
             f"{_summary([o.seconds for o in ops])} s"]


#: the workloads BENCHMARK.json lists, in its order
WORKLOADS = {w.name: w for w in (Rung, ProjectBuild, Parse)}
