"""Benchmark of the engine through its public query API.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 1 --trace 0

Each run starts one local Spark session (``sources.session.get_spark``)
and registers the queries (``load_all``/``all_queries``). Its warm-up
builds every query of the workload once and checks the digest of its
output against ``expected_digests.json``, then times a noop scan through
``sources.io.load`` of every table those queries read. It then runs timed
passes over the workload's queries until ``--seconds`` have passed and at
least MIN_PASSES have run, and reports medians over them. In a pass each query
is built (``Query.fn(spark, sf)``: the eager checkpoint jobs and driver
collects) and executed (``.write.format("noop").save()``), in an order
drawn from ``--seed``. The input data are the repository's fixed seed-42
fixtures (the directory above ``__spark_entry__.SF0001``), which are
read-only; the seed only permutes query order.

The last stdout line is one JSON object. With ``--trace 0`` it holds the
end-to-end metrics, from passes that read Spark's status store once each.
With ``--trace 1`` the third and fourth of every five passes are traced: each
build and exec step gets a span and its own job group, counters are read
after every query, and the per-layer metrics come from those passes.
The spans, per-pass figures and host state are written to
.bench_build/perfbench/ when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import asdict, dataclass, field

from digest import digest
from proctree import self_cpu_s, thread_cpu_s, tree_cpu, tree_peak_rss_mb
from statusstore import StatusReader

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PACKAGE = "big_data_management_and_analytics_spark"
EXPECTED = os.path.join(HERE, "expected_digests.json")
CPUS = min(4, os.cpu_count() or 1)
# Scale of the queries a workload runs small, where the fixed cost of each
# job, stage and task outweighs the data.
SMALL = "sf0.01"
# --seconds is set below the time of one pass, so every run times the same
# number of passes whatever the host speed, and the medians are taken at the
# same point of the JIT's warm-up in every run. The JIT keeps compiling for
# several passes after the warm-up (the first timed pass runs ~20% slower
# than the later ones); the medians give that pass, and one that a busy host
# slowed down, little weight.
MIN_PASSES = 3
# A traced run makes its first pass untraced and leaves it out of the tracing
# overhead, because it runs slow. The passes after it still speed up a
# little from one to the next; untraced, traced, traced, untraced keeps that
# trend out of the overhead.
TRACED_ORDER = (False, False, True, True, False)
# HotSpot's JIT compiler threads ("C1 CompilerThread0", "C2 CompilerThread0"
# cut to 15 characters). They compile through every pass of a run, 6-9
# CPU-s a pass, about as much as the program's own CPU, by an amount that
# differs from run to run by several CPU-seconds; cpu_s leaves them out, so
# that this does not swamp it, and sources.session.jit_cpu_s reports them.
JIT_THREADS = "CompilerThre"


@dataclass(frozen=True)
class Workload:
    sf: str
    queries: tuple[str, ...]
    # Queries run at SMALL instead of ``sf``.
    small: tuple[str, ...] = ()

    @property
    def ids(self) -> tuple[str, ...]:
        return self.queries + self.small

    def scale(self, q: str) -> str:
        return SMALL if q in self.small else self.sf


WORKLOADS = {
    # JVM-only relational operators at sf0.1: scan, shuffle and codegen
    # work; no Python workers start, so Python-boundary changes are bypassed.
    # TPC-H q9 and EWMA, the only ids here from operators.composite_full and
    # operators.timeseries, run small to keep the pass short.
    "relational": Workload(
        "sf0.1",
        (
            "scan_pushdown_filter",
            "agg_pricing_summary",
            "join_star_5way",
            "win_topk_per_group",
            "stream_tumbling_batch",
            "tpch_q18_bigorders",
            "agg_abc_analysis",
        ),
        small=("tpch_q9_profit", "ts_ewma"),
    ),
    # LLM-pipeline functions at sf0.1: text features, vector search across
    # the Arrow/pandas UDF boundary and MinHash banding; little relational
    # work. The inverted index, perceptual hashing and iterative label
    # propagation, the only ids here from functions.llm_corpus,
    # functions.multimodal and operators.graph, run small: label propagation
    # and hashing alone take ~10 s of a pass at sf0.1.
    "llm_pipeline": Workload(
        "sf0.1",
        ("llm_text_tfidf", "llm_sim_knn", "llm_dedup_minhash"),
        small=("llm_inverted_index", "mm_phash_neardup", "graph_label_propagation"),
    ),
}

# Registering modules the per-layer metrics roll up to.
MODULES = (
    "sources.scans",
    "operators.aggregations",
    "operators.joins",
    "operators.windows",
    "operators.composite",
    "operators.composite_full",
    "operators.mining",
    "operators.graph",
    "operators.timeseries",
    "streaming.batch_twins",
    "functions.llm_text",
    "functions.llm_sim",
    "functions.llm_dedup",
    "functions.llm_corpus",
    "functions.multimodal",
)
MODULE_METRICS = {
    "build_s": "s",
    "exec_s": "s",
    "build_jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "python_cpu_s": "s",
    "shuffle_mb": "MB",
}
MODULE_UNITS = {f"{m}.{k}": u for m in MODULES for k, u in MODULE_METRICS.items()}
RUN_METRICS = {
    "sources.session.get_spark_s": "s",
    "plans.registry.load_all_s": "s",
    "sources.session.warmup_s": "s",
    "sources.io.scan_s": "s",
    "sources.io.input_mb": "MB",
    "sources.session.gc_s": "s",
    "sources.session.jit_cpu_s": "s",
    "sources.session.spill_mb": "MB",
    "sources.session.storage_mb": "MB",
    "sources.session.storage_growth_mb": "MB",
    "sources.session.task_skew": "ratio",
    "sources.session.peak_rss_mb": "MB",
    "trace_overhead": "ratio",
}
END_TO_END = {
    "pass_s": "s",
    "query_geomean_s": "s",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "setup_s": "s",
    "ok_ratio": "ratio",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    query: str | None = None
    pass_no: int | None = None


@dataclass
class Tracer:
    """Spans kept in memory; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, **kw) -> None:
        if self.enabled:
            self.spans.append(Span(name, start, end, **kw))


@dataclass
class PassResult:
    wall_s: float
    traced: bool
    cpu_s: float
    jit_cpu_s: float
    query_s: dict[str, float]
    shuffle_mb: float = 0.0
    input_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    # Block-manager storage held after the pass; read in traced runs only.
    storage_mb: float = 0.0
    # Per module, traced passes only.
    modules: dict[str, dict[str, float]] = field(default_factory=dict)
    skews: list[float] = field(default_factory=list)


def configure_environment() -> None:
    """Pin cores and memory, and keep every file Spark writes in the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # Also read by the launcher JVM that spark-submit starts first. JIT
    # compiler threads are kept alive, so that the CPU time of one that
    # would otherwise exit is not lost from JIT_THREADS.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )


def host_state() -> dict:
    l1, l5, l15 = os.getloadavg()
    return {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": CPUS, "load_avg": [l1, l5, l15]}


def module_of(fn) -> str:
    mod = fn.__module__.removeprefix(PACKAGE + ".")
    if mod not in MODULES:
        raise ValueError(f"query module {mod} has no per-layer metrics")
    return mod


class Bench:
    def __init__(self, workload: str, data_dir: str, seed: int, trace: bool) -> None:
        self.workload = WORKLOADS[workload]
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.tracer = Tracer(trace)
        # Query executions, and those that threw or, in the warm-up, whose
        # digest did not match.
        self.attempted = 0
        self.failed = 0
        self.run_metrics: dict[str, float] = {}

    @property
    def ok_ratio(self) -> float:
        """Executions whose output matched over executions attempted. A
        warm-up execution matches when its digest equals the expected one; a
        pass execution, which is not digested, when it does not throw."""
        return (self.attempted - self.failed) / self.attempted

    def sf_dir(self, q: str) -> str:
        return os.path.join(self.data_dir, self.workload.scale(q))

    def order(self) -> list[str]:
        order = list(self.workload.ids)
        self.rng.shuffle(order)
        return order

    def timed(self, name: str, fn, **kw):
        t0 = time.perf_counter()
        out = fn()
        t1 = time.perf_counter()
        self.tracer.add(name, t0, t1, **kw)
        return out, t1 - t0

    def setup(self) -> None:
        """Everything before the first timed pass."""
        t0 = time.perf_counter()
        import big_data_management_and_analytics_spark as engine
        from big_data_management_and_analytics_spark.sources.session import get_spark

        self.spark, dt = self.timed("sources.session.get_spark", lambda: get_spark("perfbench"))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.run_metrics["sources.session.get_spark_s"] = dt
        self.registry, dt = self.timed(
            "plans.registry.load_all", lambda: (engine.load_all(), engine.all_queries())[1]
        )
        self.run_metrics["plans.registry.load_all_s"] = dt
        self.modules = {q: module_of(self.registry[q].fn) for q in self.workload.ids}

        self.status = StatusReader(self.spark)
        self.digests, self.run_metrics["sources.session.warmup_s"] = self.timed(
            "sources.session.warmup", self.warm_up
        )
        self.scan_floor()
        if self.tracer.enabled:
            self.storage0_mb = self.status.storage_mb()
        self.setup_s = time.perf_counter() - t0

    def warm_up(self) -> dict[str, str | None]:
        """Build every query once and digest its output, which also runs the
        plan a timed pass executes; the digest is None if the query threw."""
        with open(EXPECTED) as fh:
            expected = json.load(fh)
        out: dict[str, str | None] = {}
        self.spark.sparkContext.setJobGroup("warmup", "warmup")
        for q in self.order():
            self.attempted += 1
            want = expected.get(self.workload.scale(q), {}).get(q)
            span = {"parent": "sources.session.warmup", "query": q}
            try:
                df, _ = self.timed("build", lambda: self.registry[q].fn(self.spark, self.sf_dir(q)), **span)
                out[q], _ = self.timed("digest", lambda: digest(df), **span)
            except Exception:
                traceback.print_exc()
                out[q] = None
            if out[q] is None or out[q] != want:
                self.failed += 1
                print(f"perfbench: {q} digest {out[q]} != expected {want}", file=sys.stderr)
        self.status.read("warmup")
        return out

    def scan_floor(self) -> None:
        """Noop scan through ``sources.io.load`` of each table the warm-up
        read, at each scale it read it."""
        from big_data_management_and_analytics_spark.sources.io import load

        tables = sorted(self.status.tables_read(self.spark))
        self.spark.sparkContext.setJobGroup("scan", "scan")

        def scan():
            for sf, t in tables:
                self.timed(
                    "sources.io.load",
                    lambda: load(self.spark, os.path.join(self.data_dir, sf), t)
                    .write.format("noop")
                    .mode("overwrite")
                    .save(),
                    parent="sources.io.scan",
                    query=f"{sf}/{t}",
                )

        _, self.run_metrics["sources.io.scan_s"] = self.timed("sources.io.scan", scan)
        self.status.read("scan")

    def run_query(self, q: str, p: int, traced: bool) -> tuple[float, float, float] | None:
        """Build then execute ``q``: (build_s, exec_s, python_cpu_s), or None
        if it threw. A throw counts as a failed execution, so it lowers
        ``ok_ratio`` even though the pass then runs faster."""
        sc = self.spark.sparkContext
        fn = self.registry[q].fn
        span = {"parent": "pass", "query": q, "pass_no": p}
        self.attempted += 1
        cpu0 = tree_cpu(self.status.jvm_pid) if traced else None
        try:
            if traced:
                sc.setJobGroup(f"{q}|{p}|build", q)
            df, build_s = self.timed("build", lambda: fn(self.spark, self.sf_dir(q)), **span)
            if traced:
                sc.setJobGroup(f"{q}|{p}|exec", q)
            _, exec_s = self.timed("exec", lambda: df.write.format("noop").mode("overwrite").save(), **span)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        py_s = (tree_cpu(self.status.jvm_pid) - cpu0).children_s if traced else 0.0
        return build_s, exec_s, py_s

    def run_pass(self, p: int, traced: bool) -> PassResult:
        sc = self.spark.sparkContext
        group = f"pass-{p}"
        sc.setJobGroup(group, group)
        pid = self.status.jvm_pid
        cpu0, jit0, drv0 = tree_cpu(pid), thread_cpu_s(pid, JIT_THREADS), self_cpu_s()
        gc0 = self.status.gc_s()
        t0 = time.perf_counter()
        timings = {q: self.run_query(q, p, traced) for q in self.order()}
        timings = {q: t for q, t in timings.items() if t is not None}
        wall = time.perf_counter() - t0
        self.tracer.add("pass", t0, t0 + wall, pass_no=p)
        jit = thread_cpu_s(pid, JIT_THREADS) - jit0
        cpu = (tree_cpu(pid) - cpu0).total_s - jit + self_cpu_s() - drv0
        res = PassResult(
            wall_s=wall,
            traced=traced,
            cpu_s=cpu,
            jit_cpu_s=jit,
            query_s={q: b + e for q, (b, e, _) in timings.items()},
            gc_s=self.status.gc_s() - gc0,
        )
        if self.tracer.enabled:
            res.storage_mb = self.status.storage_mb()
        if not traced:
            (work,) = self.status.read(group)
            res.shuffle_mb = work.shuffle_write_bytes / 1e6
            return res
        groups = [f"{q}|{p}|{step}" for q in timings for step in ("build", "exec")]
        works = dict(zip(groups, self.status.read(*groups)))
        res.modules = {m: dict.fromkeys(MODULE_METRICS, 0.0) for m in MODULES}
        for q, (build_s, exec_s, py_s) in timings.items():
            b, e = works[f"{q}|{p}|build"], works[f"{q}|{p}|exec"]
            row = res.modules[self.modules[q]]
            row["build_s"] += build_s
            row["exec_s"] += exec_s
            row["python_cpu_s"] += py_s
            row["build_jobs"] += b.jobs
            b += e
            row["tasks"] += b.tasks
            row["executor_cpu_s"] += b.executor_cpu_s
            row["shuffle_mb"] += b.shuffle_write_bytes / 1e6
            res.shuffle_mb += b.shuffle_write_bytes / 1e6
            res.input_mb += b.input_bytes / 1e6
            res.spill_mb += b.spill_bytes / 1e6
            if b.heaviest_stage is not None:
                skew = self.status.task_skew(b.heaviest_stage)
                if skew is not None:
                    res.skews.append(skew)
        return res

    def measure(self, seconds: float) -> list[PassResult]:
        """Timed passes until ``seconds`` have passed and at least MIN_PASSES
        have run, or in a traced run at least the passes of TRACED_ORDER."""
        passes: list[PassResult] = []
        t0 = time.perf_counter()
        trace = self.tracer.enabled
        least = len(TRACED_ORDER) if trace else MIN_PASSES
        while time.perf_counter() - t0 < seconds or len(passes) < least:
            n = len(passes)
            passes.append(self.run_pass(n, trace and TRACED_ORDER[n % len(TRACED_ORDER)]))
        self.peak_rss_mb = tree_peak_rss_mb(self.status.jvm_pid)
        return passes

    def stop(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)

    def end_to_end(self, passes: list[PassResult]) -> dict[str, float]:
        samples = {q: [p.query_s[q] for p in passes if q in p.query_s] for q in self.workload.ids}
        per_query = {q: statistics.median(v) for q, v in samples.items() if v}
        return {
            "pass_s": statistics.median(p.wall_s for p in passes),
            "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in per_query.values())),
            "cpu_s": statistics.median(p.cpu_s for p in passes),
            "shuffle_mb": statistics.median(p.shuffle_mb for p in passes),
            "setup_s": self.setup_s,
            "ok_ratio": self.ok_ratio,
        }

    def per_layer(self, passes: list[PassResult]) -> dict[str, float]:
        traced = [p for p in passes if p.traced]
        plain = [p for p in passes[1:] if not p.traced]
        out: dict[str, float] = {}
        for m in MODULES:
            for k in MODULE_METRICS:
                out[f"{m}.{k}"] = statistics.median(p.modules[m][k] for p in traced)
        skews = [s for p in traced for s in p.skews]
        storage = [self.storage0_mb, *(p.storage_mb for p in passes)]
        out.update(self.run_metrics)
        out.update(
            {
                "sources.io.input_mb": statistics.median(p.input_mb for p in traced),
                "sources.session.gc_s": statistics.median(p.gc_s for p in traced),
                "sources.session.jit_cpu_s": statistics.median(p.jit_cpu_s for p in traced),
                "sources.session.spill_mb": statistics.median(p.spill_mb for p in traced),
                "sources.session.storage_mb": statistics.median(storage[1:]),
                "sources.session.storage_growth_mb": statistics.median(
                    b - a for a, b in zip(storage, storage[1:])
                ),
                "sources.session.peak_rss_mb": self.peak_rss_mb,
                "sources.session.task_skew": statistics.median(skews) if skews else 1.0,
                "trace_overhead": statistics.median(p.wall_s for p in traced)
                / statistics.median(p.wall_s for p in plain),
            }
        )
        return out


def write_record(bench: Bench, args, passes: list[PassResult], host: dict) -> None:
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(WORK, f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "host": host,
                "digests": bench.digests,
                "passes": [asdict(p) for p in passes],
                "spans": [asdict(s) for s in bench.tracer.spans],
            },
            fh,
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE} not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    configure_environment()
    import __spark_entry__

    data_dir = os.path.dirname(__spark_entry__.SF0001)
    workload = WORKLOADS[args.workload]
    for sf in {workload.scale(q) for q in workload.ids}:
        if not os.path.isdir(os.path.join(data_dir, sf)):
            print(f"perfbench: fixtures {data_dir}/{sf} not found", file=sys.stderr)
            return 2

    host = {"start": host_state()}
    bench = Bench(args.workload, data_dir, args.seed, bool(args.trace))
    try:
        bench.setup()
        passes = bench.measure(args.seconds)
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
    if args.trace:
        metrics, units = bench.per_layer(passes), {**MODULE_UNITS, **RUN_METRICS}
    else:
        metrics, units = bench.end_to_end(passes), END_TO_END

    host["end"] = host_state()
    if args.trace:
        # The repository bench's fixed CPU burst, for triage only. It takes
        # 3-6 s, so untraced runs, which are most of a benchmark session,
        # record only the load averages.
        import bench as repo_bench

        host["calibration"] = repo_bench._calibrate()
    print(f"perfbench host: {json.dumps(host)}", file=sys.stderr)
    write_record(bench, args, passes, host)
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
