"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process builds one Spark session with
``build_session()`` at ``local[<cores>]``, generates the workload's
inputs from the seed and runs ``WARM_PASSES`` discarded warm passes, the
first of them checked (set-up). It then drives whole passes of the
workload as a closed loop with one client: ``--seconds`` divided by
``PASS_SECONDS``, at least ``MIN_PASSES`` of them, so every run takes
the same number of samples whatever the host's speed. Scratch data, the
Spark warehouse and ``derby.log`` live in a temporary directory under
the checkout that is removed on exit.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, the
tracing overhead among them. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPANS_DIR = os.path.join(ROOT, ".perfbench_spans")
# A warm pass takes about this long on a 4-core host; --seconds divided
# by it sets the number of measured passes.
PASS_SECONDS = 5.0
MIN_PASSES = 3
# Discarded passes before measuring: the first warms Spark and is the
# checked pass, the rest let the JIT compile the hot paths.
WARM_PASSES = 3
# Driver heap, through the SPARK_DRIVER_MEMORY knob build_session() reads
# (its default is 8g). On the shared host the benchmark was tuned on, the
# 8g default let corpus_dedup's process tree reach 5 GB, with a peak-RSS
# spread of 0.28 of the median over five seeds; under 2g it stayed near
# 1.6 GB, below the cap, with a spread of 0.10. The heap is not committed
# up front, so peak RSS still follows its growth.
DRIVER_MEMORY = "2g"


class StageMetricsError(RuntimeError):
    """The stage metrics read for an op cannot be that op's: the traced
    run stops rather than report them."""


@dataclass
class Sample:
    name: str
    kind: str
    pass_idx: int
    traced: bool
    build_s: float = 0.0
    exec_s: float = 0.0
    check_s: float = 0.0
    stolen: float = 0.0  # share of the machine's runnable CPU time stolen during the op
    rows: int | None = None
    stats: dict = field(default_factory=dict)
    spans: dict = field(default_factory=dict)
    cache_delta: int = 0

    @property
    def wall(self) -> float:
        return self.build_s + self.exec_s

    @property
    def unstolen(self) -> float:
        """The wall less the share of it the hypervisor stole."""
        return self.wall * (1.0 - self.stolen)


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def hermetic_env(tmp: str, cores: int) -> None:
    """Everything the run writes goes under ``tmp``; Python workers find
    the package through PYTHONPATH whatever the working directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.chdir(tmp)


class Runner:
    def __init__(self, args, tmp: str, cores: int):
        from probe import Tracer

        self.args, self.tmp, self.cores = args, tmp, cores
        self.tracer = Tracer()
        self.samples: list[Sample] = []
        self.pass_walls: dict[int, tuple[bool, float]] = {}
        self.failures = 0
        self.n_op = 0

    def build_session(self):
        from hadoop_20_warehouse_fix_spark.session import build_session

        # The JVM keeps the default tiered JIT; only its scratch files move
        # under the run's temporary directory.
        java_opts = f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp}"
        return build_session(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
                "spark.driver.extraJavaOptions": java_opts,
                "spark.ui.showConsoleProgress": "false",
            },
        )

    def run_op(self, op, pass_idx: int, traced: bool) -> Sample:
        from pyspark.sql import DataFrame

        from probe import cpu_ticks, job_stats, stolen_share

        sc = self.spark.sparkContext
        s = Sample(op.name, op.kind, pass_idx, traced)
        self.n_op += 1
        group = f"perfbench-{self.n_op}"
        out = None
        try:
            if op.pre:
                op.pre()
            sc.setJobGroup(group, op.name)
            if traced:
                cached0, span0 = sc._jsc.getPersistentRDDs().size(), len(self.tracer.spans)
            ticks0 = cpu_ticks()
            with self.tracer.span(f"op.{op.name}"):
                t0 = time.perf_counter()
                obj = op.call()
                t1 = time.perf_counter()
                eager = set(sc.statusTracker().getJobIdsForGroup(group)) if traced else set()
                out = op.force(obj)
                t2 = time.perf_counter()
            s.stolen = stolen_share(ticks0, cpu_ticks())
            # An action's whole call is execution; a DataFrame splits into
            # build (until it returns) and execution (forcing it).
            s.build_s, s.exec_s = (t1 - t0, t2 - t1) if isinstance(obj, DataFrame) else (0.0, t2 - t0)
            if traced:
                s.stats = job_stats(sc, group, eager)
                s.cache_delta = sc._jsc.getPersistentRDDs().size() - cached0
                s.spans = self.tracer.totals(self.tracer.spans[span0:])
                if s.stats["executor_run_ms"] / 1000 > s.wall * self.cores:
                    raise StageMetricsError(
                        f"{op.name}: executor run time {s.stats['executor_run_ms'] / 1000:.3f}s exceeds "
                        f"wall {s.wall:.3f}s x {self.cores} cores: stage metrics are not this op's"
                    )
            if isinstance(out, list):
                s.rows = len(out)
            if op.post:
                op.post(out)
            t3 = time.perf_counter()
            problems = op.check(out) if op.check else []
            s.check_s = time.perf_counter() - t3
        except StageMetricsError:
            raise
        except Exception:  # noqa: BLE001 - one failed op is counted, the loop goes on
            problems = [traceback.format_exc()]
        if problems:
            self.failures += 1
            print(f"perfbench: {op.name} (pass {pass_idx}) FAILED: " + "\n".join(problems), file=sys.stderr)
        self.spark.catalog.clearCache()
        self.samples.append(s)
        return s

    def run_pass(self, pass_idx: int, warm: bool, traced: bool) -> float:
        if traced:
            self.tracer.install()
            self.tracer.enabled = True
        try:
            ops = self.wl.pass_ops(pass_idx, warm)
            wall = sum(self.run_op(op, pass_idx, traced).wall for op in ops)
        finally:
            if traced:
                self.tracer.enabled = False
                self.tracer.uninstall()
        self.pass_walls[pass_idx] = (traced, wall)
        return wall

    def run(self) -> dict:
        from datagen import digest
        from probe import RssSampler, cpu_ticks, stolen_share
        from workloads import WORKLOADS

        a = self.args
        with RssSampler() as rss:
            t0, ticks0 = time.perf_counter(), cpu_ticks()
            self.spark = self.build_session()
            self.session_build_s = time.perf_counter() - t0
            self.wl = WORKLOADS[a.workload](self.spark, a.seed, self.tmp)
            inputs = self.wl.inputs()
            print(f"perfbench: inputs digest {digest(inputs.files)} (workload {a.workload}, seed {a.seed})", flush=True)
            t1 = time.perf_counter()
            self.wl.prepare()
            t2 = time.perf_counter()
            for idx in range(WARM_PASSES):
                self.run_pass(idx, warm=idx == 0, traced=False)
            check_s = sum(s.check_s for s in self.samples)
            setup_s = time.perf_counter() - t0 - check_s
            self.setup_stolen = stolen_share(ticks0, cpu_ticks())
            print(
                f"perfbench: setup {setup_s:.2f}s: session {self.session_build_s:.2f}s, inputs "
                f"{t1 - t0 - self.session_build_s:.2f}s, prepare {t2 - t1:.2f}s, warm pass ops "
                + " ".join(f"{self.pass_walls[i][1]:.2f}s" for i in range(WARM_PASSES))
                + f"; checks {check_s:.2f}s not counted",
                flush=True,
            )

            passes = max(MIN_PASSES, round(a.seconds / PASS_SECONDS))
            for idx in range(WARM_PASSES, WARM_PASSES + passes):
                self.run_pass(idx, warm=False, traced=bool(a.trace) and (idx - WARM_PASSES) % 2 == 1)
            problems = self.wl.final_check()
            if problems:
                self.failures += 1
                print("perfbench: final check FAILED: " + "\n".join(problems), file=sys.stderr)
            rss.sample()
        self.setup_s, self.peak_rss = setup_s, rss.peak
        self.attempted = len(self.samples) + 1  # the final check counts as one
        self.nominal_rows = inputs.nominal_rows
        if a.trace:
            self.tracer.dump(os.path.join(SPANS_DIR, f"{a.workload}-seed{a.seed}.jsonl"))
        return self.trace_metrics() if a.trace else self.end_to_end()

    def measured(self, traced: bool = False) -> list[Sample]:
        return [s for s in self.samples if s.pass_idx >= WARM_PASSES and s.traced == traced]

    def trace_overhead(self) -> float:
        """Median over traced passes of the pass wall minus the mean wall
        of the untraced passes either side of it; the neighbours' mean
        takes out the passes' drift as the JIT warms."""
        from metrics import median

        w = self.pass_walls
        return median(
            wall - (w[i - 1][1] + w[i + 1][1]) / 2
            for i, (traced, wall) in w.items()
            if traced and i - 1 in w and i + 1 in w
        )

    def end_to_end(self) -> dict:
        from metrics import END_TO_END, REPORTED, median, percentile, tail_percentile

        passes: dict[int, list[Sample]] = {}
        for s in self.measured():
            passes.setdefault(s.pass_idx, []).append(s)
        walls = {i: sum(s.wall for s in ss) for i, ss in passes.items()}
        # Gated times leave out the CPU share the hypervisor stole while
        # each op ran: on the shared 4-vCPU host the benchmark was tuned
        # on, steal reached a third of all CPU ticks for tens of seconds at
        # a time. There the correction narrowed the spread of the median
        # pass on every workload and set of runs it was compared on (see
        # README.md); the raw walls are printed beside it.
        unstolen = {i: sum(s.unstolen for s in ss) for i, ss in passes.items()}
        pass_s = median(unstolen.values())
        ops = [s.wall for s in self.measured()]
        p = tail_percentile(len(ops))
        values = {
            "setup_s": self.setup_s * (1.0 - self.setup_stolen),
            "pass_s": pass_s,
            "rows_per_s": self.nominal_rows / pass_s,
            "peak_rss_mb": self.peak_rss / 2**20,
        }
        report = {
            "setup_wall_s": self.setup_s,
            "pass_wall_s": median(walls.values()),
            "op_p50_s": median(ops),
            "failed_frac": self.failures / self.attempted,
            "op_tail_s": percentile(ops, p),
            **self.wl.report(self.measured()),
        }
        units = {**{k: u for k, (u, _) in END_TO_END.items()}, **REPORTED}
        line = ", ".join(f"{k}={v:.6g} {units[k]}" for k, v in {**values, **report}.items())
        print(
            f"perfbench: {self.args.workload}: {line}; op_tail_s is p{p} of n={len(ops)} ops; "
            "pass walls s (unstolen s): "
            + " ".join(f"{walls[i]:.2f} ({u:.2f})" for i, u in unstolen.items())
            + f"; setup stolen {self.setup_stolen:.0%}",
            flush=True,
        )
        by_op: dict[str, list[float]] = {}
        for s in self.measured():
            by_op.setdefault(s.name, []).append(s.wall)
        warm = {s.name: s.wall for s in self.samples if s.pass_idx == 0}
        print("perfbench: op median s (first warm pass s): " + ", ".join(f"{k}={median(v):.3f} ({warm.get(k, 0):.3f})" for k, v in sorted(by_op.items())), flush=True)
        return {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in values.items()}

    def trace_metrics(self) -> dict:
        from metrics import PER_LAYER, median

        traced = self.measured(traced=True)
        passes = sorted({s.pass_idx for s in traced})

        def per_pass(fn) -> float:
            return median(fn([s for s in traced if s.pass_idx == i]) for i in passes)

        def stat(key, scale=1.0):
            return per_pass(lambda ss: sum(s.stats.get(key, 0.0) for s in ss) * scale)

        def span(name, idx):
            return per_pass(lambda ss: sum(s.spans.get(name, (0.0, 0))[idx] for s in ss))

        exec_s = per_pass(lambda ss: sum(s.wall for s in ss))
        run_s = stat("executor_run_ms", 1e-3)
        values = {
            "session.build_s": self.session_build_s,
            "catalog.load_table_s": span("catalog.load_table", 0),
            "catalog.load_table_calls": span("catalog.load_table", 1),
            "queries.build_s": per_pass(lambda ss: sum(s.build_s for s in ss)),
            "queries.eager_jobs": stat("eager_jobs"),
            "queries.exec_s": per_pass(lambda ss: sum(s.exec_s for s in ss)),
            "spark.jobs": stat("jobs"),
            "spark.stages": stat("stages"),
            "spark.tasks": stat("tasks"),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": stat("executor_cpu_ns", 1e-9),
            "spark.gc_s": stat("gc_ms", 1e-3),
            "spark.core_busy_frac": run_s / (exec_s * self.cores) if exec_s else 0.0,
            "spark.shuffle_write_bytes": stat("shuffle_write_bytes"),
            "spark.shuffle_read_bytes": stat("shuffle_read_bytes"),
            "spark.shuffle_write_records": stat("shuffle_write_records"),
            "spark.spill_bytes": stat("spill_bytes"),
            "spark.peak_exec_mem_bytes": per_pass(lambda ss: max((s.stats.get("peak_exec_mem_bytes", 0.0) for s in ss), default=0.0)),
            "spark.input_bytes": stat("input_bytes"),
            "cache.persisted_rdds_delta": per_pass(lambda ss: sum(s.cache_delta for s in ss)),
            "trace.overhead_s": self.trace_overhead(),
        }
        values.update(self.wl.layer_metrics(traced, [s for s in self.samples if s.pass_idx == 0]))
        values = {k: float(values.get(k, 0.0)) for k in PER_LAYER}
        return {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in values.items()}


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate below
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        import hadoop_20_warehouse_fix_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    cwd = os.getcwd()
    hermetic_env(tmp, cores)
    runner = Runner(args, tmp, cores)
    try:
        metrics = runner.run()
    finally:
        if getattr(runner, "spark", None) is not None:
            stop_spark(runner.spark)
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.listdir(tmp_root):
            os.rmdir(tmp_root)
    result = {"correct": runner.failures == 0, "attempted": runner.attempted, "failed": runner.failures, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
