"""Benchmark entry point.

    python3 perfbench/run.py --workload scaled --seed 1 --seconds 8 --trace 0

Starts one ``local[4]`` Spark session (one closed-loop client, one operation
at a time), prepares the workload's inputs from ``--seed``, runs one untimed
warm-up pass that collects and verifies every result, then runs timed
passes over the workload's operations until ``--seconds`` have elapsed (at
least one pass). Outputs are verified outside the timed region. The last
stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one more
untimed pass, then alternates untraced and traced passes and reports the
per-layer metrics from the traced ones, plus the tracing overhead.
Everything the run writes stays under ``.perfbench/`` in the working
directory, which is recreated per run; only the traced run's spans
(``.perfbench/spans.jsonl``) are kept at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "2g"
DEADLINE_S = 170.0  # hard stop, inside the 180 s a run may take
SPANS = "spans.jsonl"
OP_SPAN = "op."  # prefix of the span around one whole operation
# JVM threads that do not work for the driver, by the start of their kernel
# name (cut to 15 characters): Spark's executor task threads (task_cpu_s
# counts those), the JIT compilers and the garbage collector
_NOT_DRIVER_THREADS = (
    "Executor task", "C1 Compiler", "C2 Compiler", "GC Thread", "G1 ",
    "VM Thread", "Sweeper thread",
)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least q% of the
    values at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))]


def max_reportable_percentile(n: int) -> float | None:
    """Highest percentile in {50, 90, 99} with at least ten samples beyond
    it, the highest one worth reporting from *n* samples."""
    best = None
    for q in (50, 90, 99):
        if n * (100 - q) / 100 >= 10:
            best = q
    return best


def _env(work: str) -> None:
    """Pin cores, heap and every scratch location before Spark starts."""
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    })
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


class ProcTree:
    """CPU seconds and peak RSS of the Spark JVM and its Python workers."""

    def __init__(self, jvm_pid: int):
        from bench import _proc_tree

        self._tree = _proc_tree
        self.jvm_pid = jvm_pid
        self._clk = os.sysconf("SC_CLK_TCK")

    def pids(self) -> set[int]:
        return self._tree(self.jvm_pid)

    def cpu_s(self) -> tuple[float, float]:
        """user+sys so far of the JVM tree (with reaped children) and of this
        process, whose Python builds the DataFrames and drives py4j; and the
        part of it in the JVM's children, the Python workers."""
        total = sum(os.times()[:2])
        workers = 0.0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
                cpu = sum(int(x) for x in f[11:15]) / self._clk  # utime stime cutime cstime
            except (OSError, ValueError, IndexError):
                continue
            total += cpu
            if pid != self.jvm_pid:
                workers += cpu
        return total, workers

    def driver_clock(self) -> tuple[float, dict[int, float]]:
        """CPU seconds so far of the driver: this process's main thread,
        whose Python builds the DataFrames and makes the py4j calls, and
        each JVM thread that works for the driver (py4j server threads doing
        Catalyst analysis and planning, the DAG scheduler, the listener bus,
        shuffle and RPC threads), keyed by thread id."""
        threads: dict[int, float] = {}
        base = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(base):
            try:
                with open(f"{base}/{tid}/comm") as fh:
                    if fh.read().startswith(_NOT_DRIVER_THREADS):
                        continue
                with open(f"{base}/{tid}/schedstat") as fh:
                    threads[int(tid)] = int(fh.read().split()[0]) / 1e9
            except (OSError, ValueError, IndexError):
                continue
        return time.thread_time(), threads

    @staticmethod
    def driver_cpu_s(before, after) -> float:
        """Driver CPU seconds between two :meth:`driver_clock` readings; a
        JVM thread that ended in between takes its time with it."""
        (p0, j0), (p1, j1) = before, after
        return p1 - p0 + sum(v - j0.get(tid, 0.0) for tid, v in j1.items())

    def peak_rss_mb(self) -> float:
        """Peak RSS of the JVM plus this process. Python workers come and
        go with Spark's task scheduling, so they are left out."""
        kb = 0
        for pid in (self.jvm_pid, os.getpid()):
            with open(f"/proc/{pid}/status") as fh:
                kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return kb / 1024.0


class Runner:
    """Runs a workload's passes and accounts for every operation."""

    def __init__(self, workload, spark, procs: ProcTree):
        self.w = workload
        self.spark = spark
        self.procs = procs
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.jvm_lost = False

    def _gc(self) -> None:
        # collect the previous operation's garbage outside the timed region
        self.spark.sparkContext._jvm.System.gc()

    def run_op(self, op, tracer) -> tuple[float, ...] | None:
        """Run and verify one operation; (wall_s, cpu_s, driver_cpu_s,
        worker_cpu_s), or None if it failed."""
        self.attempted += 1
        try:
            self._gc()
            c0, d0 = self.procs.cpu_s(), self.procs.driver_clock()
            t0 = time.perf_counter()
            with tracer.span(OP_SPAN + op.name):
                result = op.run(tracer)
            dt = time.perf_counter() - t0
            d1 = self.procs.driver_clock()
            c1 = self.procs.cpu_s()
            self.w.check(op, result)
            return dt, c1[0] - c0[0], ProcTree.driver_cpu_s(d0, d1), c1[1] - c0[1]
        except Exception as exc:  # an operation's failure must not end the run
            self.failed += 1
            self.errors.append(f"{op.name}: {type(exc).__name__}: {exc}"[:500])
            traceback.print_exc(file=sys.stderr)
            self.jvm_lost = self.jvm_lost or not _jvm_alive(self.spark)
            return None

    def run_pass(self, tracer, samples: dict[str, list], group: str | None = None) -> None:
        """One pass over the operations; an untraced pass may run its jobs
        under job *group*, so their task CPU can be read afterwards."""
        sc = self.spark.sparkContext
        try:
            if group is not None:
                sc.setJobGroup(group, group)
            self._pass(tracer, samples)
            if group is not None:
                sc._jsc.clearJobGroup()
        except Exception:  # run_op handles the rest; only a lost JVM gets here
            if _jvm_alive(self.spark):
                raise
            self.jvm_lost = True

    def _pass(self, tracer, samples: dict[str, list]) -> None:
        with tracer.span("pass"):
            for op in self.w.ops():
                if self.jvm_lost:  # every later operation fails unattempted
                    self.attempted += 1
                    self.failed += 1
                    continue
                got = self.run_op(op, tracer)
                if got is not None:
                    samples.setdefault(op.name, []).append(got)


def _jvm_alive(spark) -> bool:
    try:
        spark.sparkContext._jvm.System.currentTimeMillis()
        return True
    except Exception:
        return False


def best_of_passes(samples: dict[str, list]) -> dict[str, tuple]:
    """Each operation's samples at their best over the window's passes,
    field by field. Interference only adds time: hypervisor steal comes in
    episodes of seconds to a minute and inflates both wall and CPU time,
    and the first pass after the warm-up still pays for JIT compilation."""
    return {op: tuple(min(field) for field in zip(*v)) for op, v in samples.items()}


def pass_totals(samples: dict[str, list]) -> tuple:
    """One pass's figures (wall_s, cpu_s, driver_cpu_s, worker_cpu_s): the
    sum over operations of their best."""
    best = list(best_of_passes(samples).values())
    return tuple(sum(field) for field in zip(*best)) if best else (0.0,) * 4


_LAYER_SPANS = (
    "queries.build", "queries.exec", "geometry.mesh", "simulation.solve",
    "sources.codec",
)


def _unattributed(span) -> bool:
    return span.name == "pass" or span.name.startswith(OP_SPAN)


def layer_metrics(tracer) -> dict[str, float]:
    """Per-pass layer metrics, the median over the traced passes. Counters
    are summed over every span of a pass; a layer's time and jobs cover
    its span and the spans below it. Time in a pass or operation span but
    outside every layer span is unattributed."""
    from tracing import self_time

    per_pass: list[dict[str, float]] = []
    for top in (s for s in tracer.spans if s.name == "pass"):
        m: dict[str, float] = {"trace.unattributed_s": sum(
            self_time(s, tracer.children(s))
            for s in tracer.subtree(top) if _unattributed(s)
        )}
        for s in tracer.subtree(top):
            for k, v in s.counters.items():
                if k != "jobs":
                    m[k] = m.get(k, 0.0) + v
            if s.name in _LAYER_SPANS:
                m[f"{s.name}_s"] = m.get(f"{s.name}_s", 0.0) + s.duration
                m[f"{s.name}_jobs"] = m.get(f"{s.name}_jobs", 0.0) + sum(
                    x.counters.get("jobs", 0) for x in tracer.subtree(s)
                )
        per_pass.append(m)
    keys = {k for m in per_pass for k in m}
    return {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}


def op_breakdown(tracer) -> dict[str, dict[str, float]]:
    """Per operation, the median over the traced passes of its wall time;
    the share of it spent building DataFrames (``queries.build`` spans); the
    share of it during which a Spark stage ran (the rest is driver work:
    planning, job submission, Python); and its executor task time and task
    CPU time per wall second, the average number of the ``CORES`` executor
    cores kept busy."""
    from tracing import covered

    per_op: dict[str, list[tuple[float, ...]]] = {}
    for op in (s for s in tracer.spans if s.name.startswith(OP_SPAN)):
        sub = tracer.subtree(op)
        build = sum(s.duration for s in sub if s.name == "queries.build")
        staged = covered([iv for s in sub for iv in s.stages])
        run = sum(s.counters.get("spark.executor_run_s", 0.0) for s in sub)
        cpu = sum(s.counters.get("spark.executor_cpu_s", 0.0) for s in sub)
        d = op.duration
        per_op.setdefault(op.name[len(OP_SPAN):], []).append(
            (d, build / d, staged / d, run / d, cpu / d)
        )
    keys = ("wall_s", "build_share", "stage_share", "busy_cores", "task_cpu_cores")
    return {
        name: {k: round(statistics.median(x), 3) for k, x in zip(keys, zip(*v))}
        for name, v in per_op.items()
    }


def declared_metrics(kind: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    sys.path[:0] = [ROOT, HERE]
    try:  # the program under test: fail fast when it is not in the checkout
        from bench import _RunMonitor
        from columnarmodeling_spark.session import get_spark
        from tracing import SparkCounters, Tracer
        from workloads import WORKLOADS
    except ImportError:
        shutil.rmtree(work, ignore_errors=True)
        raise
    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")

    watchdog = threading.Timer(DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    t_setup = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = ProcTree(gateway.proc.pid)
    try:
        phases = {"session_s": time.perf_counter() - t_setup}
        workload = WORKLOADS[args.workload](spark, work, args.seed)
        workload.prepare()
        phases["prepare_s"] = time.perf_counter() - t_setup - sum(phases.values())
        runner = Runner(workload, spark, procs)
        off = Tracer(None)
        warm_s = {}
        for op in workload.ops(warmup=True):
            got = runner.run_op(op, off)
            warm_s[op.name] = round(got[0], 3) if got else None
        setup_s = time.perf_counter() - t_setup
        phases["warmup_s"] = setup_s - sum(phases.values())
        if args.trace:
            # one more untimed pass, so that the first plain pass, which the
            # traced passes are compared with, no longer pays for JIT
            # compilation
            runner.run_pass(off, {})

        on = Tracer(spark, run_id=f"{args.workload}-{args.seed}") if args.trace else off
        plain: dict[str, list] = {}
        traced: dict[str, list] = {}
        n_traced = 0
        plain_groups: list[str] = []
        with _RunMonitor() as mon:
            t0 = time.perf_counter()
            i = 0
            while not runner.jvm_lost and (
                i == 0 or time.perf_counter() - t0 < args.seconds
                or (args.trace and n_traced == 0)
            ):
                if args.trace and i % 2:
                    runner.run_pass(on, traced)
                    n_traced += 1
                else:
                    runner.run_pass(off, plain, group=f"plain-{i}")
                    plain_groups.append(f"plain-{i}")
                i += 1
            window_s = time.perf_counter() - t0
        alive = not runner.jvm_lost  # a lost JVM leaves no counters to read
        wall_s, cpu_s, driver_cpu_s, worker_cpu_s = pass_totals(plain)
        best = [x[0] for x in best_of_passes(plain).values()]
        task_cpu = [SparkCounters(spark).task_cpu_s(g) for g in plain_groups] if alive else []
        e2e = {
            "setup_s": setup_s,
            "task_cpu_s": min(task_cpu) if task_cpu else 0.0,
            "driver_cpu_s": driver_cpu_s,
            "worker_cpu_s": worker_cpu_s,
            "wall_s": wall_s,
            "cpu_s": cpu_s,
            "op_p50_s": statistics.median(best) if best else 0.0,
            "peak_rss_mb": procs.peak_rss_mb() if alive else 0.0,
        }
        conditions = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "passes": i, "window_s": round(window_s, 3), "jvm_lost": not alive,
            "master": spark.sparkContext.master,
            "default_parallelism": alive and spark.sparkContext.defaultParallelism,
            "driver_memory": alive and spark.conf.get("spark.driver.memory"),
            "end_to_end": {k: round(v, 4) for k, v in e2e.items()},
            "errors": runner.errors[:5], **mon.summary(),
            "setup_phases_s": {k: round(v, 3) for k, v in phases.items()},
            "warmup_op_s": warm_s,
            "op_samples_s": {k: [[round(y, 3) for y in x] for x in v] for k, v in plain.items()},
        }
        ops = [x[0] for v in plain.values() for x in v]
        conditions["op_samples"] = len(ops)
        if (max_reportable_percentile(len(ops)) or 0) >= 90:
            conditions["op_p90_s"] = round(percentile(ops, 90), 4)

        if args.trace:
            on.write(os.path.join(work, SPANS))
            metrics = layer_metrics(on)
            if plain and traced:
                metrics["trace.overhead_s"] = pass_totals(traced)[0] - pass_totals(plain)[0]
            if "simulation.solve_s" in metrics and metrics["simulation.solve_s"] > 0:
                metrics["simulation.particle_steps_per_s"] = (
                    workload.steps_done() / metrics["simulation.solve_s"]
                )
            metrics["sources.output_bytes"] = getattr(workload, "output_bytes", 0)
            conditions["op_layers"] = op_breakdown(on)
        else:
            metrics = e2e
        print("# conditions " + json.dumps(conditions), flush=True)
        kind = "per_layer" if args.trace else "end_to_end"
        out = {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in declared_metrics(kind).items()
        }
        result = {
            "correct": runner.failed == 0 and alive,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": out,
        }
    finally:
        watchdog.cancel()
        _shutdown(spark, gateway)
        for entry in os.listdir(work):  # keep only the spans of a traced run
            if entry != SPANS:
                shutil.rmtree(os.path.join(work, entry), ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _shutdown(spark, gateway) -> None:
    """Stop Spark and wait for the JVM (and with it every worker) to exit."""
    try:
        spark.stop()
    except Exception:
        pass
    try:
        gateway.shutdown()
    except Exception:
        pass
    proc = gateway.proc
    try:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)


def _abort() -> None:
    """Deadline reached: kill the JVM tree and exit without a result."""
    from bench import _proc_tree
    from pyspark import SparkContext

    print(f"perfbench: deadline of {DEADLINE_S:.0f}s reached, aborting", file=sys.stderr)
    gateway = SparkContext._gateway
    for pid in _proc_tree(gateway.proc.pid) if gateway else ():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
