"""Closed-loop benchmark of warpdb_spark's inventory entries.

One client runs one workload's ops back to back (no think time) on
``local[N]``, N = min(4, cores), in a fresh process:

    python3 perfbench/run.py --workload dialect_sf0.01 --seed 1 --seconds 20 --trace 0

A run starts the session, imports the inventory, runs one check cycle
(each op's result collected and later compared with its DuckDB oracle)
and one warm cycle, then times whole cycles of the workload in a seeded
order. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` half as many timed cycles are each followed
by a traced one, and the line carries the per-layer metrics. README.md explains the
workloads and every metric.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # the run's first statement: setup_s counts from here

import argparse  # noqa: E402
from collections import Counter  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
# with C1 only (see _spark_conf) the cycles after it are close to flat
WARM_CYCLES = 1
# half the cores run tasks; the other half are left to the driver's Python
# process, the JVM's driver, compiler and GC threads and the Python UDF
# workers: with as many task threads as vCPUs, throughput spread twice as
# wide from run to run
CPUS = max(1, min(4, os.cpu_count() or 1) // 2)

import check  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _settings(work: str) -> dict[str, str]:
    """Environment of every run, fixed before the JVM starts."""
    return {
        "SPARK_GRAFT_CPUS": str(CPUS),
        # the engine's 24g default exceeds a 15 GB host
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # Python UDF workers import warpdb_spark from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap and young generation: G1 grows the heap when GC takes
        # a larger share of wall time, so with adaptive sizing a busy host
        # moved peak_rss_mb by up to 2x between identical runs.
        # C1 only: with tiered compilation the C2 queue kept the compiler
        # threads busy for the whole run, and cycle times fell by a quarter
        # over the first ten cycles, so a run's figures depended on how far
        # the JIT had got; with C1 the cycles after the cold one are close to flat
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms2g -Xmn512m"
            " -XX:TieredStopAtLevel=1"
        ),
    }
    if trace:
        # the traced cycles' jobs must still be in the status store when
        # the REST API is read after them
        conf.update({k: "100000" for k in (
            "spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions")})
    return conf


def _descendants() -> list[int]:
    """Pids of every live descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class PeakRss:
    """Peak of the summed RSS of this process and all its descendants
    (the JVM and the Python UDF workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *_descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until every process this run started has ended, the Python
    workers the JVM forked included."""
    from pyspark import SparkContext

    started = _descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 30
    while (left := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Runner:
    """Runs one workload's ops through its sink, timed or traced."""

    def __init__(self, spark, queries, workload, scale: str | None, work: str):
        self.spark = spark
        self.sink = workload.sink
        self.ops = [(name, queries[name], os.path.join(DATA, scale or sf)) for name, sf in workload.ops]
        self.out = os.path.join(work, "out")
        self.tracer = None

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def run_op(self, i: int) -> None:
        """One op: build the DataFrame, deliver its result through the sink."""
        name, fn, sf_dir = self.ops[i]
        tracer, df, rows = self.tracer, None, None
        op = tracer.begin_op(name) if tracer else None
        try:
            with self._span("op"):
                if tracer:
                    tracer.job_group(op, "construct")
                with self._span("api.construct"):
                    df = fn(self.spark, sf_dir)
                if tracer:
                    tracer.job_group(op, "result")
                with self._span("api.result"):
                    if self.sink == "arrow":
                        rows = df.toArrow().num_rows
                    else:
                        rows = self._write(df, op)
        finally:
            if tracer:
                op["api.result_rows"] = rows
                tracer.end_op(op, df)
            shutil.rmtree(self.out, ignore_errors=True)

    def _write(self, df, op) -> int | None:
        import pyarrow.parquet as pq

        from warpdb_spark.sources.writers import write_table

        with self._span("sources.write") as span:
            write_table(df, self.out)
        if op is not None:
            op["sources.write_ms"] = (span["end"] - span["start"]) * 1e3
            files = [os.path.join(self.out, f) for f in os.listdir(self.out) if f.endswith(".parquet")]
            op["sources.written_mb"] = sum(os.path.getsize(f) for f in files) / 1e6
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return None

    def capture(self, i: int) -> tuple[list[str], list[tuple]]:
        """The op's result as columns and rows, for the oracle check. A
        parquet workload's result is read back from the files written."""
        name, fn, sf_dir = self.ops[i]
        df = fn(self.spark, sf_dir)
        try:
            if self.sink == "parquet":
                self._write(df, None)
                df = self.spark.read.parquet(self.out)
            return list(df.columns), [tuple(r) for r in df.collect()]
        finally:
            shutil.rmtree(self.out, ignore_errors=True)

    def cycle(self, rng: random.Random) -> "Cycle":
        """One whole cycle in a seeded order."""
        order = list(range(len(self.ops)))
        rng.shuffle(order)
        cycle = Cycle()
        start = time.perf_counter()
        for i in order:
            name = self.ops[i][0]
            t = time.perf_counter()
            try:
                self.run_op(i)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                cycle.failed.append(name)
                print(f"# op {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            cycle.latencies.append((name, time.perf_counter() - t))
        cycle.wall = time.perf_counter() - start
        return cycle


@dataclass
class Cycle:
    """(op, seconds) per op in run order, the ops that raised, wall time."""

    latencies: list[tuple[str, float]] = field(default_factory=list)
    failed: list[str] = field(default_factory=list)
    wall: float = 0.0


def _ops_per_s(cycles: list[Cycle]) -> float:
    """Ops that returned, per second of a typical cycle: one cycle's ops
    over the sum of each op's median latency across the cycles. A burst
    of host load that slows one op in one cycle moves a median little,
    where it would move the summed wall time of the cycles in full."""
    per_op: dict[str, list[float]] = {}
    for name, x in (pair for c in cycles for pair in c.latencies):
        per_op.setdefault(name, []).append(x)
    attempted = sum(len(c.latencies) for c in cycles)
    done = attempted - sum(len(c.failed) for c in cycles)
    return done / attempted * len(per_op) / sum(statistics.median(x) for x in per_op.values())


def _check_cycle(runner: Runner, rng: random.Random, corrupt: str | None) -> tuple[dict, set[str]]:
    """Each op's first run at its own scale, its result summarised for the
    DuckDB comparison made after the timed cycles. It is also the cold
    cycle (class loading, codegen, JIT, Python worker start), so it counts
    in setup_s and never in latency. ``corrupt`` names an op whose result
    loses a row before it is summarised (self-test)."""
    captured, failed = {}, set()
    order = list(range(len(runner.ops)))
    rng.shuffle(order)
    for i in order:
        name = runner.ops[i][0]
        try:
            cols, rows = runner.capture(i)
            if name == corrupt:
                rows = rows[1:] if rows else [(None,) * len(cols)]
            captured[name] = check.summary(cols, rows)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            failed.add(name)
            print(f"# op {name} failed in the check cycle:\n{traceback.format_exc()}", file=sys.stderr)
    return captured, failed


def _timed_cycles(runner: Runner, rng: random.Random, n: int, tracer=None):
    """n whole cycles, and with a tracer as many traced ones: each timed
    cycle is followed by a traced one, so both sample the same stretch of
    the JIT warm-up and their throughputs compare."""
    timed, traced = [], []
    for _ in range(n):
        timed.append(runner.cycle(rng))
        if tracer is not None:
            runner.tracer = tracer
            tracer.install()
            try:
                traced.append(runner.cycle(rng))
            finally:
                tracer.uninstall()
                runner.tracer = None
    return timed, traced


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests while this
    machine wanted it (/proc/stat's steal column), between two readings:
    the noise other tenants put into a run."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _percentile(values: list[float], q: float) -> float | None:
    """The q-quantile, or None when fewer than ten samples lie beyond it."""
    if len(values) * (1 - q) < 10:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", help="run every op at this scale instead of its own (self-test)")
    p.add_argument("--corrupt", help="drop one row of this op's checked result (self-test)")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no __spark_entry__.py in {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA):
        print(f"no input tables in {DATA}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    settings = _settings(work)
    for path in (settings["SPARK_LOCAL_DIRS"], settings["TMPDIR"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(settings)
    spark = None
    try:
        spark, result, report = _run(args, work)
        report.insert(1, "# settings " + " ".join(f"{k}={v}" for k, v in settings.items()))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in report:
        print(line)
    print(json.dumps(result))
    return 0


def _run(args, work: str):
    # after the benchmark's own modules: the program, and the oracle
    # gate whose fingerprint the output check reuses
    sys.path += [ROOT, os.path.join(ROOT, "tools")]
    from warpdb_spark.session import get_spark

    workload = WORKLOADS[args.workload]
    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=_spark_conf(work, bool(args.trace)))
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    import __spark_entry__

    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    inventory_s = time.perf_counter() - t

    runner = Runner(spark, queries, workload, args.scale, work)
    rng = random.Random(args.seed)
    t = time.perf_counter()
    captured, check_failures = _check_cycle(runner, rng, args.corrupt)
    check_cycle_s = time.perf_counter() - t
    for _ in range(WARM_CYCLES):
        runner.cycle(rng)
    setup_s = time.perf_counter() - _T0

    n_cycles = max(1, round(args.seconds / workload.cycle_s)) if not args.scale else 1
    traced = None
    if args.trace:
        from layers import Tracer, per_layer

        traced = Tracer(spark)
        # half as many pairs of timed and traced cycles keep a traced run
        # about as long as an untraced one
        n_cycles = max(1, n_cycles // 2)
    cpu_before = _cpu_times()
    # RSS over the timed cycles only: the check cycle's results and the
    # DuckDB check are not part of the workload
    with PeakRss() as rss:
        timed, traced_cycles = _timed_cycles(runner, rng, n_cycles, traced)
    steal = _steal_share(cpu_before, _cpu_times())
    if traced is not None:
        traced.collect()

    wrong = check.mismatches(captured, oracles, {n: sf for n, _, sf in runner.ops})
    wrong.update({n: "failed in the check cycle" for n in check_failures})

    latencies = [x for c in timed for _, x in c.latencies]
    per_op: dict[str, list[float]] = {}
    for name, x in (pair for c in timed for pair in c.latencies):
        per_op.setdefault(name, []).append(x)
    # traced cycles run the same ops again; their failures count too
    runs = timed + traced_cycles
    failed_runs = Counter(name for c in runs for name in c.failed)
    attempted = sum(len(c.latencies) for c in runs)
    failed_ops = set(failed_runs) | set(wrong)
    failed = sum(failed_runs.values()) + sum(len(runs) - failed_runs[n] for n in wrong)
    ops_per_s = _ops_per_s(timed)
    p90 = _percentile(latencies, 0.9)
    report = [
        f"# workload {workload.name}: {len(runner.ops)} ops x {n_cycles} timed cycles, sink {workload.sink},"
        f" local[{CPUS}], seed {args.seed}",
        f"# setup {setup_s:.2f}s (session {session_s:.2f}s, inventory {inventory_s:.2f}s,"
        f" check cycle {check_cycle_s:.2f}s); timed cycles " + ", ".join(f"{c.wall:.2f}s" for c in timed)
        + f"; host CPU steal {steal:.1%}",
        f"# ops/s {ops_per_s:.3f}  p50 {statistics.median(latencies) * 1e3:.0f} ms  p90 "
        + (f"{p90 * 1e3:.0f} ms" if p90 is not None else f"not reported ({len(latencies)} samples, needs 100)"),
        f"# error_rate {failed / attempted:.4f} ({failed}/{attempted});"
        f" failing ops: {', '.join(sorted(failed_ops)) or 'none'}",
    ]
    report += [f"# check {n}: {why}" for n, why in sorted(wrong.items())]
    report.append("# op latency ms (median over timed cycles): " + ", ".join(
        f"{n} {statistics.median(x) * 1e3:.0f}" for n, x in sorted(per_op.items(), key=lambda kv: -statistics.median(kv[1]))))
    result = {"correct": not failed_ops, "attempted": attempted, "failed": failed}
    if traced is None:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": ops_per_s, "unit": "1/s"},
            "latency_p50_ms": {"value": statistics.median(latencies) * 1e3, "unit": "ms"},
            "peak_rss_mb": {"value": rss.peak / 1e6, "unit": "MB"},
        }
    else:
        overhead = 1 - _ops_per_s(traced_cycles) / ops_per_s
        metrics, lines = per_layer(traced, session_s, inventory_s, overhead)
        result["metrics"] = metrics
        report += lines
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        traced.dump(os.path.join(out, f"spans-{workload.name}-seed{args.seed}.json"))
    return spark, result, report


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
