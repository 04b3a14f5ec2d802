"""Per-layer tracing for the benchmark's traced run.

Everything here lives in the benchmark's own files: the tracer wraps the
calls into each layer's public functions (``api``'s uses of the
``plans`` parser and builder, ``sources.readers.cached_table``), tags
every Spark job with the op that launched it (``setJobGroup``), and reads
stage and SQL metrics back from the Spark driver's local REST API once the
traced cycles are over. Spans are kept in memory and written out at the
end of the run.
"""

from __future__ import annotations

import json
import re
import sys
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

#: every per-layer metric with its unit; BENCHMARK.json lists the same.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "inventory.load_s": "s",
    "plans.parse_ms": "ms/op",
    "plans.build_ms": "ms/op",
    "api.construct_ms": "ms/op",
    "catalyst.analysis_ms": "ms/op",
    "catalyst.optimization_ms": "ms/op",
    "catalyst.planning_ms": "ms/op",
    "api.result_ms": "ms/op",
    "api.result_rows": "rows/op",
    "api.eager_jobs": "count/op",
    "exec.jobs": "count/op",
    "exec.uncovered_ms": "ms/op",
    "exec.stages": "count/op",
    "exec.tasks": "count/op",
    "exec.run_ms": "ms/op",
    "exec.cpu_ms": "ms/op",
    "exec.gc_ms": "ms/op",
    "exec.input_mb": "MB/op",
    "exec.shuffle_read_mb": "MB/op",
    "exec.shuffle_write_mb": "MB/op",
    "exec.spill_mb": "MB/op",
    "functions.python_total_ms": "ms/op",
    "functions.python_boot_ms": "ms/op",
    "functions.python_sent_mb": "MB/op",
    "functions.python_received_mb": "MB/op",
    "sources.table_memo_hit_ratio": "ratio",
    "sources.write_ms": "ms/op",
    "sources.written_mb": "MB/op",
    "cache.persisted_rdds_max": "count",
    "cache.storage_mb_max": "MB",
    "trace.overhead_frac": "ratio",
}

#: Spark's python SQL metrics (PythonSQLMetrics), by display name.
_PYTHON_METRICS = {
    "time to run Python workers": "functions.python_total_ms",
    "time to start Python workers": "functions.python_boot_ms",
    "data sent to Python workers": "functions.python_sent_mb",
    "data returned from Python workers": "functions.python_received_mb",
}
_UNIT_SCALE = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,  # to ms
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,  # to MB
    "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6,
}
_METRIC_VALUE = re.compile(r"([\d.,]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")

_MB = 1e6


def _epoch(ts: str | None) -> float | None:
    """REST timestamps read ``2026-01-31T12:00:00.123GMT``."""
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _sql_metric(value: str) -> float:
    """Total of one SQL metric string, in ms or MB. Multi-task metrics
    read ``total (min, med, max ...)\\n1.2 s (...)``; the total comes
    first on the second line."""
    m = _METRIC_VALUE.search(value.split("\n", 1)[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE[m.group(2)]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Spans, counts and job tags for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.memo_calls = 0
        self.memo_hits = 0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
        self._rest = f"http://127.0.0.1:{port}/api/v1/applications/{spark.sparkContext.applicationId}"

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": len(self.ops) - 1 if self.ops else None,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def begin_op(self, name: str) -> dict:
        op = {"id": len(self.ops), "name": name}
        self.ops.append(op)
        return op

    def job_group(self, op: dict, phase: str) -> None:
        """Tag the jobs launched from here on: ``construct`` while the
        entry builds its DataFrame, ``result`` once the sink is called."""
        self.spark.sparkContext.setJobGroup(f"perfbench-{op['id']}-{phase}", op["name"])

    def end_op(self, op: dict, df) -> None:
        """Record what is only visible from the Spark driver right after an op:
        Catalyst phase times and the persisted-frame footprint."""
        if df is not None:
            qe = df._jdf.queryExecution()
            # the parquet sink plans a write command of its own;
            # planning the DataFrame's own QueryExecution times the same
            # optimisation and planning. After toArrow() it is a cache hit.
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                op[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        op["persisted_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        op["storage_mb"] = sum(
            r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self._get("/storage/rdd")
        ) / _MB

    # -- wrapping the layers' public functions ----------------------------
    def install(self) -> None:
        import warpdb_spark.api as api
        import warpdb_spark.sources.readers as readers

        for fn_name, span_name in (
            ("parse_query", "plans.parse"),
            ("parse_expression", "plans.parse"),
            ("build_dataframe", "plans.build"),
        ):
            self._patch(api, fn_name, self._spanned(span_name, getattr(api, fn_name)))
        original = readers.cached_table
        memo = readers._TABLE_CACHE
        tracer = self

        def cached_table(spark, sf_dir, name):
            before = {id(df) for df in memo.values()}
            with tracer.span("sources.cached_table"):
                df = original(spark, sf_dir, name)
            tracer.memo_calls += 1
            tracer.memo_hits += id(df) in before
            return df

        # entries bind the reader at import time in some modules and per
        # call in others; rebinding every alias covers both.
        for module in list(sys.modules.values()):
            if getattr(module, "__name__", "").startswith("warpdb_spark") and (
                getattr(module, "cached_table", None) is original
            ):
                self._patch(module, "cached_table", cached_table)

    def _spanned(self, name: str, fn):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _patch(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, value = self._patched.pop()
            setattr(owner, attr, value)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- REST ------------------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._rest + path, timeout=30) as r:
            return json.loads(r.read())

    def _settled_jobs(self) -> list[dict]:
        """Jobs of the traced ops, once the listener bus has caught up."""
        last = None
        for _ in range(40):
            jobs = [j for j in self._get("/jobs") if str(j.get("jobGroup", "")).startswith("perfbench-")]
            state = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if state == last and state[1] == 0:
                return jobs
            last = state
            time.sleep(0.25)
        return jobs

    def collect(self) -> None:
        """Attach each op's jobs, stages and SQL metrics to its record."""
        jobs = self._settled_jobs()
        stages: dict[int, list[dict]] = {}
        for st in self._get("/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        executions = self._get("/sql?details=true&planDescription=false&length=100000")
        by_op: dict[int, dict[str, list[dict]]] = {}
        op_of_job: dict[int, int] = {}
        for j in jobs:
            _, op_id, phase = j["jobGroup"].split("-")
            by_op.setdefault(int(op_id), {}).setdefault(phase, []).append(j)
            op_of_job[j["jobId"]] = int(op_id)
        result_spans = {s["op"]: s for s in self.spans if s["name"] == "api.result"}
        for op in self.ops:
            groups = by_op.get(op["id"], {})
            op["api.eager_jobs"] = len(groups.get("construct", []))
            op["exec.jobs"] = len(groups.get("result", []))
            for key in ("exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
                        "exec.input_mb", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
                        "exec.spill_mb", *_PYTHON_METRICS.values()):
                op[key] = 0.0
            result_intervals = []
            for phase, phase_jobs in groups.items():
                for j in phase_jobs:
                    for st in (a for sid in j["stageIds"] for a in stages.get(sid, [])):
                        if st["status"] == "SKIPPED":
                            continue
                        op["exec.stages"] += 1
                        op["exec.tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                        op["exec.run_ms"] += st.get("executorRunTime", 0)
                        op["exec.cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
                        op["exec.gc_ms"] += st.get("jvmGcTime", 0)
                        op["exec.input_mb"] += st.get("inputBytes", 0) / _MB
                        op["exec.shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / _MB
                        op["exec.shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / _MB
                        op["exec.spill_mb"] += st.get("diskBytesSpilled", 0) / _MB
                        start, end = _epoch(st.get("submissionTime")), _epoch(st.get("completionTime"))
                        if phase == "result" and start and end:
                            result_intervals.append((start, end))
            span = result_spans.get(op["id"])
            if span is not None:
                lo, hi = span["start"], span["end"]
                op["exec.uncovered_ms"] = ((hi - lo) - _covered(result_intervals, lo, hi)) * 1e3
        for ex in executions:
            job_ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
            owners = {op_of_job[j] for j in job_ids if j in op_of_job}
            if len(owners) != 1:
                continue
            op = self.ops[owners.pop()]
            for node in ex.get("nodes", []):
                for metric in node.get("metrics", []):
                    key = _PYTHON_METRICS.get(metric.get("name"))
                    if key:
                        op[key] += _sql_metric(metric.get("value", ""))

    # -- report ----------------------------------------------------------
    def self_times(self) -> dict[str, tuple[float, int]]:
        """Self time (ms) and span count per span name: each span's
        duration minus the part its child spans cover."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1e3
        out: dict[str, tuple[float, int]] = {}
        for s in self.spans:
            ms, n = out.get(s["name"], (0.0, 0))
            out[s["name"]] = (ms + (s["end"] - s["start"]) * 1e3 - child_ms.get(s["id"], 0.0), n + 1)
        return out

    def span_ms(self, op_id: int, name: str) -> float:
        return sum((s["end"] - s["start"]) * 1e3 for s in self.spans if s["op"] == op_id and s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans}, f)


#: the end-to-end metric each layer metric should move, and where
_FRONT = "latency_p50_ms on dialect; little on pipeline"
_MOVES = {
    "session.start_s": "setup_s, both workloads",
    "inventory.load_s": "setup_s, both workloads",
    "plans.parse_ms": _FRONT,
    "plans.build_ms": _FRONT,
    "api.construct_ms": _FRONT,
    "catalyst.analysis_ms": _FRONT,
    "catalyst.optimization_ms": _FRONT,
    "catalyst.planning_ms": _FRONT,
    "api.result_ms": "latency_p50_ms on dialect",
    "api.result_rows": "latency_p50_ms on dialect",
    "api.eager_jobs": "ops_per_s on pipeline",
    "exec.jobs": "latency_p50_ms on dialect, ops_per_s on pipeline",
    "exec.uncovered_ms": "latency_p50_ms on dialect, ops_per_s on pipeline",
    "functions.python_total_ms": "ops_per_s on pipeline",
    "functions.python_boot_ms": "ops_per_s on pipeline",
    "functions.python_sent_mb": "ops_per_s on pipeline",
    "functions.python_received_mb": "ops_per_s on pipeline",
    "sources.table_memo_hit_ratio": "latency_p50_ms on dialect",
    "sources.write_ms": "ops_per_s on pipeline",
    "sources.written_mb": "ops_per_s on pipeline",
    "cache.persisted_rdds_max": "peak_rss_mb on pipeline",
    "cache.storage_mb_max": "peak_rss_mb on pipeline",
    "trace.overhead_frac": "none: traced against untraced ops_per_s",
}


def per_layer(tracer: Tracer, session_s: float, inventory_s: float, overhead: float):
    """The per-layer metrics of a traced run, and the report lines: each
    metric with its base and the end-to-end metric it should move, a
    reason where it does not apply, and each layer's self time."""
    ops = tracer.ops
    n = len(ops)
    spans = {"plans.parse_ms": "plans.parse", "plans.build_ms": "plans.build",
             "api.construct_ms": "api.construct", "api.result_ms": "api.result"}
    values: dict[str, float] = {"session.start_s": session_s, "inventory.load_s": inventory_s}
    why_not: dict[str, str] = {}
    for key, span in spans.items():
        values[key] = sum(tracer.span_ms(op["id"], span) for op in ops) / n
    if not any(s["name"] == "plans.parse" for s in tracer.spans):
        for key in ("plans.parse_ms", "plans.build_ms"):
            why_not[key] = "no op goes through WarpDB.query or query_sql"
    for key in PER_LAYER_UNITS:
        if key.split(".")[0] in ("catalyst", "exec", "functions") or key == "api.eager_jobs":
            values[key] = sum(op.get(key, 0.0) for op in ops) / n
    if not any(values[k] for k in _PYTHON_METRICS.values()):
        for key in _PYTHON_METRICS.values():
            why_not[key] = "no Python UDF node runs in this workload"
    values["api.result_rows"] = sum(op.get("api.result_rows") or 0 for op in ops) / n
    for key in ("sources.write_ms", "sources.written_mb"):
        values[key] = sum(op.get(key, 0.0) for op in ops) / n
        if not any(key in op for op in ops):
            why_not[key] = "this workload does not write"
    values["sources.table_memo_hit_ratio"] = tracer.memo_hits / tracer.memo_calls if tracer.memo_calls else 0.0
    if not tracer.memo_calls:
        why_not["sources.table_memo_hit_ratio"] = "no op reads through cached_table"
    values["cache.persisted_rdds_max"] = max(op["persisted_rdds"] for op in ops)
    values["cache.storage_mb_max"] = max(op["storage_mb"] for op in ops)
    if not values["cache.persisted_rdds_max"]:
        for key in ("cache.persisted_rdds_max", "cache.storage_mb_max"):
            why_not[key] = "no op of this workload leaves a persisted frame behind"
    if not values["api.eager_jobs"]:
        why_not["api.eager_jobs"] = "no op of this workload runs a job while building its DataFrame"
    values["trace.overhead_frac"] = overhead

    lines = [f"# per-layer metrics over {n} traced ops ('/op' values are means over them;"
             f" memo ratio base {tracer.memo_calls} cached_table calls)"]
    for key, unit in PER_LAYER_UNITS.items():
        note = f"n/a: {why_not[key]}" if key in why_not else f"moves {_MOVES.get(key, 'ops_per_s on both workloads')}"
        lines.append(f"#   {key:30s} {values[key]:12.3f} {unit:9s} {note}")
    lines.append("# self time per span (ms total, spans)")
    for name, (ms, count) in sorted(tracer.self_times().items(), key=lambda kv: -kv[1][0]):
        lines.append(f"#   {name:30s} {ms:12.1f} ms {count:6d}")
    metrics = {key: {"value": float(values[key]), "unit": unit} for key, unit in PER_LAYER_UNITS.items()}
    return metrics, lines
