"""Per-layer instruments for a traced run.

Everything here observes the program from outside:

* Spark's event log (jobs, stages, task metrics, the SQL plans' Python-node
  metrics), parsed after the run by :func:`parse_event_log`;
* a ``StreamingQueryListener`` collecting micro-batch progress;
* a ``QueryExecutionListener`` reading each query's Catalyst phase tracker;
* :class:`LayerProbe`, which wraps the public functions of the adapter,
  gate and sink modules and records the wall-clock windows of their calls.

Jobs are attributed to the running operation by job group first, and by
time window for jobs from foreign groups (the per-stream groups of
Structured Streaming micro-batches), see :func:`attribute_jobs`.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import threading
import time
from dataclasses import dataclass, field

MB = 1024 * 1024

# Physical operators that run Python code (UDFs, pandas/Arrow lanes, UDTFs).
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow|ArrowEval")
STREAM_QUERY_KEY = "sql.streaming.queryId"
JOB_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Job:
    job_id: int
    group: str | None
    streaming: bool
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageAgg:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    python_rows: float = 0.0
    to_python_bytes: float = 0.0
    from_python_bytes: float = 0.0
    python_ms: float = 0.0
    completed: bool = False


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, StageAgg]


def _walk_plan(info: dict, out: dict[int, str]) -> None:
    """Map accumulator id -> metric kind for every metric of a Python node."""
    if PYTHON_NODE.search(info.get("nodeName", "")):
        for m in info.get("metrics", []):
            name = m.get("name", "")
            kind = None
            if name == "number of output rows":
                kind = "rows"
            elif name == "data sent to Python workers":
                kind = "to"
            elif name == "data returned from Python workers":
                kind = "from"
            elif name == "time to run Python workers":
                kind = "ms"
            if kind:
                out[int(m["accumulatorId"])] = kind
    for child in info.get("children", []):
        _walk_plan(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(lines) -> EventLog:
    """Parse an uncompressed, non-rolling Spark event log (an iterable of
    JSON lines). Task metrics are summed per stage; a stage counts once,
    when it completes, so skipped stages are not counted."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageAgg] = {}
    py_accums: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                group=props.get(JOB_GROUP_KEY),
                streaming=STREAM_QUERY_KEY in props,
                submit_ms=int(ev["Submission Time"]),
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = int(ev["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages.setdefault(info["Stage ID"], StageAgg()).completed = True
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], StageAgg())
            st.tasks += 1
            tinfo = ev.get("Task Info", {})
            if tinfo.get("Failed") or tinfo.get("Killed"):
                st.failed_tasks += 1
            tm = ev.get("Task Metrics") or {}
            st.run_ms += _num(tm.get("Executor Run Time"))
            st.gc_ms += _num(tm.get("JVM GC Time"))
            st.input_bytes += _num((tm.get("Input Metrics") or {}).get("Bytes Read"))
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += _num(sw.get("Shuffle Bytes Written"))
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read")
            )
            st.spill_bytes += _num(tm.get("Memory Bytes Spilled")) + _num(
                tm.get("Disk Bytes Spilled")
            )
            for acc in tinfo.get("Accumulables", []):
                what = py_accums.get(int(acc.get("ID", -1)))
                if what == "rows":
                    st.python_rows += _num(acc.get("Update"))
                elif what == "to":
                    st.to_python_bytes += _num(acc.get("Update"))
                elif what == "from":
                    st.from_python_bytes += _num(acc.get("Update"))
                elif what == "ms":
                    st.python_ms += _num(acc.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plan = ev.get("sparkPlanInfo")
            if plan:
                _walk_plan(plan, py_accums)
    return EventLog(jobs=sorted(jobs.values(), key=lambda j: j.job_id), stages=stages)


def attribute_jobs(
    jobs: list[Job], windows: dict[str, tuple[float, float]]
) -> dict[str, list[Job]]:
    """Assign each job to one operation.

    ``windows`` maps an operation's job group to its wall-clock window
    (epoch seconds). A job tagged with an operation's group belongs to it.
    A job from any other group, or none (a streaming micro-batch runs under
    its query's own group), belongs to the operation whose window holds the
    job's submission time. Operations run one after another, so windows do
    not overlap. Jobs outside every window are dropped."""
    out: dict[str, list[Job]] = {g: [] for g in windows}
    for job in jobs:
        if job.group in windows:
            out[job.group].append(job)
            continue
        t = job.submit_ms / 1000.0
        for g, (t0, t1) in windows.items():
            if t0 <= t <= t1:
                out[g].append(job)
                break
    return out


def in_windows(t_s: float, spans: list[tuple[float, float]]) -> bool:
    return any(a <= t_s <= b for a, b in spans)


def covered_seconds(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def exec_metrics(jobs: list[Job], log: EventLog, t0: float, t1: float, cores: int) -> dict:
    """The ``exec.*`` and ``udf.*`` numbers of one operation's jobs."""
    spans = [(j.submit_ms / 1000.0, (j.end_ms or j.submit_ms) / 1000.0) for j in jobs]
    stage_ids = sorted({s for j in jobs for s in j.stage_ids})
    st = [log.stages[s] for s in stage_ids if s in log.stages and log.stages[s].completed]
    wall = max(t1 - t0, 1e-9)
    busy = covered_seconds(spans, t0, t1)
    task_s = sum(s.run_ms for s in st) / 1000.0
    return {
        "exec.s": busy,
        "exec.jobs": len(jobs),
        "exec.stages": len(st),
        "exec.tasks": sum(s.tasks for s in st),
        "exec.no_job_s": wall - busy,
        "exec.task_s": task_s,
        "exec.core_util": task_s / (wall * cores),
        "exec.gc_s": sum(s.gc_ms for s in st) / 1000.0,
        "exec.input_mb": sum(s.input_bytes for s in st) / MB,
        "exec.shuffle_write_mb": sum(s.shuffle_write_bytes for s in st) / MB,
        "exec.shuffle_read_mb": sum(s.shuffle_read_bytes for s in st) / MB,
        "exec.spill_mb": sum(s.spill_bytes for s in st) / MB,
        "exec.failed_tasks": sum(s.failed_tasks for s in st),
        "udf.python_rows": sum(s.python_rows for s in st),
        "udf.to_python_mb": sum(s.to_python_bytes for s in st) / MB,
        "udf.from_python_mb": sum(s.from_python_bytes for s in st) / MB,
        "udf.python_s": sum(s.python_ms for s in st) / 1000.0,
        "streaming.jobs": sum(1 for j in jobs if j.streaming),
    }


def jobs_in(jobs: list[Job], spans: list[tuple[float, float]]) -> int:
    return sum(1 for j in jobs if in_windows(j.submit_ms / 1000.0, spans))


# ---------------------------------------------------------------------------
# Live instruments (need a SparkSession)
# ---------------------------------------------------------------------------


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress report as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def streaming_metrics(progress: list[dict], t0: float, t1: float) -> dict:
    """Sum the micro-batch progress reports whose batch started in [t0, t1]."""
    from datetime import datetime

    out = {
        "streaming.batches": 0,
        "streaming.input_rows": 0,
        "streaming.add_batch_ms": 0.0,
        "streaming.query_planning_ms": 0.0,
        "streaming.wal_commit_ms": 0.0,
        "streaming.commit_offsets_ms": 0.0,
        "streaming.latest_offset_ms": 0.0,
        "streaming.trigger_ms": 0.0,
        "streaming.state_rows": 0,
        "streaming.state_mem_mb": 0.0,
    }
    phases = {
        "addBatch": "streaming.add_batch_ms",
        "queryPlanning": "streaming.query_planning_ms",
        "walCommit": "streaming.wal_commit_ms",
        "commitOffsets": "streaming.commit_offsets_ms",
        "latestOffset": "streaming.latest_offset_ms",
        "triggerExecution": "streaming.trigger_ms",
    }
    for p in progress:
        ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        if not (t0 - 0.001 <= ts <= t1):
            continue
        out["streaming.batches"] += 1
        out["streaming.input_rows"] += int(p.get("numInputRows") or 0)
        for k, v in (p.get("durationMs") or {}).items():
            if k in phases:
                out[phases[k]] += float(v)
        for op in p.get("stateOperators") or []:
            out["streaming.state_rows"] += int(op.get("numRowsTotal") or 0)
            out["streaming.state_mem_mb"] += float(op.get("memoryUsedBytes") or 0) / MB
    return out


def register_phase_listener(spark):
    """Register a QueryExecutionListener through py4j; it records the
    Catalyst phase summaries (analysis, optimization, planning) of every
    finished query. Returns the list it appends
    ``(start_s, {phase: ms})`` tuples to."""
    records: list[tuple[float, dict]] = []

    class PhaseListener:
        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        def onSuccess(self, func_name, qe, duration_ns):
            self._record(qe)

        def onFailure(self, func_name, qe, exception):
            self._record(qe)

        def _record(self, qe):
            try:
                phases = qe.tracker().phases()
                got, start = {}, None
                for name in ("analysis", "optimization", "planning"):
                    opt = phases.get(name)
                    if opt.isDefined():
                        summary = opt.get()
                        got[name] = float(summary.durationMs())
                        s = summary.startTimeMs() / 1000.0
                        start = s if start is None else min(start, s)
                if got:
                    records.append((start or time.time(), got))
            except Exception as e:  # noqa: BLE001 — never break the query
                print(f"perfbench: phase listener: {e}", file=sys.stderr)

    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PhaseListener()
    spark._jsparkSession.listenerManager().register(listener)
    return records, listener


def catalyst_metrics(records: list[tuple[float, dict]], t0: float, t1: float) -> dict:
    out = {"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0, "catalyst.planning_ms": 0.0}
    for start, got in records:
        if t0 - 0.001 <= start <= t1:
            for k, v in got.items():
                out[f"catalyst.{k}_ms"] += v
    return out


def drain_listener_bus(spark, timeout_ms: int = 30_000) -> None:
    """Block until Spark has delivered every queued listener event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


class LayerProbe:
    """Wraps public functions of program modules and records, per layer,
    the wall-clock spans of the outermost calls plus simple counters.

    Patching replaces the function on every loaded module of the package
    that holds it, so names imported at module load (``from x import f``)
    and at call time both see the wrapper. :meth:`remove` restores all."""

    def __init__(self):
        self.spans: dict[str, list[tuple[float, float]]] = {}
        self.counts: dict[str, int] = {}
        self._depth: dict[str, int] = {}
        self._patched: list[tuple[object, str, object]] = []

    def count(self, key: str, n: int = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    def _enter(self, layer: str) -> bool:
        d = self._depth.get(layer, 0)
        self._depth[layer] = d + 1
        return d == 0

    def _exit(self, layer: str, outer: bool, t0: float) -> None:
        self._depth[layer] -= 1
        if outer:
            self.spans.setdefault(layer, []).append((t0, time.time()))

    def _wrap(self, layer: str, fn, on_result=None):
        probe = self
        if inspect.isgeneratorfunction(fn):

            @functools.wraps(fn)
            def gen_wrapper(*a, **kw):
                it = fn(*a, **kw)
                while True:
                    t0 = time.time()
                    outer = probe._enter(layer)
                    try:
                        item = next(it)
                    except StopIteration:
                        return
                    finally:
                        probe._exit(layer, outer, t0)
                    if on_result is not None:
                        on_result(item)
                    yield item

            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.time()
            outer = probe._enter(layer)
            try:
                result = fn(*a, **kw)
            finally:
                probe._exit(layer, outer, t0)
            if on_result is not None:
                on_result(result)
            return result

        return wrapper

    def patch(self, module, name: str, layer: str, on_result=None) -> None:
        original = getattr(module, name)
        wrapped = self._wrap(layer, original, on_result)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not mname.startswith("nba_data_pipeline_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapped)
                    self._patched.append((mod, attr, original))

    def count_calls(self, module, name: str, key: str) -> None:
        """Count calls of ``module.name`` under ``key``, on that module only."""
        original = getattr(module, name)

        @functools.wraps(original)
        def counting(*a, **kw):
            self.count(key)
            return original(*a, **kw)

        setattr(module, name, counting)
        self._patched.append((module, name, original))

    def remove(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()
