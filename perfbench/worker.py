"""One benchmark run in a fresh Python process; ``run.py`` starts it.

Phases, in order:

1. set-up: imports, ``get_spark`` at the host's core count, a JVM and
   Python-worker warm-up, ``load_all``, then one untimed warm-up pass over
   the workload's operations. ``setup_s`` runs from process start to the
   end of the warm-up, less the time spent in output checks.
2. untimed checks: catalog entries against the DuckDB oracle (rows-only
   where an entry has no oracle SQL), between the warm-up pass and the
   timed region; CLI trees right after each command, outside its timed
   bracket.
3. timed region: a closed loop over seeded cycles of the operations until
   ``--seconds`` have gone by. Each operation has a watchdog. Before each
   operation, untimed, the fixed reference job runs once (see
   ``ReferenceJob``); the end-to-end latencies are scaled by its speed.
4. with ``--trace 1``: the timed region alternates untraced and traced
   passes; the traced passes feed the per-layer metrics.

Writes one JSON document to ``--result``.
"""

from __future__ import annotations

import _thread
import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

T_PROCESS = time.time()

# Seconds the main thread has spent in time.sleep: the program's fixed
# waits (the adapters' settle and poll loops) take the same wall time on any
# host, so ReferenceJob's scaling leaves them out. Installed before any
# program module is imported, so defaults like ``sleep=time.sleep`` bind it.
SLEPT_S = [0.0]
_sleep = time.sleep


def _counted_sleep(seconds: float) -> None:
    t = time.perf_counter()
    try:
        _sleep(seconds)
    finally:
        if threading.current_thread() is threading.main_thread():
            SLEPT_S[0] += time.perf_counter() - t


time.sleep = _counted_sleep

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402
import procs  # noqa: E402
import tracing  # noqa: E402
import workloads as wl  # noqa: E402
from stats import quartiles, tail_percentile  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


class Watchdog:
    """Bounds one operation's wall time. On expiry it cancels every Spark
    job, stops every active stream and interrupts the main thread, so the
    operation fails instead of stalling the run."""

    def __init__(self, spark, seconds: float):
        self.spark = spark
        self.seconds = seconds
        self.fired = False
        self._lock = threading.Lock()
        self._armed = False
        self._timer: threading.Timer | None = None

    def _fire(self) -> None:
        with self._lock:
            if not self._armed:
                return
            self.fired = True
        log(f"watchdog: operation exceeded {self.seconds:.0f}s, cancelling")
        try:
            self.spark.sparkContext.cancelAllJobs()
            for q in self.spark.streams.active:
                q.stop()
        except Exception as e:  # noqa: BLE001
            log(f"watchdog: cancel failed: {e}")
        _thread.interrupt_main()

    def __enter__(self):
        self.fired = False
        self._armed = True
        self._timer = threading.Timer(self.seconds, self._fire)
        self._timer.daemon = True
        self._timer.start()
        return self

    def __exit__(self, *exc):
        with self._lock:
            self._armed = False
        self._timer.cancel()
        return False


class ReferenceJob:
    """A fixed Spark job that tracks the host's speed, not the program's.

    On a shared host the speed of the same code drifts by a quarter or more
    from minute to minute, and every operation of a run moves with it. This
    job runs in the same JVM, through the same scheduler and cores, but on a
    child session whose SQL settings are pinned here, so no change to the
    program's plans or session defaults reaches it. Timings divided by its
    median in the same run keep the program's share and drop the host's.
    """

    # The job's median on an idle 4-core host (Xeon, KVM guest); scaled
    # figures read as seconds on such a host.
    IDLE_S = 0.065

    def __init__(self, spark, cpus: int):
        self.session = spark.newSession()
        self.session.conf.set("spark.sql.adaptive.enabled", "false")
        self.session.conf.set("spark.sql.shuffle.partitions", str(cpus))
        self.cpus = cpus
        self.samples: list[float] = []

    def run(self) -> None:
        t = time.perf_counter()
        self.session.range(0, 3_000_000, 1, self.cpus).selectExpr("sum(hash(id))").collect()
        self.samples.append(time.perf_counter() - t)

    def scale(self) -> float:
        """Factor that turns this run's wall times into idle-host seconds."""
        return self.IDLE_S / statistics.median(self.samples)


class Runner:
    def __init__(self, spark, cpus: int, sf_dir: str, work: str, op_timeout: float):
        self.spark = spark
        self.cpus = cpus
        self.sf_dir = sf_dir
        self.work = work
        self.watchdog = Watchdog(spark, op_timeout)
        self.probe: tracing.LayerProbe | None = None
        self.reference: ReferenceJob | None = None
        self.tracing = False
        self.seq = 0
        self.digests: dict[str, str] = {}
        self.check_s = 0.0  # time spent in output checks, kept out of setup_s

    # -- one operation ------------------------------------------------------

    def run_op(self, op) -> dict:
        """Run one operation; returns its record. Only the bracket around the
        program call is timed; cache clearing and tree checks are not."""
        self.seq += 1
        rec = {"op": op.name, "seq": self.seq, "ok": True, "error": None}
        group = f"perfbench-{self.seq}"
        sc = self.spark.sparkContext
        if self.tracing:
            sc.setJobGroup(group, op.name)
            self.probe.reset()
            rec["group"] = group
        # Same path for every execution of a command (documents may embed
        # it), emptied after each check, so each run starts from no tree.
        out_dir = os.path.join(self.work, "out", op.name)
        if self.reference is not None:
            self.reference.run()
        cpu0 = tree_cpu_s()
        slept0 = SLEPT_S[0]
        t0 = time.time()
        try:
            with self.watchdog:
                t0 = time.time()
                if isinstance(op, wl.CliOp):
                    from nba_data_pipeline_spark import cli

                    with contextlib.redirect_stdout(sys.stderr):
                        rc = cli.main(op.full_argv(out_dir, self.cpus))
                    t_build = None
                    if rc != 0:
                        rec["ok"], rec["error"] = False, f"rc={rc}"
                else:
                    df = op.fn(self.spark, self.sf_dir)
                    t_build = time.time()
                    df.write.format("noop").mode("overwrite").save()
                t1 = time.time()
        except BaseException as e:  # noqa: BLE001 — KeyboardInterrupt from the watchdog too
            t1 = time.time()
            t_build = None
            rec["ok"] = False
            rec["error"] = "timeout" if self.watchdog.fired else f"{type(e).__name__}: {e}"[:300]
            if not self.watchdog.fired and isinstance(e, KeyboardInterrupt):
                raise
        finally:
            if self.tracing:
                sc._jsc.clearJobGroup()
        rec["cpu_s"] = tree_cpu_s() - cpu0
        rec["wait_s"] = SLEPT_S[0] - slept0
        rec["t0"], rec["t1"], rec["latency_s"] = t0, t1, t1 - t0
        if t_build is not None:
            rec["build_s"] = t_build - t0
        if self.tracing and self.probe is not None:
            rec["spans"] = {k: list(v) for k, v in self.probe.spans.items()}
            rec["counts"] = dict(self.probe.counts)
        self.spark.catalog.clearCache()
        if isinstance(op, wl.CliOp):
            t = time.time()
            self._check_tree(op, out_dir, rec)
            self.check_s += time.time() - t
        if not rec["ok"]:
            log(f"{op.name}: FAILED {rec['error']}")
        return rec

    def _check_tree(self, op, out_dir: str, rec: dict) -> None:
        if os.path.isdir(out_dir):
            rels, size, digest, problems = wl.tree_report(out_dir)
            shutil.rmtree(out_dir, ignore_errors=True)
        else:
            rels, size, digest, problems = set(), 0, "", ["no output tree"]
        rec["files"], rec["bytes"] = len(rels), size
        if rec["ok"]:
            problems += op.expect(rels)
            first = self.digests.setdefault(op.name, digest)
            if digest != first:
                problems.append("tree digest differs from the first pass")
            if problems:
                rec["ok"], rec["error"] = False, "; ".join(problems)[:300]

    # -- passes -------------------------------------------------------------

    def run_pass(self, ops, rng: random.Random) -> list[dict]:
        order = list(ops)
        rng.shuffle(order)
        return [self.run_op(op) for op in order]


# ---------------------------------------------------------------------------
# Catalog operations and their oracle checks
# ---------------------------------------------------------------------------


def catalog_ops(workload: wl.Workload) -> list:
    """The workload's ``QuerySpec`` entries (name, fn, oracle SQL)."""
    from nba_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    return [specs[n] for n in workload.entries]


def check_catalog(runner: Runner, ops: list) -> dict[str, str]:
    """Oracle-compare every entry once, outside the timed region.
    Returns {entry: problem} for the entries that fail."""
    import check

    con = check.duck_connect(runner.sf_dir)
    bad: dict[str, str] = {}
    for op in ops:
        t = time.time()
        try:
            with runner.watchdog:
                sdf = op.fn(runner.spark, runner.sf_dir)
                if op.oracle:
                    problems = check.compare(op.name, sdf, con.sql(op.oracle))
                else:
                    problems = [] if sdf.count() >= 0 else ["negative count"]
        except BaseException as e:  # noqa: BLE001
            problems = ["timeout" if runner.watchdog.fired else f"{type(e).__name__}: {e}"[:300]]
            if not runner.watchdog.fired and isinstance(e, KeyboardInterrupt):
                raise
        runner.spark.catalog.clearCache()
        log(f"check {op.name}: {time.time() - t:.2f}s")
        if problems:
            bad[op.name] = "; ".join(problems)[:300]
            log(f"check {op.name}: FAIL {bad[op.name]}")
    con.close()
    return bad


def summarize(records: list[dict], scale: float = 1.0) -> dict:
    """End-to-end latency metrics. Each operation is summarized by the
    median of its own successful samples first, so an operation that ran
    once more than the others before time ran out, or one slow sample, does
    not tilt the figures. Wall time outside sleeps is multiplied by
    ``scale`` (see ``ReferenceJob``); the detail keeps it as measured."""
    by_op: dict[str, list[dict]] = {}
    for r in records:
        if r["ok"]:
            by_op.setdefault(r["op"], []).append(r)
    if not by_op:
        return {"end_to_end": {"op_p50_s": 0.0, "ops_per_min": 0.0},
                "detail": {}}
    def latencies(scale: float) -> dict:
        med = {
            op: statistics.median(r["wait_s"] + (r["latency_s"] - r["wait_s"]) * scale for r in rs)
            for op, rs in by_op.items()
        }
        return {
            "op_p50_s": statistics.median(med.values()),
            # One pass over the operation mix at each operation's median.
            "ops_per_min": 60.0 * len(med) / sum(med.values()),
        }

    cpu = [statistics.median(r["cpu_s"] for r in rs) for rs in by_op.values()]
    all_lat = [r["latency_s"] for rs in by_op.values() for r in rs]
    q1, _, q3 = quartiles(all_lat)
    return {
        "end_to_end": latencies(scale),
        "detail": {
            "as_measured": latencies(1.0),
            "cpu_s_per_op": statistics.fmean(cpu),
            "host_scale": scale,
            "op_q1_s": q1,
            "op_q3_s": q3,
            "op_p90_s": tail_percentile(all_lat, 90),
            "samples_per_op": {op: len(rs) for op, rs in by_op.items()},
            "median_s_per_op": {op: statistics.median(r["latency_s"] for r in rs) for op, rs in by_op.items()},
        },
    }


# ---------------------------------------------------------------------------
# Host facts and memory
# ---------------------------------------------------------------------------


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine (the
    ``steal`` column of /proc/stat) between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by every process of this run."""
    return procs.cpu_seconds(procs.run_pids(procs.marker(os.environ.get(procs.MARKER_VAR, ""))))


def reset_peak_rss(pid: int) -> None:
    """Restart the kernel's peak-RSS counter (VmHWM) of ``pid``, so a
    later read covers only what follows."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def host_facts(spark, cpus: int, sf_dir: str) -> dict:
    import platform

    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    tmp = os.environ.get("TMPDIR") or "/tmp"
    free = shutil.disk_usage(tmp).free
    jvm = spark._jvm.java.lang.System
    return {
        "nproc": cpus,
        "mem_total_gb": round(mem_kb / 1024 / 1024, 2),
        "free_disk_gb_at_tmpdir": round(free / 1e9, 2),
        "spark.driver.memory": spark.conf.get("spark.driver.memory", "1g"),
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "java_version": jvm.getProperty("java.version"),
        "python_version": platform.python_version(),
        "sf_dir": os.path.relpath(sf_dir, ROOT),
    }


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


def install_probe() -> tracing.LayerProbe:
    from nba_data_pipeline_spark import io, sinks_ref
    from nba_data_pipeline_spark.adapters import browser_ingest as bi
    from nba_data_pipeline_spark.operators import dvp, gates

    probe = tracing.LayerProbe()
    for name in ("walk_tabs", "wait_for_table_ready", "wait_for_download", "login", "clear_dir"):
        probe.patch(bi, name, "adapters")
    probe.patch(bi, "land_pages", "adapters", on_result=lambda paths: probe.count("pages", len(paths)))
    # A readiness poll is one parse of the rendered page inside the settle loop.
    probe.count_calls(bi, "parse_html_tables", "page_polls")
    for name in ("check_group_completeness", "check_cell_presence", "gated_write_parquet"):
        probe.patch(gates, name, "gates")
    probe.patch(dvp, "validate_dvp_rows", "gates")
    for name in dir(sinks_ref):
        if name.startswith("write_") and callable(getattr(sinks_ref, name)):
            probe.patch(sinks_ref, name, "sinks_ref")
    for name in ("write_partitioned_json", "write_partitioned_parquet"):
        probe.patch(io, name, "sinks_ref")
    return probe


PER_LAYER = (
    "plans.build_s", "plans.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.no_job_s", "exec.task_s",
    "exec.gc_s", "exec.input_mb", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mb", "exec.failed_tasks",
    "udf.python_rows", "udf.to_python_mb", "udf.from_python_mb", "udf.python_s",
    "streaming.batches", "streaming.input_rows", "streaming.jobs", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.latest_offset_ms", "streaming.trigger_ms", "streaming.state_rows",
    "streaming.state_mem_mb",
    "adapters.walk_s", "adapters.pages", "adapters.page_polls",
    "gates.s", "gates.jobs", "sinks_ref.s", "sinks_ref.jobs", "sinks_ref.files", "sinks_ref.mb",
    "cli.other_s",
)


def op_layers(rec: dict, jobs: list, log_: tracing.EventLog, progress, phases, cpus: int) -> dict:
    """Every per-layer metric of one traced operation."""
    t0, t1 = rec["t0"], rec["t1"]
    m = dict.fromkeys(PER_LAYER, 0)
    m.update(tracing.exec_metrics(jobs, log_, t0, t1, cpus))
    m.update(tracing.streaming_metrics(progress, t0, t1))
    m.update(tracing.catalyst_metrics(phases, t0, t1))
    spans = rec.get("spans", {})
    counts = rec.get("counts", {})
    if "build_s" in rec:
        m["plans.build_s"] = rec["build_s"]
        m["plans.build_jobs"] = tracing.jobs_in(jobs, [(t0, t0 + rec["build_s"])])
    for layer in ("adapters", "gates", "sinks_ref"):
        s = spans.get(layer, [])
        key = "adapters.walk_s" if layer == "adapters" else f"{layer}.s"
        m[key] = tracing.covered_seconds(s, t0, t1)
        if layer != "adapters":
            m[f"{layer}.jobs"] = tracing.jobs_in(jobs, s)
    m["adapters.pages"] = counts.get("pages", 0)
    m["adapters.page_polls"] = counts.get("page_polls", 0)
    if "files" in rec:
        m["sinks_ref.files"] = rec["files"]
        m["sinks_ref.mb"] = rec["bytes"] / tracing.MB
        all_spans = [x for layer in ("adapters", "gates", "sinks_ref") for x in spans.get(layer, [])]
        m["cli.other_s"] = (t1 - t0) - tracing.covered_seconds(all_spans, t0, t1)
    return m


def pass_layers(ops_metrics: list[dict], wall: float, cpus: int) -> dict:
    """Sum a traced pass's per-operation metrics; derive the ratios."""
    tot = {k: sum(m[k] for m in ops_metrics) for k in PER_LAYER}
    tot["plans.build_share"] = tot["plans.build_s"] / wall if wall else 0.0
    tot["exec.core_util"] = tot["exec.task_s"] / (wall * cpus) if wall else 0.0
    polls = tot["adapters.page_polls"]
    tot["adapters.pages_per_poll"] = tot["adapters.pages"] / polls if polls else 0.0
    return tot


# ---------------------------------------------------------------------------


def _identity(s: pd.Series) -> pd.Series:
    return s


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t-spawn", type=float, default=T_PROCESS)
    ap.add_argument("--op-timeout", type=float, default=60.0)
    args = ap.parse_args()
    workload = wl.WORKLOADS[args.workload]
    work = os.path.abspath(args.work_dir)
    sf_dir = os.path.abspath(args.data_dir)
    cpus = len(os.sched_getaffinity(0))
    t_spawn = args.t_spawn

    # -- set-up ---------------------------------------------------------------
    t = time.time()
    from nba_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    eventlog_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"perfbench-{workload.name}", cpus=cpus, extra_conf=conf)
    session_start_s = time.time() - t

    t = time.time()
    from pyspark.sql import functions as F

    _warm = F.pandas_udf(_identity, "long")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    spark.range(cpus * 4).repartition(cpus).select(_warm("id")).write.format("noop").mode("overwrite").save()
    session_warm_s = time.time() - t

    t = time.time()
    from nba_data_pipeline_spark.plans.registry import load_all

    load_all()
    load_all_s = time.time() - t

    if workload.kind == "catalog":
        ops = catalog_ops(workload)
    else:
        ops = wl.cli_ops(sf_dir, args.seed)
    runner = Runner(spark, cpus, sf_dir, work, args.op_timeout)
    rng = random.Random(args.seed)
    log(f"{workload.name}: {len(ops)} operations: {' '.join(o.name for o in ops)}")
    warm = runner.run_pass(ops, rng)
    warm_s = sum(r["latency_s"] for r in warm)
    # The catalog's oracle checks run here, before the timed region, so they
    # also warm the entries a second time (the JIT is still compiling after
    # one pass); their time is taken out of setup_s.
    bad_entries: dict[str, str] = {}
    if workload.kind == "catalog":
        t = time.time()
        bad_entries = check_catalog(runner, ops)
        runner.check_s += time.time() - t
    setup_s = time.time() - t_spawn - runner.check_s
    log(f"set-up {setup_s:.1f}s (session {session_start_s:.1f}s, warm {session_warm_s:.1f}s, "
        f"warm-up {warm_s:.1f}s; checks {runner.check_s:.1f}s excluded)")

    # -- timed region -----------------------------------------------------------
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    records: list[dict] = []
    traced_passes: list[list[dict]] = []
    untraced_passes: list[list[dict]] = []
    if args.trace:
        progress_log = tracing.make_stream_listener()
        phase_records, phase_listener = tracing.register_phase_listener(spark)

        def traced_pass() -> list[dict]:
            runner.probe = install_probe()
            spark.streams.addListener(progress_log)
            runner.tracing = True
            try:
                return runner.run_pass(ops, rng)
            finally:
                runner.tracing = False
                spark.streams.removeListener(progress_log)
                runner.probe.remove()

    if not args.trace:
        # The reference job's first runs compile its code; they are dropped.
        runner.reference = ReferenceJob(spark, cpus)
        for _ in range(10):
            runner.reference.run()
        runner.reference.samples.clear()

    # Peak RSS covers the timed region only: set-up and checks (whose
    # toPandas and DuckDB results live in this process) are left out.
    for pid in (os.getpid(), jvm_pid):
        reset_peak_rss(pid)
    t_timed = time.time()
    cpu_before = cpu_times()
    if args.trace:
        # Untraced and traced passes alternate, starting and ending untraced,
        # so each traced pass is compared with the mean of its neighbours.
        untraced_passes.append(runner.run_pass(ops, rng))
        while True:
            traced_passes.append(traced_pass())
            untraced_passes.append(runner.run_pass(ops, rng))
            if time.time() - t_timed >= args.seconds:
                break
        for p in untraced_passes + traced_passes:
            records += p
    else:
        # Closed loop over seeded cycles of the operations until --seconds
        # have gone by and every operation has run at least once.
        cycle: list = []
        while len(records) < len(ops) or time.time() - t_timed < args.seconds:
            if not cycle:
                cycle = list(ops)
                rng.shuffle(cycle)
            records.append(runner.run_op(cycle.pop()))
    jvm_rss = peak_rss_mb(jvm_pid)
    py_rss = peak_rss_mb(os.getpid())
    steal = steal_share(cpu_before, cpu_times())
    if args.trace:
        tracing.drain_listener_bus(spark)
        spark._jsparkSession.listenerManager().unregister(phase_listener)
    for r in records:
        if r["ok"] and r["op"] in bad_entries:
            r["ok"], r["error"] = False, f"output check: {bad_entries[r['op']]}"

    summary = summarize(records, runner.reference.scale() if runner.reference else 1.0)
    result = {
        "workload": workload.name,
        "seed": args.seed,
        "attempted": len(records),
        "failed": sum(1 for r in records if not r["ok"]),
        "end_to_end": {"setup_s": setup_s, **summary["end_to_end"], "py_peak_rss_mb": py_rss},
        "detail": {
            **summary["detail"],
            "fail_ratio": (sum(1 for r in records if not r["ok"]) / len(records)) if records else 1.0,
            "cpu_steal_share": steal,
            "reference_job_s": runner.reference.samples if runner.reference else None,
            "jvm_peak_rss_mb": jvm_rss,
            "operations": [o.name for o in ops],
            "check_failures": bad_entries,
            "errors": sorted({f"{r['op']}: {r['error']}" for r in records if not r["ok"]}),
        },
        "host": host_facts(spark, cpus, sf_dir),
        "samples": [[r["op"], r["latency_s"], r["cpu_s"], r["ok"], r["wait_s"]] for r in records],
        "warm_up": [[r["op"], r["latency_s"], r["cpu_s"], r["ok"]] for r in warm],
    }

    # -- per-layer metrics of the traced passes ---------------------------------------
    spark.stop()  # also closes the event log
    if args.trace:
        logs = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)]
        with open(logs[0]) as f:
            elog = tracing.parse_event_log(f)
        per_pass, per_op = [], []
        for traced in traced_passes:
            windows = {r["group"]: (r["t0"], r["t1"]) for r in traced}
            by_op = tracing.attribute_jobs(elog.jobs, windows)
            metrics = []
            for r in traced:
                m = op_layers(r, by_op[r["group"]], elog, progress_log.progress, phase_records, cpus)
                metrics.append(m)
                per_op.append({"op": r["op"], "latency_s": r["latency_s"], **m})
            per_pass.append(pass_layers(metrics, sum(r["latency_s"] for r in traced), cpus))
        layers = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        layers["session.start_s"] = session_start_s
        layers["session.warm_s"] = session_warm_s
        layers["plans.load_all_s"] = load_all_s
        walls = [sum(r["latency_s"] for r in p) for p in untraced_passes]
        layers["trace.overhead_s"] = statistics.median(
            sum(r["latency_s"] for r in tp) - (walls[i] + walls[i + 1]) / 2
            for i, tp in enumerate(traced_passes)
        )
        result["per_layer"] = layers
        result["per_op"] = per_op

    with open(args.result, "w") as f:
        json.dump(result, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001
        traceback.print_exc()
        sys.exit(3)
