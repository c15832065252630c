"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 -m pytest perfbench/tests -q      # the benchmark's own logic

Run from the repository root. Builds the workload's input tables once per
checkout (``perfbench/.work/data``, see ``datagen.py``), starts one worker
process (``worker.py``) that sets up Spark on all cores, measures and checks,
bounds that process's wall time, stops every process it started, and prints
two JSON lines on stdout: the host facts and run details, then the result

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Workloads (``workloads.py``): ``interactive-sf0.1`` runs four catalog entries
(``QuerySpec.fn`` plus a ``noop`` write) at sf0.1; ``land-sf0.01`` runs CLI
commands (``cli.main``: the team walk and props) that land JSON trees at
sf0.01. One process, one closed-loop client: each operation starts when the
previous one ends.

``--trace 0`` reports the end-to-end metrics named in ``BENCHMARK.json``:
set-up time, median operation latency, operations per minute and the
driver's peak RSS; the detail line adds CPU seconds per operation (driver,
JVM and Python workers). Each operation is summarized by the median of its own
samples first, so one slow sample moves no figure. Latency and throughput
are then scaled to an idle host: before each operation, untimed, a fixed
reference Spark job runs on a child session whose settings the program
cannot change, and each operation's wall time, less the seconds it spent in
``time.sleep`` (fixed waits), is multiplied by that job's idle-host time
over its median in the run (``worker.ReferenceJob``). On a shared host
every operation of a run slows with the host by about the same factor,
which this removes. The detail line keeps the figures as measured
(``as_measured``, ``host_scale``). Set-up time and RSS are not scaled.

``--trace 1`` runs the same workload with Spark's event log, a streaming
listener, a Catalyst phase listener and wrappers around the adapter, gate
and sink functions, and reports the per-layer metrics of the traced passes
(see ``tracing.py``) plus the tracing overhead. Every scratch file stays
under ``perfbench/.work``; result details are kept in
``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
import workloads as wl  # noqa: E402

RUN_BUDGET_S = 170.0
PROGRAM_FILES = ("nba_data_pipeline_spark/__init__.py", "tools/check.py", "__spark_entry__.py")

def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 1


def source_digest() -> str:
    """Digest of the program's sources, standing in for the git commit
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    for top in ("nba_data_pipeline_spark", "tools"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def stop_all(proc: subprocess.Popen, mark: bytes) -> None:
    """Terminate every process of the run and wait until each has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in procs.run_pids(mark):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 10.0
        while time.time() < end:
            if proc.poll() is not None and not procs.run_pids(mark):
                break
            time.sleep(0.1)
        if proc.poll() is not None and not procs.run_pids(mark):
            break
    proc.wait()


def main() -> int:
    t_start = time.time()
    # A TERM must still stop the worker and its JVM (the finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        return fail(f"program not found next to the benchmark: missing {missing}")
    workload = wl.WORKLOADS[args.workload]

    base = os.path.join(HERE, ".work")
    from datagen import build

    t = time.time()
    data_dir = build(workload.sf, os.path.join(base, "data", workload.sf_name))
    data_build_s = time.time() - t

    run_dir = os.path.join(base, "runs", f"{workload.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "ckpt"):
        os.makedirs(os.path.join(run_dir, sub))
    result_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CKPT_DIR": os.path.join(run_dir, "ckpt"),
        "SPARK_GRAFT_DUCK_MEM": "2GB",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONUNBUFFERED": "1",
        procs.MARKER_VAR: run_dir,
        # Spark's Python workers import the package too.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    env.pop("SPARK_GRAFT_CPUS", None)
    budget = RUN_BUDGET_S - (time.time() - t_start)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload.name, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data-dir", data_dir, "--work-dir", run_dir, "--result", result_path,
        "--op-timeout", str(min(30.0, budget / 4)),
    ]
    t_spawn = time.time()
    proc = subprocess.Popen(
        [*cmd, "--t-spawn", repr(t_spawn)],
        cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        stop_all(proc, procs.marker(run_dir))
    if rc != 0:
        shutil.rmtree(run_dir, ignore_errors=True)
        return fail("worker timed out" if rc is None else f"worker exited with {rc}")

    with open(result_path) as f:
        res = json.load(f)
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    keep = os.path.join(base, "results", os.path.basename(run_dir) + ".json")
    shutil.move(result_path, keep)
    shutil.rmtree(run_dir, ignore_errors=True)

    host = dict(res["host"])
    host.update({
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "seed": args.seed,
        "workload": workload.name,
        "data_build_s": round(data_build_s, 3),
        "detail_file": os.path.relpath(keep, ROOT),
    })
    print(json.dumps({"host": host, "detail": res["detail"]}, separators=(",", ":")))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    got = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in spec}
    print(f"perfbench: run took {time.time() - t_start:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
