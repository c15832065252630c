"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import tracing  # noqa: E402
import workloads as wl  # noqa: E402
from stats import quartiles, tail_percentile  # noqa: E402

EVENTLOG = os.path.join(HERE, "data", "eventlog_small.jsonl")
STREAM_GROUP = "e9711bbd-bfc0-4050-bd19-1a636eac42c7"


# -- percentile rule -------------------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([float(i) for i in range(100)], 90) is not None
    assert tail_percentile([float(i) for i in range(60)], 90) is None
    # ties at the top leave fewer than ten samples strictly above the cut
    assert tail_percentile([1.0] * 95 + [2.0] * 5, 90) is None


def test_summary_uses_per_op_medians_and_host_scale():
    import worker

    recs = [
        {"op": "a", "ok": True, "latency_s": x, "cpu_s": 2 * x, "wait_s": 0.0} for x in (1.0, 1.0, 9.0)
    ] + [
        {"op": "b", "ok": True, "latency_s": 3.0, "cpu_s": 6.0, "wait_s": 1.0},
        {"op": "b", "ok": False, "latency_s": 50.0, "cpu_s": 1.0, "wait_s": 0.0},
    ]
    raw = worker.summarize(recs)
    # a's median is 1 despite its slow sample; the failed b is left out
    assert raw["end_to_end"] == {"op_p50_s": 2.0, "ops_per_min": 30.0}
    assert raw["detail"]["cpu_s_per_op"] == 4.0
    scaled = worker.summarize(recs, 0.5)
    # b's second of sleep is not scaled: 1 + 2 * 0.5
    assert scaled["end_to_end"] == {"op_p50_s": 1.25, "ops_per_min": 48.0}
    assert scaled["detail"]["as_measured"] == raw["end_to_end"]
    assert scaled["detail"]["cpu_s_per_op"] == 4.0


def test_tail_percentile_value_and_quartiles():
    vals = [float(i) for i in range(1, 201)]
    p90 = tail_percentile(vals, 90)
    assert 179.0 < p90 < 182.0
    assert sum(1 for v in vals if v > p90) >= 10
    assert quartiles([3.0]) == (3.0, 3.0, 3.0)
    assert quartiles([1.0, 2.0, 3.0, 4.0, 5.0])[1] == 3.0


# -- event-log parser ----------------------------------------------------------------


@pytest.fixture(scope="module")
def elog():
    with open(EVENTLOG) as f:
        return tracing.parse_event_log(f)


def test_parser_reads_jobs_groups_and_streaming(elog):
    assert [j.job_id for j in elog.jobs] == [0, 1, 2, 3, 4]
    assert [j.group for j in elog.jobs[:4]] == ["op-a", "op-a", "op-a", "op-b"]
    assert elog.jobs[4].group == STREAM_GROUP and elog.jobs[4].streaming
    assert not any(j.streaming for j in elog.jobs[:4])
    assert all(j.end_ms >= j.submit_ms for j in elog.jobs)


def test_parser_counts_completed_stages_and_task_metrics(elog):
    done = {s for s, agg in elog.stages.items() if agg.completed}
    # job 1 and job 2 re-list the earlier shuffle stages; they are skipped
    assert done == {0, 2, 5, 6, 7, 8}
    assert sum(elog.stages[s].tasks for s in done) == 13
    assert elog.stages[0].shuffle_write_bytes > 0
    assert elog.stages[2].shuffle_read_bytes == elog.stages[0].shuffle_write_bytes


def test_parser_reads_python_node_metrics(elog):
    # one pandas UDF over 1000 rows (spark.range(1000) -> plus1)
    py = elog.stages[2]
    assert py.python_rows == 1000
    assert py.to_python_bytes > 0 and py.from_python_bytes > 0
    assert py.python_ms > 0
    assert sum(s.python_rows for s in elog.stages.values()) == 1000


# -- attribution -----------------------------------------------------------------------


def _job(i, group, t_s, streaming=False):
    return tracing.Job(job_id=i, group=group, streaming=streaming, submit_ms=int(t_s * 1000),
                       end_ms=int(t_s * 1000) + 100)


def test_foreign_group_jobs_attributed_by_time_window():
    jobs = [
        _job(0, "op-1", 10.1),
        _job(1, "stream-run-id", 10.5, streaming=True),  # inside op-1's window
        _job(2, None, 12.2),  # no group, inside op-2's window
        _job(3, "op-1", 12.5),  # own group wins over the window
        _job(4, "stream-run-id", 20.0, streaming=True),  # outside every window
    ]
    got = tracing.attribute_jobs(jobs, {"op-1": (10.0, 11.0), "op-2": (12.0, 13.0)})
    assert [j.job_id for j in got["op-1"]] == [0, 1, 3]
    assert [j.job_id for j in got["op-2"]] == [2]


def test_streaming_jobs_of_committed_log_counted(elog):
    op_b = [j for j in elog.jobs if j.group == "op-b"][0]
    windows = {
        "op-a": (elog.jobs[0].submit_ms / 1000 - 0.1, elog.jobs[2].end_ms / 1000),
        "op-b": (op_b.submit_ms / 1000 - 0.1, elog.jobs[4].end_ms / 1000 + 0.1),
    }
    got = tracing.attribute_jobs(elog.jobs, windows)
    assert [j.job_id for j in got["op-b"]] == [3, 4]
    lo, hi = windows["op-b"]
    m = tracing.exec_metrics(got["op-b"], elog, lo, hi, cores=2)
    assert m["exec.jobs"] == 2 and m["streaming.jobs"] == 1
    assert m["exec.stages"] == 3 and m["exec.tasks"] == 8
    assert 0 < m["exec.s"] < hi - lo and m["exec.no_job_s"] > 0


def test_covered_seconds_merges_and_clips():
    spans = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    assert tracing.covered_seconds(spans, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert tracing.covered_seconds([], 0.0, 1.0) == 0.0


def test_streaming_progress_window():
    progress = [
        {"timestamp": "2026-01-01T00:00:01.000Z", "numInputRows": 5,
         "durationMs": {"addBatch": 10, "triggerExecution": 30},
         "stateOperators": [{"numRowsTotal": 7, "memoryUsedBytes": 1048576}]},
        {"timestamp": "2026-01-01T00:00:09.000Z", "numInputRows": 50, "durationMs": {}},
    ]
    from datetime import datetime, timezone

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()
    m = tracing.streaming_metrics(progress, t0, t0 + 5)
    assert m["streaming.batches"] == 1 and m["streaming.input_rows"] == 5
    assert m["streaming.add_batch_ms"] == 10 and m["streaming.trigger_ms"] == 30
    assert m["streaming.state_rows"] == 7 and m["streaming.state_mem_mb"] == 1.0


# -- layer probe -----------------------------------------------------------------------


def test_layer_probe_times_outer_calls_and_restores():
    import types

    mod = types.ModuleType("nba_data_pipeline_spark._probe_test")

    def inner():
        return 1

    def outer():
        return mod.inner() + 1

    def gen():
        yield from (1, 2)

    mod.inner, mod.outer, mod.gen = inner, outer, gen
    sys.modules[mod.__name__] = mod
    try:
        probe = tracing.LayerProbe()
        probe.patch(mod, "inner", "x")
        probe.patch(mod, "outer", "x")
        probe.patch(mod, "gen", "y", on_result=lambda _: probe.count("items"))
        assert mod.outer() == 2
        assert list(mod.gen()) == [1, 2]
        assert len(probe.spans["x"]) == 1  # the nested call is not a second span
        assert len(probe.spans["y"]) == 3  # one span per next(), the last one ends it
        assert probe.counts["items"] == 2
        probe.remove()
        assert mod.inner is inner and mod.outer is outer and mod.gen is gen
    finally:
        del sys.modules[mod.__name__]


# -- workloads -------------------------------------------------------------------------


def test_catalog_entries_exist_once():
    from nba_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    for w in wl.WORKLOADS.values():
        assert len(set(w.entries)) == len(w.entries)
        assert all(n in specs for n in w.entries)


def test_cli_inputs_follow_seed():
    a = wl.cli_ops("sf", 3)
    assert [o.name for o in a] == ["scrape-teams", "props"]
    assert [o.argv for o in a] == [o.argv for o in wl.cli_ops("sf", 3)]
    assert any([o.argv for o in wl.cli_ops("sf", s)] != [o.argv for o in a] for s in range(4, 8))


def test_tree_report_and_expectations(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.json").write_text('{"k": 1}')
    (tmp_path / "b.json").write_text("not json")
    rels, size, digest, problems = wl.tree_report(str(tmp_path))
    assert rels == {os.path.join("a", "x.json"), "b.json"} and size == 16
    assert len(problems) == 1 and "b.json" in problems[0]
    assert wl.tree_report(str(tmp_path))[2] == digest
    check = wl._exact({"b.json"})
    assert check({"b.json"}) == [] and check(rels) != []



# -- watchdog --------------------------------------------------------------------------


def test_watchdog_cancels_and_interrupts_a_hung_operation():
    import time
    import types

    import worker

    calls = []
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(cancelAllJobs=lambda: calls.append("cancel")),
        streams=types.SimpleNamespace(active=[types.SimpleNamespace(stop=lambda: calls.append("stop"))]),
    )
    dog = worker.Watchdog(spark, 0.2)
    t0 = time.time()
    with pytest.raises(KeyboardInterrupt):
        with dog:
            while time.time() - t0 < 10:
                time.sleep(0.01)
    assert dog.fired and calls == ["cancel", "stop"]
    assert time.time() - t0 < 5
    # a finished operation disarms it
    with dog:
        pass
    time.sleep(0.3)
    assert not dog.fired
