"""Structured Streaming tests (SURVEY §2.11 S1-S3) through the catalog's one
drain helper: file-source micro-batch ingest with availableNow
(scroll-until-stable), arrival dedupe with watermark, incremental resume
via checkpoint (skip-if-exists F8), two-batch stateful tracking, and the
drain's time bound."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import types as T

from nba_data_pipeline_spark.plans import streaming_plans as sp
from nba_data_pipeline_spark.plans.streaming_plans import _drain, stability_tracker

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("payload", T.StringType()),
    ]
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _file_stream(spark, land, **options):
    return spark.readStream.format("parquet").schema(SCHEMA).options(**options).load(land)


def _parquet_sink(sdf, sink):
    return sdf.writeStream.format("parquet").option("path", sink).outputMode("append")


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "land"), str(tmp_path / "sink"), str(tmp_path / "ckpt")


def test_available_now_processes_then_stops(spark, dirs, monkeypatch):
    land, sink, ckpt = dirs
    # pin the drain's checkpoint so the second drain resumes from the first
    monkeypatch.setattr(sp, "streaming_checkpoint_dir", lambda prefix: ckpt)
    _write_batch(spark, land, [(1, T0, "a"), (2, T0, "b")])

    q = _drain(spark, _parquet_sink(_file_stream(spark, land), sink), "t_avail", 2)
    assert not q.isActive
    assert sum(p["numInputRows"] for p in q.recentProgress) == 2
    assert spark.read.parquet(sink).count() == 2

    # second landing + rerun resumes from checkpoint: only new rows appended
    _write_batch(spark, land, [(3, T0, "c")])
    q = _drain(spark, _parquet_sink(_file_stream(spark, land), sink), "t_avail", 2)
    assert sum(p["numInputRows"] for p in q.recentProgress) == 1
    out = spark.read.parquet(sink)
    assert out.count() == 3
    assert {r.event_id for r in out.collect()} == {1, 2, 3}


def test_arrival_dedupe_with_watermark(spark, dirs):
    land, sink, _ = dirs
    # duplicate event_ids landing within the watermark window
    _write_batch(
        spark,
        land,
        [(1, T0, "a"), (1, T0, "dup"), (2, T0, "b"), (2, T0, "dup"), (3, T0, "c")],
    )
    sdf = (
        _file_stream(spark, land)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id", "ts"])
    )
    _drain(spark, _parquet_sink(sdf, sink), "t_dedupe", 2)
    out = spark.read.parquet(sink)
    assert out.count() == 3
    assert {r.event_id for r in out.collect()} == {1, 2, 3}


def test_stability_tracker_stateful(spark, dirs):
    """S3 custom stateful op: cumulative per-key counts carried across
    micro-batches; 'stable' flips true only when a batch adds no rows."""
    land, _, _ = dirs
    # two files -> two micro-batches (maxFilesPerTrigger=1); key 'a' grows
    # in both batches, key 'b' only lands in the first (stable in batch 2
    # would need a third batch — with update mode 'b' simply isn't re-emitted)
    _write_batch(spark, land, [(1, T0, "a"), (2, T0, "a"), (3, T0, "b")])
    _write_batch(spark, land, [(4, T0, "a")])

    tracked = stability_tracker(
        _file_stream(spark, land, maxFilesPerTrigger="1"), key_col="payload"
    )
    sink = tracked.writeStream.format("memory").queryName("stab_mem")
    _drain(spark, sink.outputMode("update"), "t_stab", 2)
    rows = spark.table("stab_mem").collect()
    a_rows = sorted(
        [(r.prev, r.total, r.stable) for r in rows if r.key == "a"]
    )
    # batch ordering by file listing isn't guaranteed, but cumulative state
    # must show one batch starting from 0 and the other continuing from it,
    # never a stable=True (counts grew in both batches 'a' appeared in)
    assert len(a_rows) == 2
    assert a_rows[0][0] == 0 and a_rows[1][1] == 3
    assert not any(s for _, _, s in a_rows)
    b_rows = [(r.prev, r.total, r.stable) for r in rows if r.key == "b"]
    assert b_rows == [(0, 1, False)]


def test_drain_times_out_stops_query_and_restores_partitions(
    spark, dirs, monkeypatch
):
    """A drain still running at _DRAIN_TIMEOUT_S fails loudly: the query is
    stopped, TimeoutError names it, and the scoped shuffle-partition count
    is restored."""
    land, _, _ = dirs
    _write_batch(spark, land, [(1, T0, "a")])
    monkeypatch.setattr(sp, "_DRAIN_TIMEOUT_S", 0.5)
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def slow(batch_df, batch_id):
        time.sleep(3)

    writer = _file_stream(spark, land).writeStream.foreachBatch(slow)
    with pytest.raises(TimeoutError, match="t_slow"):
        _drain(spark, writer, "t_slow", int(prev) + 3)
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_landing_cache_relands_when_source_changes(tmp_path):
    """_LANDING_CACHE keys on the source table's mtime: regenerating the
    events table at the same path within a session must produce a FRESH
    landing (a stale landing would silently replay old bytes)."""
    import os
    import shutil

    from nba_data_pipeline_spark.plans.streaming_plans import _land

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy("/root/testdata/sf0.001/events.parquet", src)

    first = _land("tcache", sf_dir, copies=1)
    # identical source -> cached landing dir
    assert _land("tcache", sf_dir, copies=1) == first
    # regenerated source (same path, new mtime) -> fresh landing
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    second = _land("tcache", sf_dir, copies=1)
    assert second != first
