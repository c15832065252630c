"""Every catalog entry that drains a stream through ``streaming_plans._drain``
must match its DuckDB oracle at sf0.001 — the same compare tools/check.py
runs, so a change to the shared drain or landing memo is caught in the
unit suite, not only in a full check.py run."""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import __spark_entry__ as entrymod
import check

from .conftest import SF_DIR

DRAIN_ENTRIES = [
    "s1_stream_ingest_counts",
    "s2_stream_arrival_dedupe",
    "s3_stability_tracker",
    "s7_stream_static_join",
    "s8_stream_stream_join",
    "s9_foreach_batch_upsert",
    "s10_dedupe_within_watermark",
    "s11_stream_incremental_minhash",
    "s12_custom_pystream_source",
    "s13_stream_outer_join",
    "snk9_stream_file_sink",
]


@pytest.fixture(scope="module")
def duck():
    con = check.duck_connect(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", DRAIN_ENTRIES)
def test_drain_entry_matches_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    try:
        problems = check.compare(name, sdf, duck.sql(entrymod.oracle_sql()[name]))
    finally:
        spark.catalog.clearCache()
    assert problems == []
