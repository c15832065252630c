"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the catalog reads (``nba_data_pipeline_spark.io.TABLES``)
as one parquet file each, with the schemas, key domains and value
distributions of the repo's fixture star schema (TPC-H-like dimensions and
facts, an ``events`` stream table, a ``documents`` corpus with near
duplicates and unit-norm ``embeddings``). Row counts scale linearly with the
scale factor: sf1 has 6,000,000 lineitems.

The tables depend only on the scale factor (the generator seed is fixed), so
one build serves every benchmark run in a checkout; the run's ``--seed``
picks the operations and their order instead.

    python3 perfbench/datagen.py 0.1 perfbench/.data/sf0.1
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _day_ts(rng: np.random.Generator, start_days: int, span_days: int, n: int) -> pa.Array:
    days = rng.integers(start_days, start_days + span_days, n)
    return _ts(_EPOCH_1995 + days * _DAY_US)


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(GEN_SEED)
    n = table_sizes(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, k),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)],
    })

    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10000, k),
    })

    k = n["part"]
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, k)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, k)],
    )
    out["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, k).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, k)],
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
    })

    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, 1000, 500000, k),
        "o_orderdate": _day_ts(rng, 0, 2400, k),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)],
    })

    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
        "l_shipdate": _day_ts(rng, 1, 2499, k),
    })

    k = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, k)) + _EPOCH_2024
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, n["customer"] // 10), k).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })

    # Documents: random bags over a 30-word vocabulary; one in twenty is a
    # near duplicate (an earlier document plus the token "dup").
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i >= 20 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, 30, int(rng.integers(10, 100)))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    k = n["embeddings"]
    vec = rng.standard_normal((k, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, k).astype(np.int32),
    })
    return out


def build(sf: float, dest: str) -> str:
    """Write the tables for ``sf`` under ``dest`` unless already complete.
    The directory appears atomically (built beside it, then renamed), so an
    interrupted build never leaves a partial data set behind."""
    if os.path.isfile(os.path.join(dest, "_SUCCESS")):
        return dest
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(os.path.dirname(os.path.abspath(dest)), exist_ok=True)
    os.rename(tmp, dest)
    return dest


if __name__ == "__main__":
    build(float(sys.argv[1]), sys.argv[2])
