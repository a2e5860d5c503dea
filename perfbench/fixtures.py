"""Benchmark inputs: a deterministic sf0.1 star schema.

The engine's test fixtures (TESTDATA.md, seed 42) live outside the
repository, so the benchmark makes its own tables with the same schemas,
column types, cardinalities and value distributions (FIXTURES.md), from a
fixed generator seed. ``--seed`` only permutes the key order of a workload;
the tables never change between runs, which is what lets the DuckDB oracle
answers be computed once and cached beside them.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# Row counts the generated tables must have (sf0.1 column of FIXTURES.md).
ROWS_SF01 = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _ts(lo: dt.datetime, hi: dt.datetime, rng, n: int, unit: str) -> pa.Array:
    """``n`` uniform timestamps in [lo, hi), truncated to ``unit``."""
    step = {"D": 86_400_000_000, "us": 1}[unit]
    a = int(lo.timestamp() * 1e6) // step
    b = int(hi.timestamp() * 1e6) // step
    return pa.array(rng.integers(a, b, n) * step, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents; 5% are an earlier document plus `` dup``."""
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in np.sort(rng.choice(np.arange(1, n), n // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_sf01(out_dir: str, seed: int = FIXTURE_SEED) -> None:
    """Write the ten sf0.1 tables as parquet files under ``out_dir``."""
    rng = np.random.default_rng(seed)
    n = {t: ROWS_SF01[t] for t in TABLES}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS, s),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"]), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"]), s),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"]), f64),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), i64),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ], s),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])], s),
            "p_type": pa.array(rng.choice(PART_TYPES, n["part"]), s),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1), f64
            ),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"]), s),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n["orders"]), f64),
            "o_orderdate": _ts(
                dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 2), rng, n["orders"], "D"
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n["orders"]), s),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n["lineitem"]), f64),
            "l_discount": pa.array(_money(rng, 0.0, 0.1, n["lineitem"]), f64),
            "l_tax": pa.array(_money(rng, 0.0, 0.08, n["lineitem"]), f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n["lineitem"]), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n["lineitem"]), s),
            "l_shipdate": _ts(
                dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 5), rng, n["lineitem"], "D"
            ),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n["events"]), i64),
            "ts": pa.array(np.sort(_ts(
                dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31), rng, n["events"], "us"
            ).to_numpy(zero_copy_only=False))),
            "user_id": pa.array(rng.integers(0, n["customer"] // 10, n["events"]), i64),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n["events"]), s),
            "value": pa.array(np.round(rng.exponential(50.0, n["events"]), 2), f64),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])], s
            ),
        }),
        "documents": _documents(rng, n["documents"]),
    }
    emb = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def row_counts(sf_dir: str) -> dict[str, int]:
    return {
        t: pq.read_metadata(os.path.join(sf_dir, f"{t}.parquet")).num_rows
        for t in TABLES
    }


def check_rows(sf_dir: str, want: dict[str, int]) -> None:
    got = row_counts(sf_dir)
    if got != want:
        raise RuntimeError(f"fixture row counts {got} != expected {want}")


def ensure(cache: str) -> str:
    """Build (once) and verify the sf0.1 tables under ``cache``; return
    their directory. A partial build left by an interrupted run is
    rebuilt."""
    out = os.path.join(cache, "sf0.1")
    done = os.path.join(out, ".complete")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        make_sf01(out)
        open(done, "w").close()
    check_rows(out, ROWS_SF01)
    return out
