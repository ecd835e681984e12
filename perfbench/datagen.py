"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the engine reads (``sources.registry.TABLES``) as
``<out_dir>/<name>.parquet``, in the column names and Arrow types the
operators and their DuckDB oracles expect: a TPC-H-like star schema, an
``events`` stream, a text corpus with planted exact and near duplicates,
and 64-dim unit embeddings with planted near-duplicate vectors.

The same ``(seed, sf)`` always gives byte-identical tables. ``sf`` scales
the fact tables like the repository's test data (``lineitem`` has
6,000,000 x sf rows). Floors keep small scales usable: 500 rows for the
text and vector tables, so the dedup and similarity operators always see
a corpus, and 12,000 ``lineitem`` rows, so a ``drain`` query always hits
the executor's 10,000-row cap.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64
N_SOURCES = 20


def table_sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(100, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "lineitem": max(12_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, so every value has an exact two-decimal repr
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def _documents(rng, n: int):
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 20 and r < 0.01:
            # exact copy of an earlier planted duplicate or original
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 20 and r < 0.06:
            # near duplicate: an earlier doc with ~10% of its words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), max(1, len(words) // 10), replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            if words[-1] != "dup":
                words.append("dup")
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array(
                [f"src{j}" for j in rng.integers(0, N_SOURCES, n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, DIM))
    # ~3% of vectors are near copies of an earlier one (cosine ~0.99)
    for i in np.flatnonzero(rng.random(n) < 0.03):
        if i > 0:
            src = x[int(rng.integers(0, i))]
            x[i] = src + 0.1 * np.linalg.norm(src) / np.sqrt(DIM) * rng.standard_normal(DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel(), pa.float32()), DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)`` as Arrow tables."""
    n = table_sizes(sf)
    # one independent stream per table: resizing one table leaves the
    # others' contents unchanged
    rngs = {
        name: np.random.default_rng([seed, i]) for i, name in enumerate(n)
    }
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r, k = rngs["customer"], n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], pa.string()),
            "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k), pa.float64()),
            "c_mktsegment": pa.array(r.choice(SEGMENTS, k), pa.string()),
        }
    )
    r, k = rngs["supplier"], n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], pa.string()),
            "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k), pa.float64()),
        }
    )
    r, k = rngs["part"], n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
                ],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in r.integers(1, 26, k)], pa.string()
            ),
            "p_type": pa.array(r.choice(PART_TYPES, k), pa.string()),
            "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
            "p_retailprice": pa.array(
                (90_000 + np.arange(k) % 1000 * 10) / 100.0, pa.float64()
            ),
        }
    )
    r, k = rngs["orders"], n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], k), pa.string()),
            "o_totalprice": pa.array(_money(r, 1000, 500_000, k), pa.float64()),
            "o_orderdate": _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), k),
            "o_orderpriority": pa.array(r.choice(PRIORITIES, k), pa.string()),
        }
    )
    r, k = rngs["lineitem"], n["lineitem"]
    # (l_orderkey, l_linenumber) is unique: line numbers count up per order
    okeys = np.sort(r.integers(0, n["orders"], k))
    first = np.r_[True, okeys[1:] != okeys[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(k), 0))
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(np.arange(k) - starts + 1, pa.int32()),
            "l_quantity": pa.array(r.integers(1, 51, k).astype(float), pa.float64()),
            "l_extendedprice": pa.array(_money(r, 900, 105_000, k), pa.float64()),
            "l_discount": pa.array(r.integers(0, 11, k) / 100.0, pa.float64()),
            "l_tax": pa.array(r.integers(0, 9, k) / 100.0, pa.float64()),
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], k), pa.string()),
            "l_linestatus": pa.array(r.choice(["F", "O"], k), pa.string()),
            "l_shipdate": _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), k),
        }
    )
    r, k = rngs["events"], n["events"]
    gaps = r.exponential(30 * 86_400e6 / k, k).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(10, k // 66), k), pa.int64()),
            "event_type": pa.array(r.choice(EVENT_TYPES, k), pa.string()),
            "value": pa.array(_money(r, 0.01, 490.0, k), pa.float64()),
            "props": pa.array(
                [f'{{"k": {v}}}' for v in r.integers(0, 100, k)], pa.string()
            ),
        }
    )
    t["documents"] = _documents(rngs["documents"], n["documents"])
    t["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])
    return t


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
