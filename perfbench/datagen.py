"""Seeded fixture tables for the benchmark.

Writes the ten tables the engine reads (``correlationapi_spark.io``
TABLE_NAMES) as single-row-group snappy parquet files, with the schemas
and value domains of the engine's fixture set (FIXTURES.md) at the
given scale factor. Row counts depend only on ``sf``; values depend
only on ``seed``, so one seed always gives the same files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EMBED_DIM = 64
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_END = np.datetime64("2024-01-31T00:00:00", "us")


def row_counts(sf: float) -> dict[str, int]:
    """Fixture row counts at scale factor ``sf`` (FIXTURES.md table)."""
    small = sf <= 0.01
    return {
        "region": 5,
        "nation": 25,
        "supplier": max(10, int(10_000 * sf)),
        "customer": max(150, int(150_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": 500 if small else int(50_000 * sf),
        "embeddings": 500 if small else int(20_000 * sf),
    }


def n_users(sf: float) -> int:
    """Distinct event users (15 at sf0.001, as in the fixture)."""
    return max(15, int(15_000 * sf))


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _doc_text(rng, n_tokens: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_tokens))


def embedding_batch(rng, ids, labels, centers: np.ndarray) -> pa.Table:
    """Unit-norm 64-d float32 vectors around per-label centers."""
    noise = rng.standard_normal((len(ids), EMBED_DIM))
    v = 0.15 * centers[labels] + noise / np.sqrt(EMBED_DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "embedding": pa.array(
                [row for row in v.astype(np.float32)],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(np.asarray(labels, dtype=np.int32)),
        }
    )


def label_centers(seed: int) -> np.ndarray:
    c = np.random.default_rng([seed, 7]).standard_normal((10, EMBED_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    k = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": pa.array(rng.integers(0, 25, k, dtype=np.int32)),
            "c_acctbal": pa.array(money(-999.99, 9999.99, k)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, k)),
        }
    )
    k = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": pa.array(rng.integers(0, 25, k, dtype=np.int32)),
            "s_acctbal": pa.array(money(-999.99, 9999.99, k)),
        }
    )
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, k), rng.integers(0, 8, k)
                    )
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, k)]
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, k)),
            "p_size": pa.array(rng.integers(1, 51, k, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1)),
        }
    )
    k = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
            "o_custkey": pa.array(
                rng.integers(0, n["customer"], k, dtype=np.int64)
            ),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], k)),
            "o_totalprice": pa.array(money(1000.0, 500000.0, k)),
            "o_orderdate": pa.array(
                _days(rng, k, dt.date(1995, 1, 1), dt.date(2001, 8, 1))
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, k)),
        }
    )
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(
                rng.integers(0, n["orders"], k, dtype=np.int64)
            ),
            "l_partkey": pa.array(rng.integers(0, n["part"], k, dtype=np.int64)),
            "l_suppkey": pa.array(
                rng.integers(0, n["supplier"], k, dtype=np.int64)
            ),
            "l_linenumber": pa.array(rng.integers(1, 8, k, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(20.0, 2100.0, k), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], k)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], k)),
            "l_shipdate": pa.array(
                _days(rng, k, dt.date(1995, 1, 2), dt.date(2001, 11, 4))
            ),
        }
    )
    t["events"] = events_table(rng, 0, n["events"], EVENTS_START, EVENTS_END,
                               n_users(sf))
    t["documents"] = documents_table(rng, n["documents"])
    k = n["embeddings"]
    t["embeddings"] = embedding_batch(
        rng, np.arange(k), rng.integers(0, 10, k), label_centers(seed)
    )
    return t


def events_table(rng, first_id: int, k: int, start, end, users: int,
                 user_ids=None) -> pa.Table:
    """``k`` events with ids from ``first_id`` and sorted timestamps in
    [start, end); ``user_ids`` restricts the users drawn from."""
    span = int((end - start) / np.timedelta64(1, "us"))
    ts = np.sort(start + rng.integers(0, span, k).astype("timedelta64[us]"))
    pool = np.arange(users) if user_ids is None else np.asarray(user_ids)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + k, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.choice(pool, k).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, k)),
            "value": pa.array(np.round(rng.exponential(50.0, k), 2) + 0.01),
            "props": pa.array(
                [json.dumps({"k": int(x)}) for x in rng.integers(0, 100, k)]
            ),
        }
    )


def documents_table(rng, k: int) -> pa.Table:
    """Whitespace-token docs over a 30-word vocabulary; 5% are near
    duplicates (an earlier doc's text plus a trailing ``dup`` token)."""
    texts = [_doc_text(rng, int(m)) for m in rng.integers(10, 100, k)]
    for i in rng.choice(np.arange(1, k), k // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    seen: set[str] = set()
    for i, s in enumerate(texts):
        while s in seen:
            s += " dup"
        seen.add(s)
        texts[i] = s
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(k, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, k, p=lang_p)),
            "source": pa.array([f"src{i % 20}" for i in range(k)]),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def write_table(table: pa.Table, path: str) -> int:
    """One row group, snappy — the fixture file layout. Returns bytes."""
    pq.write_table(
        table, path, compression="snappy", row_group_size=max(1, table.num_rows)
    )
    return os.path.getsize(path)


def write_fixture(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    os.makedirs(out_dir, exist_ok=True)
    return {
        name: write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        for name, tbl in make_tables(seed, sf).items()
    }
