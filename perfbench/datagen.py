"""Seeded input generator for the benchmark.

Everything the program reads is made here from ``--seed``: the same
seed gives byte-identical parquet files. Table shapes and value
distributions follow the repository's synthetic TPC-H-style fixture
(see FIXTURES.md), so the registry's queries and their DuckDB oracles
apply unchanged. Money and event values are whole cents or quarters:
sums of them are exact in binary floating point, so Spark and DuckDB
agree regardless of summation order.
"""

from __future__ import annotations

import os
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _ts(days_since_1995: np.ndarray) -> pa.Array:
    base = (np.datetime64("1995-01-01T00:00:00", "us") - EPOCH).astype(np.int64)
    return pa.array(base + days_since_1995.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(table: pa.Table, path: Path) -> int:
    pq.write_table(table, path)
    return table.num_rows


def tpch(root: Path, seed: int) -> dict[str, int]:
    """customer, nation, orders, part, lineitem at the 0.1 scale of the
    fixture (600 K lineitem rows). Returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_part, n_ord, n_line = 15_000, 20_000, 150_000, 600_000
    rows = {}
    rows["nation"] = _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        root / "nation.parquet",
    )
    rows["customer"] = _write(
        pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        root / "customer.parquet",
    )
    rows["part"] = _write(
        pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"part {i % 64}" for i in range(n_part)],
                "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                    rng.integers(0, 25, n_part)
                ],
                "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        root / "part.parquet",
    )
    rows["orders"] = _write(
        pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _ts(rng.integers(0, 2404, n_ord)),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
        root / "orders.parquet",
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    rows["lineitem"] = _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, 1000, n_line),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": _ts(rng.integers(1, 2499, n_line)),
            }
        ),
        root / "lineitem.parquet",
    )
    return rows


def corpus(root: Path, seed: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """documents (30-word vocabulary, 5 % planted near-duplicates: an
    earlier document plus one trailing token) and embeddings (64-d unit
    vectors, 10 labels)."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)]))
    rows = {
        "documents": _write(
            pa.table(
                {
                    "doc_id": np.arange(n_docs, dtype=np.int64),
                    "text": texts,
                    "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
                    "source": [f"src{i % 20}" for i in range(n_docs)],
                    "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
                }
            ),
            root / "documents.parquet",
        )
    }
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(
        pa.table(
            {
                "vec_id": np.arange(n_vecs, dtype=np.int64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
            }
        ),
        root / "embeddings.parquet",
    )
    return rows


def _event_times(seed: int, i: int, rows: int, late_share: float):
    """File ``i``'s own event times, sorted, and the mask of those
    displaced into file ``i + 1``."""
    rng = np.random.default_rng([seed, 3, i])
    span_us = FILE_SPAN_MINUTES * 60_000_000
    base_us = int((np.datetime64(STREAM_START, "us") - EPOCH).astype(np.int64))
    ts = base_us + i * span_us + np.sort(rng.integers(0, span_us, rows))
    return ts, rng.random(rows) < late_share


def event_file(root: Path, seed: int, i: int, rows: int, late_share: float) -> Path:
    """Write the ``i``-th of an unbounded run of time-ordered event files;
    each file depends only on ``(seed, i)``, so files can be made as the
    stream needs them. File ``i`` covers ``FILE_SPAN_MINUTES`` of event
    time; a ``late_share`` of its events is moved into file ``i + 1``:
    they arrive out of order but at most one file span behind the newest
    event already seen, well inside a 30-minute watermark. Modification
    times increase with ``i`` so a file stream source replays the files
    in order."""
    ts, late = _event_times(seed, i, rows, late_share)
    ts = ts[~late]
    if i > 0:
        prev_ts, prev_late = _event_times(seed, i - 1, rows, late_share)
        ts = np.concatenate([ts, prev_ts[prev_late]])
    n = len(ts)
    rng = np.random.default_rng([seed, 4, i])
    table = pa.table(
        {
            "event_id": np.arange(i * 2 * rows, i * 2 * rows + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, n),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": rng.integers(0, 2400, n) / 4.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    root.mkdir(parents=True, exist_ok=True)
    path = root / f"events-{i:06d}.parquet"
    pq.write_table(table, path)
    mtime = int(STREAM_START.timestamp()) + i
    os.utime(path, (mtime, mtime))
    return path


#: Event time covered by one stream file; must stay well under the
#: stream's 30-minute watermark delay for displaced events to count.
FILE_SPAN_MINUTES = 10
STREAM_START = datetime(2024, 1, 1)
