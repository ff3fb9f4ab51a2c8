"""Seeded input generator for the benchmark workloads.

Writes the ten fixture tables (FIXTURES.md) as Parquet, with the fixture
schemas and value domains, from a seed and a size table. The same seed
and sizes give byte-identical files; another seed gives other values of
the same shape.

Oracle exactness:

- ``(l_orderkey, l_linenumber)`` is unique (each order gets lines
  1..n);
- every decimal is an integer count of cents (or tenths) divided by
  100 (or 10), so it carries only the fixtures' digits;
- timestamps are whole days (orders, lineitem) or whole microseconds
  (events), which Spark and DuckDB read identically.

Each table is written as one row group, like the fixtures.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.42, 0.15, 0.15, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _days(start: str, end: str) -> tuple[int, int]:
    s = (np.datetime64(start, "D") - _EPOCH_1995).astype(int)
    e = (np.datetime64(end, "D") - _EPOCH_1995).astype(int)
    return int(s), int(e)


def _day_ts(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    days = rng.integers(lo, hi + 1, n) + (_EPOCH_1995.astype(int))
    return pa.array(days.astype("int64") * _DAY_US, pa.timestamp("us"))


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents over the fixture vocabulary. About 4% are
    exact copies and 6% near copies (one word changed, then ``dup``
    appended) of an earlier document, so exact and near-duplicate
    detection both have work to find."""
    texts: list[str] = []
    kinds = rng.random(n)
    lengths = rng.integers(10, 101, n)
    for i in range(n):
        if i > 0 and kinds[i] < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and kinds[i] < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            idx = rng.integers(0, len(WORDS), lengths[i])
            texts.append(" ".join(WORDS[j] for j in idx))
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in lang], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors scattered around one centre per label."""
    label = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, EMB_DIM))
    vecs = centres[label] + 1.5 * rng.normal(size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel(), pa.float32()), EMB_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32), pa.int32()),
        }
    )


def generate_tables(seed: int, sizes: dict[str, int]) -> dict[str, pa.Table]:
    """All ten tables for one (seed, sizes). ``sizes`` gives row counts
    for customer, supplier, part, orders, events, documents and
    embeddings; lineitem gets 1..7 lines per order (about 4 on
    average), region and nation are fixed."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_ev = sizes["orders"], sizes["events"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array(_names("Customer", n_cust)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_cents(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array(_names("Supplier", n_supp)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_cents(rng, n_supp, -999.99, 9999.99)),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array((9000 + np.arange(n_part) % 1000) / 10),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_cents(rng, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, n_li, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_li)]),
            "l_shipdate": _day_ts(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    month_us = 30 * _DAY_US
    ts_us = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us").astype("int64")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_ev), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(5000.0, n_ev)) / 100),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, sizes["documents"])
    t["embeddings"] = _embeddings(rng, sizes["embeddings"])
    return t


def inputs_key(seed: int, sizes: dict[str, int]) -> str:
    # Bump "v" whenever the generator's output changes, so cached inputs
    # from an older generator are not reused.
    blob = json.dumps({"seed": seed, "sizes": sizes, "v": 1}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def ensure_inputs(cache_root: str, seed: int, sizes: dict[str, int]) -> str:
    """Directory holding the tables for (seed, sizes), generated once.

    The directory is built under a temporary name and renamed into place,
    so an interrupted run never leaves a half-written input set behind."""
    final = os.path.join(cache_root, f"s{seed}-{inputs_key(seed, sizes)}")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate_tables(seed, sizes).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=max(1, table.num_rows))
    os.replace(tmp, final)
    return final
