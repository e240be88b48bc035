"""Seeded input generation for the benchmark workloads.

Everything here runs before the Spark session exists and is excluded
from every timed metric.

- ``write_tables``: the ten tables of the repository's test data
  (TESTDATA.md: TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``) with the same column names, types and value domains,
  drawn from a numpy generator seeded by the caller.
- ``write_fa_raw``: FA raw ``.txt.zip`` extracts built with the row
  builders of ``tools/fa_bench_data.py``, with every PropertyID shifted by
  a seed-derived offset.
"""

from __future__ import annotations

import multiprocessing
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DIM = 64
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Bag-of-words documents over a 30-word vocabulary. About 2% are
    exact copies and 6% near copies (one word changed, a trailing
    ``dup``) of an earlier document, so the dedup stages have work."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 101)))))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Unit vectors around ten cluster centres; ``label`` is the cluster."""
    centres = rng.normal(size=(10, _DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centres[label] + rng.normal(scale=0.8, size=(n, _DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def write_tables(
    out_dir: str,
    seed: int,
    n_orders: int,
    n_events: int,
    n_documents: int,
    n_embeddings: int,
) -> str:
    """Write the ten tables under ``out_dir``. Dimension sizes follow the
    test data's ratios to ``n_orders`` (lineitem 4x, customer 1/10,
    part 2/15, supplier 1/150)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(n_orders // 10, 10)
    n_supp = max(n_orders // 150, 10)
    n_part = max(n_orders * 2 // 15, 10)
    n_line = n_orders * 4

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_orders)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
        "o_orderdate": _days(rng, 2404, n_orders),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_line)),
        "l_shipdate": _days(rng, 2499, n_line),
    })
    gaps = np.maximum(rng.exponential(26e6, n_events).astype(np.int64), 1)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_events // 66, 10), n_events)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    _write(out_dir, "documents", _documents(rng, n_documents))
    _write(out_dir, "embeddings", _embeddings(rng, n_embeddings))
    return out_dir


def _write_fa_zip(raw_dir: str, fam: str, county: str, first: int, n: int) -> None:
    """One (family, county) member: the properties of ``county``'s
    parity among PropertyIDs ``first + 1 .. first + n``."""
    from tools import fa_bench_data as fa

    name = f"{fam}{county.zfill(5)}"
    parity = fa._COUNTIES.index(county)
    start = first + 1 + ((first + 1) % 2 != parity)  # pid % 2 selects county
    lines = [fa._HEADERS[fam]]
    for pid in range(start, first + n + 1, 2):
        lines.extend(fa._ROW_FNS[fam](pid))
    with zipfile.ZipFile(
        os.path.join(raw_dir, f"{name}.txt.zip"), "w", zipfile.ZIP_DEFLATED
    ) as zf:
        zf.writestr(f"{name}.txt", "\n".join(lines) + "\n")


def write_fa_raw(input_dir: str, first_pid: int, n_properties: int, workers: int) -> str:
    """Write ``input_dir/raw`` with the four families split by county
    (8 zips) using at most ``workers`` spawned processes."""
    from tools import fa_bench_data as fa

    raw_dir = os.path.join(input_dir, "raw")
    os.makedirs(raw_dir, exist_ok=True)
    jobs = [
        (raw_dir, fam, county, first_pid, n_properties)
        for fam in fa._HEADERS
        for county in fa._COUNTIES
    ]
    with multiprocessing.get_context("spawn").Pool(min(workers, len(jobs))) as pool:
        pool.starmap(_write_fa_zip, jobs)
    return input_dir
