"""Deterministic synthetic input tables for the benchmark.

The benchmark must not read anything outside its checkout, so it generates
the star-schema tables the engine's queries read (``region`` ... ``events``,
``documents``, ``embeddings``) with the same schemas, row counts per scale
factor and value distributions as the project's sf0.1 test set. Every table
is a pure function of ``(sf, GEN_SEED)``: the same call writes the same bytes.

``documents`` matters most. The extraction corpus (``corpus.capture_rows``)
is a function of its rows: 31-word vocabulary, 10..99 words per document,
5% near-duplicates (another document's text plus `` dup``), a few exact
duplicate pairs, ``source = src{doc_id % 20}``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("large", "hot", "blue", "red", "cold", "new", "old", "small")
PART_NOUN = ("ring", "bolt", "anvil", "gear", "gizmo", "plate", "rod",
             "widget")
PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")


def _rows(sf: float, per_sf1: int, floor: int) -> int:
    return max(floor, int(round(per_sf1 * sf)))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(int))
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def documents_table(sf: float, rng: np.random.Generator) -> pa.Table:
    n = _rows(sf, 50_000, 40)
    vocab = np.asarray(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        for _ in range(n)
    ]
    # 5% near-duplicates: an earlier document's text plus " dup"
    for i in rng.choice(n, size=max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    # a few exact duplicate pairs
    for _ in range(max(1, n // 600)):
        a, b = rng.choice(n, size=2, replace=False)
        texts[b] = texts[a]
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _sizes(sf: float) -> dict:
    return {
        "customer": _rows(sf, 150_000, 150), "supplier": _rows(sf, 10_000, 10),
        "part": _rows(sf, 200_000, 200), "orders": _rows(sf, 1_500_000, 1500),
        "lineitem": _rows(sf, 6_000_000, 6000),
        "events": _rows(sf, 1_000_000, 1000), "users": _rows(sf, 15_000, 15),
        "embeddings": _rows(sf, 20_000, 20),
    }


def build_table(name: str, sf: float) -> pa.Table:
    """One table; each has its own RNG stream, so a table does not depend on
    which other tables the caller builds."""
    rng = np.random.default_rng([GEN_SEED, ALL_TABLES.index(name)])
    n = _sizes(sf)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        k = n["customer"]
        return pa.table({
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": _pick(rng, SEGMENTS, k),
        })
    if name == "supplier":
        k = n["supplier"]
        return pa.table({
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        })
    if name == "part":
        k = n["part"]
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        partkey = np.arange(k, dtype=np.int64)
        return pa.table({
            "p_partkey": partkey,
            "p_name": _pick(rng, names, k),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _pick(rng, PART_TYPES, k),
            "p_size": rng.integers(1, 51, k).astype(np.int32),
            "p_retailprice": np.round(900 + (partkey % 1000) / 10, 2),
        })
    if name == "orders":
        k = n["orders"]
        return pa.table({
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], k),
            "o_orderstatus": _pick(rng, ("P", "O", "F"), k),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", k),
            "o_orderpriority": _pick(rng, PRIORITIES, k),
        })
    if name == "lineitem":
        k = n["lineitem"]
        return pa.table({
            "l_orderkey": rng.integers(0, n["orders"], k),
            "l_partkey": rng.integers(0, n["part"], k),
            "l_suppkey": rng.integers(0, n["supplier"], k),
            "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": _pick(rng, ("N", "R", "A"), k),
            "l_linestatus": _pick(rng, ("F", "O"), k),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", k),
        })
    if name == "events":
        k = n["events"]
        month_us = 30 * 86_400 * 1_000_000
        ts_us = np.sort(rng.integers(0, month_us, k))
        epoch = np.datetime64(dt.datetime(2024, 1, 1), "us")
        return pa.table({
            "event_id": np.arange(k, dtype=np.int64),
            "ts": pa.array(epoch + ts_us.astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "user_id": rng.integers(0, n["users"], k),
            "event_type": _pick(rng, EVENT_TYPES, k),
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": pa.array(
                [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
        })
    if name == "documents":
        return documents_table(sf, rng)
    if name == "embeddings":
        k = n["embeddings"]
        vecs = rng.standard_normal((k, 64)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return pa.table({
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, k).astype(np.int32),
        })
    raise ValueError(f"unknown table {name!r}")


def data_dir(cache_root: str, sf: float) -> str:
    """Directory of the tables for ``sf``, keyed by this file's content, so
    an edit to the generator never reads tables an older one wrote."""
    with open(__file__, "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:12]
    return os.path.join(cache_root, f"sf{sf}-{key}")


def ensure_tables(out_dir: str, sf: float, names=ALL_TABLES) -> dict:
    """Write ``{out_dir}/{name}.parquet`` for each requested table that is
    not there yet (each file appears atomically); returns ``{name: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        path = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(path):
            table = build_table(name, sf)
            tmp = f"{path}.tmp-{os.getpid()}"
            pq.write_table(table, tmp)
            os.replace(tmp, path)
        rows[name] = pq.ParquetFile(path).metadata.num_rows
    return rows
