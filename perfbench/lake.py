"""Seeded synthetic lake for the benchmark.

Writes the same ten tables, with the same schemas and value domains, as
the TPC-H-ish star schema plus ``events``/``documents``/``embeddings``
lake that the registry queries and their DuckDB oracles read (see
``nhl_data_pipeline_spark/catalog.py``). Row counts follow the lake's
scale-factor rule, so ``sf=0.1`` has 600K ``lineitem`` rows and 5K
documents. The seed changes every value and no size: two seeds give
lakes of equal shape, so timings differ only by the data, not its volume.

Document text mirrors the lake's construction: 10-99 words drawn from a
30-word vocabulary, and 5% of the documents replaced by another
document's text plus the token ``dup`` (exact pairs arise only when two
replacements pick the same base), so the dedup kernels find real pairs.
README.md records how this lake compares with the sf0.01 test lake.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBED_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    n = lambda base, floor=1: max(floor, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _days(rng, lo: str, hi: str, size: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((b - a) / np.timedelta64(1, "D"))
    return (a + rng.integers(0, span + 1, size)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values, size: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)])


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 100, n)]
    # 5% of the documents, at distinct positions, become another
    # document's text plus " dup". Bases are drawn from the whole corpus
    # as it stands, so a base may itself be a near-duplicate (chains) or
    # be overwritten later, and two picks of one base are an exact pair.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rows = table_rows(sf)
    rng = np.random.default_rng(seed)
    i64 = lambda k: pa.array(np.arange(rows[k], dtype=np.int64))  # noqa: E731
    nat = lambda k: pa.array(rng.integers(0, 25, rows[k]).astype(np.int32))  # noqa: E731
    nc, ns, npart, no, nl, ne = (
        rows[k] for k in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(REGIONS)),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": i64("customer"),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": nat("customer"),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64("supplier"),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": nat("supplier"),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": i64("part"),
        "p_name": _pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": i64("orders"),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl)),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": i64("events"),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), ne)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(0.01 + rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


def write_lake(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
