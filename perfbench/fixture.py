"""Deterministic synthetic fixture: the ten tables of the engine's catalog.

The engine's queries read a TPC-H-like star schema plus an event stream,
a text corpus and an embedding table (see ``catalog.TABLES``). The
benchmark cannot rely on any dataset outside its checkout, so it writes
its own: same table names, column names, physical types and value
domains as the fixture family the engine was built against, generated
with numpy from a fixed seed. Every value is uniform or drawn from a
small fixed domain, like the originals; referential integrity holds on
every FK edge, so the transfer audits report zero orphans.

The fixture does not depend on the run's ``--seed`` (that seed permutes
the operation order). It is written once per checkout into a cache
directory and reused; a finished fixture carries a ``_DONE`` marker
holding its spec, so a half-written or stale cache is rebuilt.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generator changes, so cached fixtures are rebuilt
VERSION = 1

_FIXED_SEED = 20241017

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream filter group vector"
).split()
_LANGS = np.array(["en", "en", "en", "fr", "es", "zh", "de"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_COLORS = ["blue", "red", "green", "small", "large", "black", "white", "steel",
           "tiny", "brass", "olive", "pink", "plum"]
_THINGS = ["anvil", "ring", "widget", "bolt", "gear"]
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"])
_DAY_US = 86_400 * 1_000_000


def _ts(days: np.ndarray, base: str) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Every table of the fixture at scale ``sf`` (sf 1 = 6M lineitems)."""
    rng = np.random.Generator(np.random.PCG64(_FIXED_SEED))
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, n_ev // 67)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{c} {t}" for c in _COLORS for t in _THINGS])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": _PTYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(1, 2500, n_line), "1995-01-01"),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words texts; 5% are an earlier text plus the word ``dup``
    (near-duplicates for the dedup families), and a few are exact copies."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 95)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), n)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors; 5% are a small perturbation of an
    earlier vector (near-duplicates for the cosine dedup)."""
    v = rng.standard_normal((n, dim))
    for i in range(10, n):
        if rng.random() < 0.05:
            v[i] = v[int(rng.integers(0, i))] + 0.02 * rng.standard_normal(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def ensure(root: str, name: str, sf: float, n_docs: int, n_vecs: int) -> str:
    """The fixture directory ``root/name``, generating it if absent or stale."""
    spec = {"version": VERSION, "sf": sf, "n_docs": n_docs, "n_vecs": n_vecs}
    path = os.path.join(root, name)
    marker = os.path.join(path, "_DONE")
    try:
        with open(marker) as f:
            if json.load(f) == spec:
                return path
    except (OSError, ValueError):
        pass
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t, table in tables(sf, n_docs, n_vecs).items():
        pq.write_table(table, os.path.join(tmp, f"{t}.parquet"))
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(spec, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
