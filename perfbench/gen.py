"""Seeded input generator for the benchmark workloads.

Writes one parquet file per table in the layout ``io.load_table`` reads
(``<dir>/<table>.parquet``), with the column names, types and value domains
of the fixture schemas in FIXTURES.md. Every value comes from numpy
generators, so a (scale, replicas, seed) triple always yields the same
bytes.

``replicas > 1`` builds a key-consistent replica of the base star schema:
replica ``r`` copies lineitem, orders, customer, part and supplier with
every key column shifted by ``r`` times the base key range, so each copy
joins only to itself and every join keeps its base fan-out. nation and
region stay single. ``order_seed`` shuffles the row order of the replicated
tables (the data multiset does not depend on it).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at sf0.001; the fixtures scale linearly with sf, except
# documents/embeddings, which have their own (sub-linear) sizes.
_BASE_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
              "lineitem": 6000, "events": 1000}
_DOCS = {0.001: 500, 0.01: 500, 0.1: 5000}
_EMBS = {0.001: 500, 0.01: 500, 0.1: 2000}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000

KEYED_TABLES = {
    # table -> {column: base table whose key range shifts it}
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part",
                 "l_suppkey": "supplier"},
}
_NAMED_KEYS = {"c_name": ("c_custkey", "Customer#"),
               "s_name": ("s_suppkey", "Supplier#")}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(rng: np.random.Generator, first: str, last: str, n: int):
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _named(prefix: str, keys: np.ndarray) -> np.ndarray:
    return np.array([f"{prefix}{k:09d}" for k in keys], dtype=object)


def star_schema(sf: float, rng: np.random.Generator) -> dict[str, dict]:
    """The TPC-H-ish star schema as column dicts (numpy arrays)."""
    n = {k: max(1, int(round(v * sf / 0.001))) for k, v in _BASE_ROWS.items()}
    nc, ns, np_, no, nl = (n["customer"], n["supplier"], n["part"],
                           n["orders"], n["lineitem"])
    cust = np.arange(nc, dtype=np.int64)
    supp = np.arange(ns, dtype=np.int64)
    part = np.arange(np_, dtype=np.int64)
    return {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.asarray(_REGIONS, dtype=object)},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": np.array([f"NATION_{i}" for i in range(25)],
                                      dtype=object),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": cust, "c_name": _named("Customer#", cust),
                     "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                     "c_mktsegment": _pick(rng, _SEGMENTS, nc)},
        "supplier": {"s_suppkey": supp, "s_name": _named("Supplier#", supp),
                     "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, ns)},
        "part": {"p_partkey": part,
                 "p_name": np.char.add(
                     np.char.add(_pick(rng, _ADJ, np_).astype(str), " "),
                     _pick(rng, _NOUN, np_).astype(str)).astype(object),
                 "p_brand": np.array([f"Brand#{b}" for b in
                                      rng.integers(1, 26, np_)],
                                     dtype=object),
                 "p_type": _pick(rng, _PTYPES, np_),
                 "p_size": rng.integers(1, 51, np_).astype(np.int32),
                 "p_retailprice": np.round(900.0 + (part % 1000) * 0.1, 2)},
        "orders": {"o_orderkey": np.arange(no, dtype=np.int64),
                   "o_custkey": rng.integers(0, nc, no).astype(np.int64),
                   "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
                   "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                   "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
                   "o_orderpriority": _pick(rng, _PRIORITIES, no)},
        "lineitem": {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)},
    }


def side_tables(sf: float, rng: np.random.Generator) -> dict[str, dict]:
    """events, documents and embeddings (the non-star fixtures)."""
    ne = max(1, int(round(_BASE_ROWS["events"] * sf / 0.001)))
    gaps = rng.integers(1, 2 * 30 * _DAY_US // ne, ne)
    ev = {"event_id": np.arange(ne, dtype=np.int64),
          "ts": _EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]"),
          "user_id": rng.integers(0, max(15, ne // 66), ne).astype(np.int64),
          "event_type": _pick(rng, _EVENT_TYPES, ne),
          "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
          "props": np.array([f'{{"k": {k}}}' for k in
                             rng.integers(0, 100, ne)], dtype=object)}

    nd = _DOCS.get(sf, max(500, int(sf * 50000)))
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.15:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words),
                                           int(rng.integers(10, 100)))])
        texts.append(" ".join(toks))
    docs = {"doc_id": np.arange(nd, dtype=np.int64),
            "text": np.asarray(texts, dtype=object),
            "lang": _pick(rng, _LANGS, nd,
                          p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": np.array([f"src{s}" for s in rng.integers(0, 20, nd)],
                               dtype=object),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}

    nv = _EMBS.get(sf, max(500, int(sf * 20000)))
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    embs = {"vec_id": np.arange(nv, dtype=np.int64),
            "embedding": list(vecs), "label": labels.astype(np.int32)}
    return {"events": ev, "documents": docs, "embeddings": embs}


def replicate(tables: dict[str, dict], replicas: int) -> dict[str, dict]:
    """Key-consistent ``replicas``-fold copy of the keyed star tables."""
    if replicas == 1:
        return tables
    span = {t: len(tables[t][next(iter(KEYED_TABLES[t]))])
            for t in ("customer", "supplier", "part", "orders")}
    out = dict(tables)
    for name, keys in KEYED_TABLES.items():
        cols = tables[name]
        rep = {c: np.concatenate([v] * replicas) for c, v in cols.items()}
        n = len(next(iter(cols.values())))
        shift = np.repeat(np.arange(replicas, dtype=np.int64), n)
        for col, base in keys.items():
            rep[col] = rep[col] + shift * span[base]
        for col, (key, prefix) in _NAMED_KEYS.items():
            if col in rep:
                rep[col] = _named(prefix, rep[key])
        out[name] = rep
    return out


def _shuffle_rows(cols: dict, rng: np.random.Generator) -> dict:
    n = len(next(iter(cols.values())))
    perm = rng.permutation(n)
    return {c: v[perm] for c, v in cols.items()}


def _to_arrow(cols: dict) -> pa.Table:
    arrays = {}
    for c, v in cols.items():
        if isinstance(v, list):  # embedding vectors
            arrays[c] = pa.array([x.tolist() for x in v],
                                 type=pa.list_(pa.float32()))
        elif v.dtype == object:
            arrays[c] = pa.array(v.tolist(), type=pa.string())
        elif np.issubdtype(v.dtype, np.datetime64):
            arrays[c] = pa.array(v.astype("datetime64[us]"),
                                 type=pa.timestamp("us"))
        else:
            arrays[c] = pa.array(v)
    return pa.table(arrays)


def generate(out_dir: str, sf: float, replicas: int = 1,
             data_seed: int = 42, order_seed: int | None = None) -> dict:
    """Write every fixture table under ``out_dir``; return a record with
    the generation time and the rows/bytes of each table."""
    t0 = time.perf_counter()
    rng = np.random.default_rng(data_seed)
    tables = star_schema(sf, rng)
    tables.update(side_tables(sf, rng))
    tables = replicate(tables, replicas)
    if order_seed is not None:
        order_rng = np.random.default_rng(order_seed)
        for name in KEYED_TABLES:
            tables[name] = _shuffle_rows(tables[name], order_rng)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, cols in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        tbl = _to_arrow(cols)
        pq.write_table(tbl, path, compression="snappy")
        sizes[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return {"gen_s": time.perf_counter() - t0, "sf": sf,
            "replicas": replicas, "tables": sizes}
