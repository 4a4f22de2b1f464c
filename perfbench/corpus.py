"""Seeded corpus tables for the headline query leaves, and their oracle check.

The nine ``bench.py`` HEADLINE leaves read TPC-H-shaped tables (lineitem,
orders, customer, supplier, nation, region), an ``events`` stream, a
``documents`` text corpus and an ``embeddings`` table.  This module writes
tables with those schemas from a seed, so the benchmark needs no data from
outside its checkout.  Documents plant exact and near duplicates so both
dedup leaves have work to find.

``value_hash`` is the order-insensitive result hash the repository's oracle
gate uses (strings as-is, floats via ``repr(round(v, 9))``), so a leaf's
Spark result can be compared with DuckDB running the leaf's ``oracle_sql``.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
          "events", "documents", "embeddings")

_VOCAB = (
    "a the data table query join scan sort hash merge batch stream window "
    "column row key value part line order group filter agg spark fast slow "
    "big small vector customer index shuffle plan cache commit edition map"
).split()


def _ts(base: datetime.datetime, seconds: np.ndarray) -> pa.Array:
    epoch_us = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**6
    return pa.array(epoch_us + seconds.astype(np.int64) * 10**6, pa.timestamp("us"))


def generate(seed: int, p: dict) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp, n_ord = p["customers"], p["suppliers"], p["orders"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": _ts(datetime.datetime(1995, 1, 1),
                           rng.integers(0, 2404, n_ord) * 86400),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    n_li = n_ord * p["lines_per_order"]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), p["lines_per_order"]), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, p["lines_per_order"] + 1), n_ord), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(datetime.datetime(1995, 1, 2),
                          rng.integers(0, 2498, n_li) * 86400),
    })
    n_ev = p["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(datetime.datetime(2024, 1, 1),
                  np.sort(rng.integers(0, 30 * 86400, n_ev))),
        "user_id": pa.array(rng.integers(0, p["users"], n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    t["documents"] = _documents(rng, p["documents"])
    n_emb, dim = p["embeddings"], p["dim"]
    vecs = rng.standard_normal((n_emb, dim)).astype(np.float32) * np.float32(0.15)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; about a tenth are exact copies of an earlier
    document and another tenth are near copies (a few words replaced)."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.1:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)).tolist():
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words.tolist()))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def cached(cache_dir: str, seed: int, params: dict) -> str:
    """Write (or reuse) the corpus for ``(seed, params)``; returns its dir."""
    key = hashlib.sha256(
        json.dumps([GENERATOR_VERSION, seed, params], sort_keys=True).encode()
    ).hexdigest()[:16]
    out = os.path.join(cache_dir, f"corpus-{key}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in generate(seed, params).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    open(done, "w").close()
    return out


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_hashes(corpus_dir: str, sql_by_leaf: dict[str, str]) -> dict[str, tuple[int, str]]:
    """(row count, value hash) of each leaf's DuckDB oracle over the corpus."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(corpus_dir, f"{name}.parquet").replace("'", "''")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for leaf, sql in sql_by_leaf.items():
            rel = con.sql(sql)
            rows = rel.fetchall()
            out[leaf] = (len(rows), value_hash(rows, [d[0] for d in rel.description]))
        return out
    finally:
        con.close()
