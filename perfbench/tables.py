"""Seeded input tables for the batch workload.

Writes the ten parquet tables the registry queries read (schemas as in
``wikitrender_spark.schemas.TESTDATA_TABLES``), at the row counts of the
smallest scale factor and with the same value domains: a TPC-H-like star
schema, a generic ``events`` table the wikitrender queries derive rc events
from, digit-free word-salad ``documents`` with planted near-duplicates, and
unit-norm 64-dim ``embeddings``. The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500,
        "embeddings": 500}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "nut", "ring", "spring", "valve", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000      # 1995-01-01
_EPOCH_2024 = 1_704_067_200 * 1_000_000    # 2024-01-01


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span_days):
    return _EPOCH_1995 + rng.integers(0, span_days, n) * _DAY_US


def _ts(values_us) -> pa.Array:
    return pa.array(values_us, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _WORDS[rng.integers(0, len(_WORDS))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS),
                                                     rng.integers(10, 100))]
        texts.append(" ".join(words))
    lang = np.where(rng.random(n) < 0.44, "en",
                    np.array(_LANGS[1:])[rng.integers(0, 4, n)])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": lang.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def build(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    r = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(r["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(r["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, r["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, r["customer"]),
        "c_mktsegment": np.array(_SEGMENTS)[
            rng.integers(0, 5, r["customer"])].tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(r["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(r["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, r["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, r["supplier"])})
    n = r["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)})
    n = r["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n)].tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts(_days(rng, n, 2404)),
        "o_orderpriority": np.array(_PRIORITIES)[
            rng.integers(0, 5, n)].tolist()})
    n = r["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)].tolist(),
        "l_shipdate": _ts(_days(rng, n, 2499))})
    n = r["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)].tolist(),
        "value": np.round(rng.uniform(0.01, 490.02, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    t["documents"] = _documents(rng, r["documents"])
    n = r["embeddings"]
    vecs = rng.normal(size=(n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return t


def write(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
