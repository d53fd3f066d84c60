"""Deterministic fixture generator for the benchmark.

Writes the ten parquet tables the query registry reads (``region`` ...
``embeddings``) with the schemas, value domains and row counts of the
project's TPC-H-style test fixtures, so the benchmark needs nothing outside
its own checkout.  The tables are a pure function of ``(sf, seed)``: the
same arguments always give byte-identical parquet.

Value domains follow the fixtures: uniform keys and categories, prices
rounded to cents, order/ship dates over 1995-2001, a 30-day event stream
with exponential values, bag-of-words documents over a 30-word vocabulary
of which 5 % are near-duplicates (a copy of an earlier document plus the
token ``dup``), and unit-norm 64-dim float32 embeddings with 10 labels.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DATA_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil",
              "gizmo"]
_PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    off = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
    return base + off.astype("timedelta64[us]")


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All fixture tables at scale factor ``sf`` (0.1 = 600k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part)
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                   for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
        "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2497)})
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, round(15_000 * sf)),
                                         n_evt), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64)})
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def ensure_fixtures(root: str, sf: float) -> str:
    """Generate the fixtures for ``sf`` under ``root`` unless a complete
    set is already there; returns their directory.  The directory name
    carries a digest of this file, so an edited generator writes a new set
    instead of reusing one made by the old code.  Writes into a sibling
    temp directory and renames it into place, so an interrupted build
    never leaves a partial set that a later run would trust."""
    with open(__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:12]
    out_dir = os.path.join(root, f"sf{sf}-{digest}")
    if os.path.exists(os.path.join(out_dir, "_COMPLETE")):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        os.rename(tmp, out_dir)
    except OSError:   # a concurrent run finished first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(out_dir, "_COMPLETE")):
            raise
    return out_dir

