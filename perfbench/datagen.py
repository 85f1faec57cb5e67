"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten tables the engine reads (``swallow_spark.TABLES``), one
single-row-group parquet file each, with the column names, types and value
domains the engine's declared schemas and queries expect:

- a TPC-H-like star: region, nation, customer, supplier, part, orders,
  lineitem (foreign keys drawn uniformly, so every join has matches);
- ``events``: a time-ordered click stream with single-key JSON props;
- ``documents``: texts over a 30-word vocabulary, 5% of them a planted
  near-duplicate (an earlier text plus the token ``dup``);
- ``embeddings``: unit-norm 64-dim float vectors with a 10-class label.

Row counts scale with ``sf`` (lineitem = 6 000 000 x sf). The generator has
its own fixed seed, so a given ``sf`` always yields the same rows.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42

VOCAB = (
    "batch sort value hash filter big data spark line small fast group customer "
    "part column order scan a slow agg key window table merge vector join query "
    "row stream the"
).split()
SEGMENTS = ["MACHINERY", "FURNITURE", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "new", "red", "large", "hot", "cold", "blue", "old"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    """``n`` midnight timestamps (datetime64[us]) uniform in [lo, hi]."""
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n)
    return (np.datetime64(lo, "D") + d).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(GEN_SEED)
    n_cust = max(150, int(round(150_000 * sf)))
    n_supp = max(10, int(round(10_000 * sf)))
    n_part = max(200, int(round(200_000 * sf)))
    n_ord = max(1_500, int(round(1_500_000 * sf)))
    n_line = max(6_000, int(round(6_000_000 * sf)))
    n_evt = max(1_000, int(round(1_000_000 * sf)))
    n_user = max(15, n_evt // 66)
    n_doc = max(500, int(round(50_000 * sf)))
    n_vec = max(500, int(round(20_000 * sf)))
    i32 = pa.int32()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": _keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = _keys(n_part)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
    )
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": _keys(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_evt))
    out["events"] = pa.table(
        {
            "event_id": _keys(n_evt),
            "ts": t0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_user, n_evt),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(np.minimum(rng.exponential(60.0, n_evt), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]))
    out["documents"] = pa.table(
        {
            "doc_id": _keys(n_doc),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": _keys(n_vec),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return out


def build(sf: float, out_dir: str) -> str:
    """Write the tables for ``sf`` into ``out_dir`` unless already complete.

    The files are written to a sibling temp dir and renamed into place, so
    an interrupted build never leaves a half-written table set behind."""
    if os.path.exists(os.path.join(out_dir, "_COMPLETE")):
        return out_dir
    tmp = out_dir.rstrip("/") + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables(sf).items():
        pq.write_table(
            tbl, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30, compression="snappy"
        )
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(os.path.abspath(out_dir)), exist_ok=True)
    os.rename(tmp, out_dir)
    return out_dir
