"""Seeded input generators.

Everything the benchmark feeds the engine is made here from the
``--seed`` argument, with NumPy and PyArrow only (no Spark), so the
same seed always gives byte-identical inputs and generation cost never
depends on the engine under test.

* ``write_corpus`` writes the ten fixture tables the engine's catalog
  knows (TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings``) at a scale factor, with the column types and value
  ranges of the engine's own test fixtures.
* ``order_row`` / ``orders_table`` build rows of the reference demo
  ``orders`` table (the mirrored source table) and their parquet form.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "spark line column order small sort fast value scan a hash slow group "
    "batch agg filter query big key window row part table stream merge data "
    "vector customer join the"
).split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "zh", "de", "fr", "es"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_2024 = int(
    (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()
) * 1_000_000
_EPOCH_1995 = int(
    (dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()
) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a small vocabulary. Exactly 2 % are
    copies and 6 % near copies (a word in twenty replaced) of earlier
    documents, so every seed gives the dedup operators the same amount
    of work."""
    vocab = np.array(_WORDS)
    later = rng.permutation(np.arange(11, n)) if n > 11 else np.array([], dtype=int)
    exact = set(later[: n // 50].tolist())
    near = set(later[n // 50: 4 * n // 50].tolist())
    lengths = rng.permutation(np.resize(np.arange(8, 90), n))  # same multiset every seed
    texts: list[str] = []
    for i in range(n):
        if i in exact:
            texts.append(texts[int(rng.integers(0, i))])
        elif i in near:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab, int(lengths[i]))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n).tolist()),
            "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(0.0, 0.15, (10, dim))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n, dim))).astype("float32")
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype="int32"))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def write_corpus(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten fixture tables at scale factor ``sf`` (sf 0.1 =
    600k lineitem rows) into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(20, int(20_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(_REGIONS),
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust).tolist()),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }))
    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(
                rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
            )
        ]),
        "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    }))
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, span_days, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord).tolist()),
    }))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line).tolist()),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, span_days + 95, n_line) * _DAY_US),
    }))
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype("int64")),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)]),
    }))
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))


# -- reference demo ``orders`` table (the mirrored source) -------------

_ORDER_BASE = dt.date(2024, 1, 1)


def order_row(rng: np.random.Generator, oid: int) -> dict:
    """One ``orders`` row with insert.ps1's distributions: FKs uniform
    over 100 customers/products, quantity 1-99, date today-0..30."""
    return {
        "id": int(oid),
        "order_date": (_ORDER_BASE - dt.timedelta(days=int(rng.integers(0, 31)))).isoformat(),
        "purchaser": int(rng.integers(1, 101)),
        "quantity": int(rng.integers(1, 100)),
        "product_id": int(rng.integers(1, 101)),
    }


def orders_table(rows: list[dict]) -> pa.Table:
    return pa.table({
        "id": pa.array([r["id"] for r in rows], type=pa.int64()),
        "order_date": pa.array(
            [dt.date.fromisoformat(r["order_date"]) for r in rows], type=pa.date32()
        ),
        "purchaser": pa.array([r["purchaser"] for r in rows], type=pa.int64()),
        "quantity": pa.array([r["quantity"] for r in rows], type=pa.int64()),
        "product_id": pa.array([r["product_id"] for r in rows], type=pa.int64()),
    })
