"""Seeded generators for the benchmark's inputs.

``write_tables`` builds the star-schema tables the query registry reads
(``catalog.TABLES``: TPC-H-shaped dims and facts, an ``events`` stream,
a text ``documents`` corpus and an ``embeddings`` table) with the same
column names, types and value domains as the engine's seed-42 test
tables, so every registered builder and its DuckDB oracle run unmodified
on them.

The shapes the benchmark's costs depend on were measured on the sf0.01
and sf0.1 test tables and are pinned here:

* ``lineitem``: four rows per order, order keys drawn at random and line
  numbers uniform in 1..7, so ``(l_orderkey, l_linenumber)`` is not
  unique (14,168 repeated keys in 60,000 rows at sf0.01, 143,139 in
  600,000 at sf0.1); return flags A/N/R a third each.
* ``documents``: 500 rows at sf0.01. Every document, whatever its
  language, draws its tokens uniformly from the same 31-word ``VOCAB``
  (fitted Zipf exponent 0.2-0.3 per language, i.e. flat); lengths are
  uniform in 10..99 tokens (median 56, about 150 KB of text); languages
  ``LANG_P``; sources round-robin over 20. Near-duplicates are an
  earlier document plus the token ``dup``, with the copy's own language
  and source, ``NEAR_DUP_RATE`` of the corpus (25 of 500, 250 of 5,000);
  exact copies are rarer, ``EXACT_DUP_RATE`` (0 of 500, 8 of 5,000).
* ``embeddings``: unit vectors of dimension 64, labels uniform in 0..9.

``write_merge_batches`` builds the seed-keyed MERGE batches the ``etl``
workload applies to a versioned ``lineitem`` table.

Everything is a pure function of the seed and the scale factor: the same
arguments always write byte-identical tables.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "blue", "green", "large", "steel", "brass", "plain")
PART_NOUN = ("ring", "widget", "bolt", "gear", "spring", "valve", "panel", "hinge")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
EMBED_DIM = 64
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.0016
N_SOURCES = 20
# MERGE batches of the etl workload, each updating MERGE_FRAC of the rows
# and inserting as many.
MERGE_BATCHES = 3
MERGE_FRAC = 0.01

_US_PER_DAY = 86_400_000_000


def _micros(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """The corpus, with the measured shape described in the module doc."""
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    n_exact = round(EXACT_DUP_RATE * n)
    n_near = round(NEAR_DUP_RATE * n)
    # Disjoint (earlier, later) document pairs: every copy has its own
    # original, so exact and near copies come out at the planted counts.
    pairs = np.sort(rng.permutation(n)[: 2 * (n_exact + n_near)].reshape(-1, 2), axis=1)
    for k, (src, j) in enumerate(pairs):
        texts[j] = texts[src] if k < n_exact else texts[src] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], type=pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten registry tables at scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = n_vecs = 500 if sf <= 0.01 else int(50_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    lo, hi = _micros(datetime(1995, 1, 1)), _micros(datetime(2001, 8, 1))
    odate = lo + rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n_ord) * _US_PER_DAY
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    lkey = rng.integers(0, n_ord, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lkey, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_line)),
        "l_shipdate": _ts(odate[lkey] + rng.integers(1, 122, n_line) * _US_PER_DAY),
    })
    ev_lo = _micros(datetime(2024, 1, 1))
    ev_ts = np.sort(ev_lo + rng.integers(0, 30 * _US_PER_DAY, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), type=pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_events), type=pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(_money(rng, 0.01, 490.0, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), type=pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), type=pa.float32()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), type=pa.int32()),
    })


def write_merge_batches(lineitem_path: str, out_dir: str, seed: int) -> list[str]:
    """Write ``MERGE_BATCHES`` MERGE batches for a versioned ``lineitem``.

    Each batch updates ``MERGE_FRAC`` of the existing rows (same keys and
    return flag, new quantity and price) and inserts as many new rows
    under fresh order keys. Returns the batch paths in apply order."""
    rng = np.random.default_rng(seed)
    base = pq.read_table(lineitem_path)
    n = base.num_rows
    next_key = int(pa.compute.max(base["l_orderkey"]).as_py()) + 1
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for b in range(MERGE_BATCHES):
        k = max(1, int(n * MERGE_FRAC))
        upd = base.take(pa.array(rng.choice(n, size=k, replace=False)))
        upd = upd.set_column(
            upd.schema.get_field_index("l_quantity"), "l_quantity",
            pa.array(rng.integers(1, 51, k).astype(np.float64)),
        ).set_column(
            upd.schema.get_field_index("l_extendedprice"), "l_extendedprice",
            pa.array(_money(rng, 900.0, 105_000.0, k)),
        )
        ins = base.take(pa.array(rng.choice(n, size=k, replace=False)))
        ins = ins.set_column(
            ins.schema.get_field_index("l_orderkey"), "l_orderkey",
            pa.array(np.arange(next_key, next_key + k), type=pa.int64()),
        )
        next_key += k
        path = os.path.join(out_dir, f"merge_{b + 1}.parquet")
        pq.write_table(pa.concat_tables([upd, ins]), path)
        paths.append(path)
    return paths
