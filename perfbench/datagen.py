"""Seeded benchmark inputs.

Two datasets, both a pure function of the seed (same seed, byte-identical
files):

- the ten-table catalog the registered queries read (``catalog``), with
  the schemas and value domains of the repository's fixture tables at
  sf0.01 row counts;
- the ``svm_train`` mixture (``svm``): a 10-class Gaussian mixture,
  written as LibSVM text shards plus one ``embeddings.parquet``.

Everything is vectorized NumPy + pyarrow, so generation takes about a
second; it is not part of any timed metric.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts of the sf0.01 fixture tables.
CATALOG_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; ~5% are exact
    copies of an earlier document with " dup" appended (the near-dup
    targets of the dedup queries)."""
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    vocab = np.array(_WORDS, dtype=object)
    texts: list[str] = []
    pos = 0
    is_dup = rng.random(n) < 0.05
    src_of = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(n):
        if is_dup[i] and i > 0:
            texts.append(texts[src_of[i]] + " dup")
        else:
            texts.append(" ".join(vocab[words[pos : pos + lengths[i]]]))
        pos += lengths[i]
    langs = rng.choice(_LANGS, n, p=_LANG_P)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _unit_embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.normal(0.0, 1.0, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return _embedding_table(x.astype(np.float32), rng.integers(0, 10, n))


def _embedding_table(x: np.ndarray, labels: np.ndarray) -> pa.Table:
    n, dim = x.shape
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels.astype(np.int32),
        }
    )


def make_catalog(out_dir: str, seed: int) -> None:
    """Write the ten catalog tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = CATALOG_ROWS
    i32, i64 = np.int32, np.int64

    _write(
        pa.table({"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    nc = n["customer"]
    _write(
        pa.table(
            {
                "c_custkey": np.arange(nc, dtype=i64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": rng.integers(0, 25, nc).astype(i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": rng.choice(_SEGMENTS, nc).tolist(),
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    ns = n["supplier"]
    _write(
        pa.table(
            {
                "s_suppkey": np.arange(ns, dtype=i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": rng.integers(0, 25, ns).astype(i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )
    npart = n["part"]
    _write(
        pa.table(
            {
                "p_partkey": np.arange(npart, dtype=i64),
                "p_name": [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                "p_type": rng.choice(_PTYPES, npart).tolist(),
                "p_size": rng.integers(1, 51, npart).astype(i32),
                "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
            }
        ),
        f"{out_dir}/part.parquet",
    )
    no = n["orders"]
    _write(
        pa.table(
            {
                "o_orderkey": np.arange(no, dtype=i64),
                "o_custkey": rng.integers(0, nc, no).astype(i64),
                "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, no) * _DAY_US),
                "o_orderpriority": rng.choice(_PRIORITIES, no).tolist(),
            }
        ),
        f"{out_dir}/orders.parquet",
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, no, nl).astype(i64),
                "l_partkey": rng.integers(0, npart, nl).astype(i64),
                "l_suppkey": rng.integers(0, ns, nl).astype(i64),
                "l_linenumber": rng.integers(1, 8, nl).astype(i32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.lognormal(7.6, 0.9, nl) / 10, 2) + 900.0,
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
                "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
                "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + _EPOCH_2024
    _write(
        pa.table(
            {
                "event_id": np.arange(ne, dtype=i64),
                "ts": _ts(ts),
                "user_id": rng.integers(0, 150, ne).astype(i64),
                "event_type": rng.choice(_EVENT_TYPES, ne).tolist(),
                "value": np.round(np.clip(rng.exponential(50.0, ne), 0.01, 490.0), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
            }
        ),
        f"{out_dir}/events.parquet",
    )
    _write(_documents(rng, n["documents"]), f"{out_dir}/documents.parquet")
    _write(_unit_embeddings(rng, n["embeddings"]), f"{out_dir}/embeddings.parquet")


def svm_mixture(seed: int, n_rows: int, dim: int = 64, n_classes: int = 10,
                noise: float = 1.5) -> tuple[np.ndarray, np.ndarray]:
    """Gaussian mixture: class centres ~ N(0, 1), isotropic noise ``noise``.
    Returns (X float32 [n_rows, dim], labels int32)."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(0.0, 1.0, (n_classes, dim))
    labels = rng.integers(0, n_classes, n_rows)
    x = centres[labels] + rng.normal(0.0, noise, (n_rows, dim))
    return x.astype(np.float32), labels.astype(np.int32)


def make_svm(out_dir: str, seed: int, n_rows: int, n_shards: int = 4) -> None:
    """Write ``embeddings.parquet`` and ``libsvm/part-<k>.libsvm`` shards
    (label = class id, 1-based dense feature ids) for one mixture."""
    x, labels = svm_mixture(seed, n_rows)
    os.makedirs(f"{out_dir}/libsvm", exist_ok=True)
    _write(_embedding_table(x, labels), f"{out_dir}/embeddings.parquet")
    for k, rows in enumerate(np.array_split(np.arange(n_rows), n_shards)):
        # one "<id>:<value>" string column per feature, joined row-wise in
        # Arrow's C++ kernels (a Python loop over 2.5M tokens takes ~8 s)
        cols = [pc.cast(pa.array(labels[rows]), pa.string())]
        for j in range(x.shape[1]):
            vals = pc.cast(pa.array(x[rows, j]), pa.string())
            cols.append(pc.binary_join_element_wise(f"{j + 1}", vals, ":"))
        lines = pc.binary_join_element_wise(*cols, " ")
        with open(f"{out_dir}/libsvm/part-{k:05d}.libsvm", "w") as fh:
            fh.write("\n".join(lines.to_pylist()) + "\n")
