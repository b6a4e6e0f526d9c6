"""Seeded synthetic inputs for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical Arrow tables, so two runs of one seed feed the program the
same data and the DuckDB oracle sees exactly what Spark sees. The shapes
follow the repo's test tables (TESTDATA.md / FIXTURES.md): TPC-H-style
``lineitem``/``orders``, a ``documents`` corpus with planted near-duplicate
families, and 64-dimensional ``embeddings`` drawn from a Gaussian mixture.
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np
import pyarrow as pa

_VOCAB = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark dup group query row data filter customer "
    "line value agg column vector index shard cache spill plan stage task "
    "job node disk lake bucket prefix object copy load"
).split()

_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_FLAGS = np.array(["A", "N", "R"])
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_DAY_US = 86_400_000_000

EMBED_DIM = 64


def _money(x: np.ndarray) -> pa.Array:
    """DECIMAL(15,2), the TPC-H type of ``o_totalprice``."""
    return pa.array(
        [Decimal(int(c)).scaleb(-2) for c in np.round(x * 100)], pa.decimal128(15, 2)
    )


def orders(seed: int, n_orders: int, n_customers: int = 1500) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    days = rng.integers(0, 2400, n_orders)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_customers, n_orders, dtype=np.int64)),
            "o_orderstatus": pa.array(_STATUS[rng.integers(0, 3, n_orders)]),
            "o_totalprice": _money(rng.uniform(1e3, 5e5, n_orders)),
            "o_orderdate": pa.array(_EPOCH_1992 + days * _DAY_US, pa.timestamp("us", tz="UTC")),
            "o_orderpriority": pa.array(_PRIORITY[rng.integers(0, 5, n_orders)]),
        }
    )


def lineitem(seed: int, n_orders: int, lines_per_order: int = 4) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = n_orders * lines_per_order
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    days = rng.integers(0, 2500, n)
    return pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)),
            "l_partkey": pa.array(rng.integers(0, 2000, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 100, n, dtype=np.int64)),
            "l_linenumber": pa.array(np.tile(np.arange(1, lines_per_order + 1, dtype=np.int32), n_orders)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(_FLAGS[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.where(rng.random(n) < 0.5, "O", "F")),
            "l_shipdate": pa.array(_EPOCH_1992 + days * _DAY_US, pa.timestamp("us", tz="UTC")),
        }
    )


def order_updates(seed: int, orders_tbl: pa.Table, batch: int, share: float) -> pa.Table:
    """One upsert batch: a seeded ``share`` of existing order keys with
    changed payloads plus as many brand-new keys (last-write-wins merge
    input; keys are unique within a batch)."""
    rng = np.random.default_rng([seed, 3, batch])
    n_old = orders_tbl.num_rows
    n_upd = max(1, int(n_old * share))
    old_keys = np.sort(rng.choice(n_old, n_upd, replace=False)).astype(np.int64)
    new_keys = np.arange(n_upd, dtype=np.int64) + (batch + 1) * 10 * n_old
    keys = np.concatenate([old_keys, new_keys])
    n = len(keys)
    days = rng.integers(0, 2400, n)
    return pa.table(
        {
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "o_orderstatus": pa.array(_STATUS[rng.integers(0, 3, n)]),
            "o_totalprice": _money(rng.uniform(1e3, 5e5, n)),
            "o_orderdate": pa.array(_EPOCH_1992 + days * _DAY_US, pa.timestamp("us", tz="UTC")),
            "o_orderpriority": pa.array(_PRIORITY[rng.integers(0, 5, n)]),
        },
        schema=orders_tbl.schema,
    )


def documents(seed: int, n_docs: int) -> pa.Table:
    """A corpus where about a third of the documents belong to small
    near-duplicate families: exact copies, one-word edits (3-shingle
    Jaccard about 0.9, above the 0.8 threshold) and three-word edits
    (below it, so LSH candidates that verification must reject)."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if len(originals) >= 8 and rng.random() < 0.35:
            # copies are made of originals only: families stay stars of
            # diameter <= 2, which keeps the recursive-CTE oracle cheap
            words = texts[originals[int(rng.integers(max(0, len(originals) - 64), len(originals)))]].split()
            n_edits = (0, 1, 1, 3)[int(rng.integers(0, 4))]
            for pos in rng.choice(len(words), n_edits, replace=False):
                words[pos] = str(vocab[rng.integers(0, len(vocab))])
        else:
            originals.append(i)
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(30, 90)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.integers(0, 5, n_docs)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 4, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(seed: int, n_vecs: int, n_labels: int = 10) -> pa.Table:
    rng = np.random.default_rng([seed, 5])
    centers = rng.normal(0.0, 1.0, (n_labels, EMBED_DIM))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_vecs * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def split_slot(seed: int, n_slots: int, id_col: str) -> str:
    """SQL expression (valid in Spark and DuckDB alike) mapping an id to
    one of ``n_slots`` split slots: a seeded affine hash, so each seed
    puts different rows in the base and in each batch. Ids are small
    non-negative longs, so ``%`` needs no sign handling."""
    rng = np.random.default_rng([seed, 6])
    a = int(rng.choice([7, 11, 13, 17, 19, 23, 29, 31]))
    b = int(rng.integers(0, n_slots))
    return f"(({id_col} * {a} + {b}) % {n_slots})"
