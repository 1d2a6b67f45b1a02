"""Seeded input generators.

Every input of every workload comes from here, as a pure function of the
seed: the same seed gives byte-identical tables, operation schedules and
document streams.  The schemas follow the engine's TPC-H-like test data
(``orders``, ``lineitem``, ``documents``); the values are synthetic, so
the benchmark needs no files outside its own checkout.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

# The 31-word vocabulary of the engine's ``documents`` test table.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_RETURNFLAG = np.array(["A", "N", "R"])
_LINESTATUS = np.array(["F", "O"])
_EPOCH = dt.date(1992, 1, 1)
_DAYS = 2400  # 1992-01-01 .. 1998-07-28


def rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose), so adding a draw to
    one purpose never shifts the values another purpose sees."""
    salt = sum((i + 1) * ord(c) for i, c in enumerate(stream))
    return np.random.default_rng([int(seed), salt])


def _dates(r: np.random.Generator, n: int) -> pa.Array:
    days = r.integers(0, _DAYS, n) + (_EPOCH - dt.date(1970, 1, 1)).days
    return pa.array(days.astype("int32"), pa.date32())


def _money(r: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    # whole cents, so a value printed with two decimals parses back exactly
    return np.round(r.uniform(lo, hi, n), 2)


def orders(seed: int, n: int) -> pa.Table:
    """``orders``-shaped rows with keys ``1 .. n`` (shuffled)."""
    r = rng(seed, "orders")
    keys = r.permutation(n).astype("int64") + 1
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(r.integers(1, 15_001, n), pa.int64()),
            "o_orderstatus": pa.array(_STATUS[r.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(r, n, 900.0, 450_000.0)),
            "o_orderdate": _dates(r, n),
            "o_orderpriority": pa.array(_PRIORITY[r.integers(0, 5, n)]),
        }
    )


def lineitem(seed: int, n: int, n_orders: int, stream: str) -> pa.Table:
    """``lineitem``-shaped rows whose ``l_orderkey`` falls in
    ``1 .. n_orders`` (so joins to :func:`orders` of that size match)."""
    r = rng(seed, stream)
    qty = r.integers(1, 51, n).astype("float64")
    price = np.round(qty * r.uniform(900.0, 2100.0, n), 2)
    return pa.table(
        {
            "l_orderkey": pa.array(r.integers(1, n_orders + 1, n), pa.int64()),
            "l_partkey": pa.array(r.integers(1, 20_001, n), pa.int64()),
            "l_suppkey": pa.array(r.integers(1, 1_001, n), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n).astype("int32"), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(_RETURNFLAG[r.integers(0, 3, n)]),
            "l_linestatus": pa.array(_LINESTATUS[r.integers(0, 2, n)]),
            "l_shipdate": _dates(r, n),
        }
    )


def random_text(r: np.random.Generator, lo: int = 30, hi: int = 70) -> str:
    return " ".join(VOCAB[i] for i in r.integers(0, len(VOCAB), int(r.integers(lo, hi))))


def mutate(r: np.random.Generator, text: str, n_edits: int) -> str:
    """A near-duplicate: ``n_edits`` single-word substitutions at distinct
    positions.  Each edit changes at most three 3-word shingles, so on a
    30..70-word document three edits keep the shingle Jaccard well above
    0.4 while a random document pair stays near 0."""
    words = text.split()
    for pos in r.choice(len(words), size=min(n_edits, len(words)), replace=False):
        choices = [w for w in VOCAB if w != words[pos]]
        words[pos] = choices[int(r.integers(0, len(choices)))]
    return " ".join(words)
