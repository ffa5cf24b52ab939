"""Seeded input generator for the pipeline benchmark.

Produces bronze Parquet tables with the schemas and value distributions of
the engine's TPC-H-shaped test data (``orders``, ``lineitem``, ``customer``,
``part``, ``supplier``, ``nation``, ``region``, ``documents``) plus the
``gold_refresh`` delta stream. Everything derives from ``--seed``:

- every surrogate key is shifted by a seed-derived offset, so no two seeds
  share a key and no cache keyed on values carries across seeds;
- every value is drawn from a NumPy ``PCG64`` stream spawned per table;
- files are written by pyarrow with fixed settings, so one seed gives
  byte-identical files.

Bronze is deliberately a little dirty: a small seeded share of orders has
an invalid status or a non-positive price, which the quality rules flag and
the quarantine step isolates. Their exact count is returned so the
benchmark can check ``quality.rows_quarantined``.

Run directly to inspect a seed's manifest::

    python3 perfbench/gen.py --seed 7 --out gen7 --workload nightly_batch
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the test corpus' 31-word vocabulary
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days + 1
SHIP_DAY0 = dt.date(1995, 1, 2)
SHIP_DAYS = (dt.date(2001, 11, 4) - SHIP_DAY0).days + 1
#: share of bronze orders with a bad status / a non-positive price
DIRTY_STATUS_FRAC = 0.004
DIRTY_PRICE_FRAC = 0.003


@dataclass(frozen=True)
class Sizes:
    customers: int = 0
    orders: int = 0
    parts: int = 0
    suppliers: int = 0
    documents: int = 0
    files: int = 1  # files per fact/dimension table (documents: always 1)
    deltas: int = 0
    delta_rows: int = 0


def key_shift(seed: int) -> int:
    """Seed-derived offset added to every surrogate key."""
    return 100_000 * (seed % 9973)


def _ts(day0: dt.date, days: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _orders(rng, keys: np.ndarray, cust_lo: int, cust_n: int, dirty: bool) -> pa.Table:
    n = len(keys)
    status = np.array(STATUSES, dtype=object)[rng.integers(0, 3, n)]
    price = _cents(rng, 1000.0, 500000.0, n)
    if dirty:
        bad = rng.random(n)
        status[bad < DIRTY_STATUS_FRAC] = "X"
        neg = (bad >= DIRTY_STATUS_FRAC) & (bad < DIRTY_STATUS_FRAC + DIRTY_PRICE_FRAC)
        price[neg] = -price[neg]
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(cust_lo + rng.integers(0, cust_n, n), pa.int64()),
            "o_orderstatus": pa.array(status, pa.string()),
            "o_totalprice": pa.array(price, pa.float64()),
            "o_orderdate": _ts(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n)),
            "o_orderpriority": pa.array(
                np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n)], pa.string()
            ),
        }
    )


def _customers(rng, shift: int, n: int) -> pa.Table:
    keys = shift + np.arange(n)
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n), pa.float64()),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n)], pa.string()
            ),
        }
    )


def _dims() -> dict[str, pa.Table]:
    return {
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
    }


def _lineitems(rng, order_keys: np.ndarray, shift: int, s: Sizes) -> pa.Table:
    per = rng.integers(1, 8, len(order_keys))
    okeys = np.repeat(order_keys, per)
    n = len(okeys)
    starts = np.repeat(np.cumsum(per) - per, per)
    return pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(shift + rng.integers(0, s.parts, n), pa.int64()),
            "l_suppkey": pa.array(shift + rng.integers(0, s.suppliers, n), pa.int64()),
            "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(float), pa.float64()),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(
                np.array(("A", "N", "R"), dtype=object)[rng.integers(0, 3, n)], pa.string()
            ),
            "l_linestatus": pa.array(
                np.array(("F", "O"), dtype=object)[rng.integers(0, 2, n)], pa.string()
            ),
            "l_shipdate": _ts(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n)),
        }
    )


def _parts(rng, shift: int, n: int) -> pa.Table:
    adj = np.array(PART_ADJ, dtype=object)[rng.integers(0, 8, n)]
    noun = np.array(PART_NOUN, dtype=object)[rng.integers(0, 8, n)]
    return pa.table(
        {
            "p_partkey": pa.array(shift + np.arange(n), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], pa.string()),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)], pa.string()),
            "p_type": pa.array(
                np.array(PART_TYPES, dtype=object)[rng.integers(0, 6, n)], pa.string()
            ),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array(900.0 + (np.arange(n) % 1000) / 10.0, pa.float64()),
        }
    )


def _suppliers(rng, shift: int, n: int) -> pa.Table:
    keys = shift + np.arange(n)
    return pa.table(
        {
            "s_suppkey": pa.array(keys, pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in keys], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n), pa.float64()),
        }
    )


def _documents(rng, shift: int, n: int) -> pa.Table:
    """Random-vocabulary documents; ~5% are near-duplicates of an earlier
    document (its text plus one appended word)."""
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(shift + np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _delta_orders(rng, first_key: int, shift: int, s: Sizes) -> pa.Table:
    """``s.deltas`` batches of ``s.delta_rows`` orders with a ``delta_id``
    column. Even deltas are key-skewed (customers confined to the lowest
    5% of the key range), odd deltas are uniform over all customers."""
    parts = []
    for d in range(s.deltas):
        cust_n = max(1, s.customers // 20) if d % 2 == 0 else s.customers
        keys = first_key + d * s.delta_rows + np.arange(s.delta_rows)
        t = _orders(rng, keys, shift, cust_n, dirty=False)
        parts.append(t.append_column("delta_id", pa.array(np.full(len(t), d), pa.int32())))
    return pa.concat_tables(parts)


def _write(root: str, name: str, table: pa.Table, files: int) -> dict:
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    paths = []
    for i in range(files):
        p = os.path.join(d, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p, compression="snappy")
        paths.append(p)
    return {"rows": n, "bytes": sum(os.path.getsize(p) for p in paths), "files": files}


#: tables each workload reads
WORKLOAD_TABLES = {
    "nightly_batch": (
        "orders", "lineitem", "customer", "part", "supplier", "nation", "region", "documents"
    ),
    "gold_refresh": ("orders", "customer", "nation", "region", "deltas"),
}


def generate(root: str, seed: int, workload: str, s: Sizes) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``root`` (one
    directory per table). Returns the manifest: per-table rows, bytes and
    files, the key shift, and the injected-row counts the checks use."""
    wanted = WORKLOAD_TABLES[workload]
    ss = np.random.SeedSequence([seed, 20261017])
    rngs = dict(zip(("cust", "ord", "line", "part", "supp", "doc", "delta"), ss.spawn(7)))
    rng = {k: np.random.Generator(np.random.PCG64(v)) for k, v in rngs.items()}
    shift = key_shift(seed)
    tables: dict[str, tuple[pa.Table, int]] = {}
    manifest: dict = {"seed": seed, "workload": workload, "key_shift": shift, "tables": {}}
    if "customer" in wanted:
        tables["customer"] = (_customers(rng["cust"], shift, s.customers), s.files)
        for k, t in _dims().items():
            tables[k] = (t, 1)
    if "orders" in wanted:
        order_keys = shift + np.arange(s.orders)
        orders = _orders(rng["ord"], order_keys, shift, s.customers, dirty=True)
        tables["orders"] = (orders, s.files)
        st = orders.column("o_orderstatus").to_numpy(zero_copy_only=False)
        pr = orders.column("o_totalprice").to_numpy()
        manifest["dirty_orders"] = int(((st == "X") | (pr <= 0)).sum())
        if "lineitem" in wanted:
            tables["lineitem"] = (_lineitems(rng["line"], order_keys, shift, s), s.files)
        if "deltas" in wanted:
            tables["deltas"] = (_delta_orders(rng["delta"], shift + s.orders, shift, s), 1)
    if "part" in wanted:
        tables["part"] = (_parts(rng["part"], shift, s.parts), s.files)
        tables["supplier"] = (_suppliers(rng["supp"], shift, s.suppliers), 1)
    if "documents" in wanted:
        tables["documents"] = (_documents(rng["doc"], shift, s.documents), 1)
    for name, (t, files) in tables.items():
        manifest["tables"][name] = _write(root, name, t, files)
    return manifest


#: input sizes per workload, as shares of the engine's sf0.1 test data:
#: orders and customers 0.13x, documents 0.2x
SIZES = {
    "nightly_batch": Sizes(
        customers=2000, orders=20000, parts=2500, suppliers=150, documents=1000, files=4
    ),
    "gold_refresh": Sizes(customers=2000, orders=20000, files=4, deltas=32, delta_rows=200),
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=sorted(WORKLOAD_TABLES), required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, a.workload, SIZES[a.workload]), indent=1))


if __name__ == "__main__":
    main()
