"""Seeded input generation: TPC-H-style tables, landing files and drops.

Everything a workload feeds the engine is made here from one integer seed,
so the same seed always yields byte-identical parquet files.  Money is
stored as integer cents, so Spark and DuckDB sums agree exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
WORDS = (
    "lake house stream table batch merge window join key value order customer "
    "nation region price total quantity discount ship return flag status line "
    "spark query plan stage task shuffle file parquet commit offset source sink "
    "quality rule expect drop quarantine change feed history version current "
    "clean raw bronze silver gold view model vector token text search index "
    "data pipeline flow group action load write test check report event log"
).split()
EMB_DIM = 16

ORDERS_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice_cents BIGINT, o_orderdate DATE, o_orderpriority INT"
)
LINEITEM_SCHEMA = (
    "l_orderkey BIGINT, l_linenumber INT, l_quantity BIGINT, "
    "l_extendedprice_cents BIGINT, l_discount_pct INT, l_returnflag STRING, "
    "l_linestatus STRING"
)
CUSTOMER_SCHEMA = (
    "c_custkey BIGINT, c_name STRING, c_nationkey BIGINT, "
    "c_acctbal_cents BIGINT, c_mktsegment STRING, seq BIGINT"
)
DOCS_SCHEMA = "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>"


class Sizes:
    """Row counts at scale factor `sf` (TPC-H ratios, with small floors)."""

    def __init__(self, sf: float):
        self.customers = max(int(150_000 * sf), 60)
        self.orders = max(int(1_500_000 * sf), 600)
        self.docs = max(int(20_000 * sf), 120)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table shifts no other
    return np.random.default_rng([seed, sum(ord(c) * 31 ** i for i, c in enumerate(stream))])


def reference_tables() -> dict[str, pa.Table]:
    return {
        "nation": pa.table({
            "n_nationkey": pa.array(range(len(NATIONS)), pa.int64()),
            "n_name": [n for n, _ in NATIONS],
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int64()),
        }),
        "region": pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int64()),
            "r_name": REGIONS,
        }),
    }


def orders(seed: int, first_key: int, n: int, n_customers: int, stream: str) -> pa.Table:
    """`n` orders with keys first_key.. ; about 2% break a quality rule
    (null customer or non-positive total) and go to the quarantine DLQ."""
    r = _rng(seed, stream)
    cust = r.integers(1, n_customers + 1, n).astype(np.int64)
    total = r.integers(100_00, 400_000_00, n).astype(np.int64)
    bad = r.random(n)
    total[bad < 0.01] = -total[bad < 0.01]
    cust_mask = (bad >= 0.01) & (bad < 0.02)
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n, dtype=np.int64)),
        "o_custkey": pa.array(cust, mask=cust_mask),
        "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, n)]),
        "o_totalprice_cents": pa.array(total),
        "o_orderdate": pa.array(
            (np.datetime64("1995-01-01") + r.integers(0, 1460, n)).astype("datetime64[D]")
        ),
        "o_orderpriority": pa.array(r.integers(1, 6, n).astype(np.int32)),
    })


def lineitem(seed: int, n_orders: int) -> pa.Table:
    r = _rng(seed, "lineitem")
    per = r.integers(1, 8, n_orders)
    n = int(per.sum())
    okey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    return pa.table({
        "l_orderkey": pa.array(okey),
        "l_linenumber": pa.array((np.arange(n) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.int64)),
        "l_extendedprice_cents": pa.array(r.integers(900_00, 100_000_00, n).astype(np.int64)),
        "l_discount_pct": pa.array(r.integers(0, 11, n).astype(np.int32)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
    })


def customer_changes(seed: int, keys: np.ndarray, seq: int, stream: str) -> pa.Table:
    """One change event per key at sequence `seq`.  The balance encodes the
    sequence, so every event differs from the key's previous version and
    opens a new SCD2 row."""
    r = _rng(seed, stream)
    n = len(keys)
    bal = r.integers(-999_99, 9_999_99, n).astype(np.int64) * 1000 + seq
    return pa.table({
        "c_custkey": pa.array(keys.astype(np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(r.integers(0, len(NATIONS), n).astype(np.int64)),
        "c_acctbal_cents": pa.array(bal),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, len(SEGMENTS), n)]),
        "seq": pa.array(np.full(n, seq, dtype=np.int64)),
    })


def documents(seed: int, n: int) -> pa.Table:
    """Lower-case single-spaced texts, a tenth of them exact copies of an
    earlier document, each with a random unit embedding."""
    r = _rng(seed, "docs")
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and r.random() < 0.1:
            texts.append(texts[int(r.integers(0, i))])
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(12, 40)))]))
    emb = r.standard_normal((n, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return pa.table({
        "doc_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "text": pa.array(texts),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
    })


def _write_parts(table: pa.Table, directory: str, prefix: str, parts: int) -> None:
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(directory, f"{prefix}_{i:03d}.parquet")
        )


# a drop: new orders worth 2 % of the base orders, changes to 1 % of the customers
DROP_ORDER_FRAC = 0.02
DROP_CUSTOMER_FRAC = 0.01


class Landing:
    """The landing zone and reference tables one workload run reads.

    `base()` lands the initial files; `drop(k)` lands incremental drop k
    (an order file with fresh keys and one customer-change file, sized by
    DROP_ORDER_FRAC and DROP_CUSTOMER_FRAC).  Every
    file written is also kept in memory, so the DuckDB oracle checks the
    engine against exactly what was landed."""

    def __init__(self, root: str, seed: int, sf: float):
        self.root = root
        self.seed = seed
        self.sizes = Sizes(sf)
        self.next_orderkey = 1
        self.landed: dict[str, list[pa.Table]] = {"orders": [], "customers": []}
        self.ref = reference_tables()

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def base(self) -> None:
        s = self.sizes
        os.makedirs(self.path("ref"), exist_ok=True)
        for name, t in self.ref.items():
            pq.write_table(t, self.path("ref", f"{name}.parquet"))
        o = orders(self.seed, 1, s.orders, s.customers, "orders")
        self.next_orderkey = s.orders + 1
        _write_parts(o, self.path("land", "orders"), "orders_base", 4)
        self.landed["orders"].append(o)
        keys = np.arange(1, s.customers + 1)
        c0 = customer_changes(self.seed, keys, 1, "cust_base")
        upd = _rng(self.seed, "cust_upd_keys").choice(keys, size=max(s.customers // 10, 5), replace=False)
        c1 = customer_changes(self.seed, np.sort(upd), 2, "cust_upd")
        _write_parts(c0, self.path("land", "customers"), "cust_base", 2)
        _write_parts(c1, self.path("land", "customers"), "cust_upd", 1)
        self.landed["customers"] += [c0, c1]
        self.landed["lineitem"] = [lineitem(self.seed, s.orders)]
        _write_parts(self.landed["lineitem"][0], self.path("land", "lineitem"), "lineitem", 4)
        self.landed["docs"] = [documents(self.seed, s.docs)]
        _write_parts(self.landed["docs"][0], self.path("land", "docs"), "docs", 2)

    def drop(self, k: int) -> None:
        """Land drop `k` (k >= 1): new orders plus changes to existing customers."""
        s = self.sizes
        n = max(int(s.orders * DROP_ORDER_FRAC), 10)
        o = orders(self.seed, self.next_orderkey, n, s.customers, f"orders_drop_{k}")
        self.next_orderkey += n
        keys = _rng(self.seed, f"cust_drop_keys_{k}").choice(
            np.arange(1, s.customers + 1), size=max(int(s.customers * DROP_CUSTOMER_FRAC), 3), replace=False
        )
        c = customer_changes(self.seed, np.sort(keys), 2 + k, f"cust_drop_{k}")
        _write_parts(o, self.path("land", "orders"), f"orders_drop_{k:04d}", 1)
        _write_parts(c, self.path("land", "customers"), f"cust_drop_{k:04d}", 1)
        self.landed["orders"].append(o)
        self.landed["customers"].append(c)

    def bytes_landed(self) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.path("land")):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total
