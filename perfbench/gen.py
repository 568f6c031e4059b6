"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine comes from here, as a pure
function of the seed: the same seed writes byte-identical files.

- ``write_corpus``: one corpus directory with the ten tables the query
  registry reads (region .. embeddings), in the schema, key domains and
  value ranges of the sf0.01 test data (see TESTDATA.md; 0-based keys, orders
  dated 1995-01-01..2001-08-01, near-duplicate documents made by
  appending " dup", unit-norm 64-dim embeddings with 0-based ``vec_id``
  so ``vec_id < N_QUERIES`` still names the fixed query vectors).
- ``EltFeed``: the ELT input stream in the reference's CSV shape
  (orders, shipment_deliveries 1:1 with orders, about 0.72 reviews per
  order). Batch 0 is the initial load; every later batch carries new ids
  above the watermark, replayed rows below it and a few malformed rows,
  and records what it planted so staging counts can be checked exactly.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(
    ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
PART_NAMES = np.array([
    f"{a} {b}"
    for a in ("small", "red", "blue", "hot", "old", "large", "new", "cold")
    for b in ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil",
              "rod")
])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


@dataclass(frozen=True)
class CorpusSize:
    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    lineitems: int = 60000
    events: int = 10000
    users: int = 150
    documents: int = 500
    embeddings: int = 500
    dim: int = 64


def _write(table: pa.Table, path: str) -> None:
    # One row group and no pandas metadata: the test data's layout, and
    # byte-stable for a given seed.
    pq.write_table(table, path, row_group_size=1 << 30)


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    span = (np.datetime64(hi) - np.datetime64(lo)).astype(int) + 1
    d = np.datetime64(lo) + rng.integers(0, span, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def write_corpus(out: str, seed: int, size: CorpusSize = CorpusSize(),
                 stream: int = 0) -> None:
    """Write corpus number ``stream`` of ``seed`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1, stream])
    s = size
    i32, i64 = pa.int32(), pa.int64()

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(s.customers), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.customers), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, s.customers)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s.suppliers), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.suppliers), 2),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(s.parts), i64),
        "p_name": PART_NAMES[rng.integers(0, len(PART_NAMES), s.parts)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
        "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), s.parts)],
        "p_size": pa.array(rng.integers(1, 51, s.parts), i32),
        "p_retailprice": np.round(900 + (np.arange(s.parts) % 1000) * 0.1, 2),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(s.orders), i64),
        "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), i64),
        "o_orderstatus": np.array(["O", "F", "P"])[
            rng.integers(0, 3, s.orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, s.orders), 2),
        "o_orderdate": _days(rng, s.orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, s.orders)],
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, s.orders, s.lineitems), i64),
        "l_partkey": pa.array(rng.integers(0, s.parts, s.lineitems), i64),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, s.lineitems), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, s.lineitems), i32),
        "l_quantity": rng.integers(1, 51, s.lineitems).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, s.lineitems), 2),
        "l_discount": np.round(rng.integers(0, 11, s.lineitems) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, s.lineitems) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, s.lineitems)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, s.lineitems)],
        "l_shipdate": _days(rng, s.lineitems, "1995-01-02", "2001-11-04"),
    }), f"{out}/lineitem.parquet")

    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * 86400 * 10**6, s.events).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": pa.array(np.arange(s.events), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, s.users, s.events), i64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, s.events)],
        "value": np.round(rng.exponential(50, s.events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
    }), f"{out}/events.parquet")

    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), n)])
        for n in rng.integers(10, 100, s.documents)
    ]
    # ~5% near-duplicates: an earlier document with " dup" appended.
    for i in np.flatnonzero(rng.random(s.documents) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(s.documents), i64),
        "text": texts,
        "lang": LANGS[rng.choice(5, s.documents, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(s.documents)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    }), f"{out}/documents.parquet")

    labels = rng.integers(0, 10, s.embeddings)
    cents = rng.normal(0, 1, (10, s.dim))
    vecs = cents[labels] + rng.normal(0, 0.6, (s.embeddings, s.dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(s.embeddings), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    }), f"{out}/embeddings.parquet")


# --------------------------------------------------------------------------
# ELT feed: the reference's three CSVs, delivered in batches.

ORDERS_HEADER = (
    "order_id,customer_id,order_date,product_id,unit_price,quantity,"
    "total_price")
SHIPMENTS_HEADER = "shipment_id,order_id,shipment_date,delivery_date"
REVIEWS_HEADER = "review,product_id"
ELT_FIRST_DAY = dt.date(2021, 1, 1)
ELT_DAYS = (dt.date(2022, 9, 5) - ELT_FIRST_DAY).days + 1
REPLAY_SHARE = 0.1  # of a batch's new orders, re-delivered from earlier ones
MALFORMED_PER_TABLE = 2


@dataclass
class Batch:
    """One delivery: CSV text per table plus what the generator planted."""

    csv: dict[str, str]
    new_orders: int
    replayed: int
    malformed: dict[str, int]
    reviews: int

    @property
    def rows(self) -> int:
        """Input CSV data rows (headers excluded), malformed included."""
        return sum(t.count("\n") - 1 for t in self.csv.values())


@dataclass
class EltFeed:
    """Seeded batch stream. ``batch(i)`` depends only on (seed, i), so the
    union of any prefix of batches is reproducible outside the run."""

    seed: int
    first_orders: int
    batch_orders: int
    _fresh: dict[int, tuple[list[str], list[str]]] = field(
        default_factory=dict, init=False, repr=False)

    def first_id(self, i: int) -> int:
        return 1 if i == 0 else 1 + self.first_orders + (i - 1) * self.batch_orders

    def _size(self, i: int) -> int:
        return self.first_orders if i == 0 else self.batch_orders

    def _new_rows(self, i: int):
        """(rng, orders, shipments, reviews) for batch ``i``'s new ids; the
        rng carries on with the rest of the batch's random draws."""
        rng = np.random.default_rng([self.seed, 2, i])
        ids = np.arange(self.first_id(i), self.first_id(i) + self._size(i))
        n = len(ids)
        day = rng.integers(0, ELT_DAYS, n)
        price = rng.integers(100, 401, n)
        qty = rng.integers(1, 11, n)
        product = rng.integers(1, 26, n)
        orders = [
            f"{oid},{c},{ELT_FIRST_DAY + dt.timedelta(days=int(d))},{p},{u},{q},{u * q}"
            for oid, c, d, p, u, q in zip(
                ids, rng.integers(1, 21, n), day, product, price, qty)
        ]
        ship_lag = rng.integers(0, 9, n)
        ship_null = rng.random(n) < 0.68
        deliv_null = ship_null | (rng.random(n) < 0.32)
        deliv_lag = rng.integers(1, 5, n)
        ships = []
        for oid, d, sn, sl, dn, dl in zip(
                ids, day, ship_null, ship_lag, deliv_null, deliv_lag):
            od = ELT_FIRST_DAY + dt.timedelta(days=int(d))
            sd = "" if sn else str(od + dt.timedelta(days=int(sl)))
            dd = "" if dn else str(od + dt.timedelta(days=int(sl + dl)))
            ships.append(f"{oid},{oid},{sd},{dd}")
        n_rev = rng.binomial(n, 0.72)
        reviews = [
            f"{r},{p}" for r, p in zip(
                rng.integers(1, 6, n_rev), rng.integers(1, 26, n_rev))
        ]
        return rng, orders, ships, reviews

    def batch(self, i: int) -> Batch:
        rng, orders, ships, reviews = self._new_rows(i)
        start = self.first_id(i)
        replayed = 0
        if i > 0:
            # Re-delivered rows from earlier batches: identical bytes, ids
            # at or below the watermark, so the load must skip them.
            replayed = int(self.batch_orders * REPLAY_SHARE)
            ids = np.sort(rng.choice(start - 1, replayed, replace=False)) + 1
            for oid in map(int, ids):
                first = self._batch_of(oid)
                old_orders, old_ships = self._first_delivery(first)
                orders.append(old_orders[oid - self.first_id(first)])
                ships.append(old_ships[oid - self.first_id(first)])
        bad = MALFORMED_PER_TABLE if i > 0 else 0
        for j in range(bad):
            orders.append(f"{start + j},x{j},2022-01-01,1,100,1,100")
            ships.append(f"{start + j},{start + j},2022-13-{40 + j},")
            reviews.append(f"five{j},3")
        perm = rng.permutation
        return Batch(
            csv={
                "orders": _csv(ORDERS_HEADER, [orders[k] for k in perm(len(orders))]),
                "shipment_deliveries": _csv(
                    SHIPMENTS_HEADER, [ships[k] for k in perm(len(ships))]),
                "reviews": _csv(REVIEWS_HEADER, reviews),
            },
            new_orders=self._size(i),
            replayed=replayed,
            malformed={"orders": bad, "shipment_deliveries": bad,
                       "reviews": bad},
            reviews=len(reviews) - bad,
        )

    def _batch_of(self, order_id: int) -> int:
        if order_id <= self.first_orders:
            return 0
        return 1 + (order_id - 1 - self.first_orders) // self.batch_orders

    def _first_delivery(self, i: int) -> tuple[list[str], list[str]]:
        """The order and shipment rows batch ``i`` first delivered."""
        if i not in self._fresh:
            self._fresh[i] = self._new_rows(i)[1:3]
        return self._fresh[i]


def _csv(header: str, rows: list[str]) -> str:
    return header + "\n" + "".join(r + "\n" for r in rows)


def write_batch(batch: Batch, raw_dir: str) -> None:
    os.makedirs(raw_dir, exist_ok=True)
    for table, text in batch.csv.items():
        with open(os.path.join(raw_dir, f"{table}.csv"), "w") as f:
            f.write(text)


def write_union(batches: list[Batch], raw_dir: str) -> None:
    """The one-shot equivalent of ``batches``: every distinct order and
    shipment row once (replays are re-deliveries of the same row), every
    review, and the malformed rows, which any load must reject."""
    os.makedirs(raw_dir, exist_ok=True)
    for table in batches[0].csv:
        rows, seen = [], set()
        for b in batches:
            for line in b.csv[table].splitlines()[1:]:
                if table == "reviews" or line not in seen:
                    seen.add(line)
                    rows.append(line)
        header = batches[0].csv[table].splitlines()[0]
        with open(os.path.join(raw_dir, f"{table}.csv"), "w") as f:
            f.write(_csv(header, rows))
