"""Seeded retail graph for the served-path benchmark, and the oracles
that check what the server returns against it.

The graph follows the repo's fixture schema (FIXTURES.md): vertex types
`product` and `client`, and one stamped edge type `buys`. Everything is
derived from the seed, so one seed always yields the same rows, the
same CSV bytes and the same statement sequence.
"""

from __future__ import annotations

import datetime as _dt
from pathlib import Path

import numpy as np

NS = 1_000_000_000
DAY = 86_400 * NS
T0 = 1_704_067_200 * NS          # 2024-01-01T00:00:00Z, a day boundary
MASK64 = (1 << 64) - 1

# `full` is the measured size; `tiny` is for the smoke test.
SCALES = {
    "full": {"products": 10_000, "clients": 10_000, "edges": 500_000,
             "days": 60},
    "tiny": {"products": 200, "clients": 200, "edges": 6_000, "days": 6},
}

DDL = [
    "create type product (prod_key uint pk, prod_desc text, "
    "prod_price float)",
    "create type client (client_key uint pk, client_name text)",
    "create edge buys (origin client origin, destin product destin, "
    "stamp time stamp, quantity uint, price float)",
]

EDGE_COLS = "origin, destin, stamp, quantity, price"


def iso(ns: int) -> str:
    """A nowdb time literal for an ns stamp on a whole second."""
    dt = _dt.datetime.fromtimestamp(ns // NS, _dt.timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S")


def price_cents(p: float) -> int:
    return int(round(p * 100))


def edge_checksum(origin, destin, stamp, quantity, price) -> tuple:
    """Per-column checksums of a set of edge rows (numpy arrays):
    row count, then each column's sum mod 2^64 (price in cents)."""
    def s(a):
        return int(a.astype(np.uint64).sum(dtype=np.uint64)) & MASK64
    cents = np.rint(price * 100).astype(np.int64)
    return (len(origin), s(origin), s(destin), s(stamp), s(quantity),
            s(cents))


class RowChecksum:
    """Client-side running checksum over decoded edge rows, in the
    order of EDGE_COLS; comparable with `edge_checksum`."""

    def __init__(self):
        self.n = 0
        self.sums = [0, 0, 0, 0, 0]

    def add(self, rows: list) -> None:
        if not rows:
            return
        self.n += len(rows)
        cols = list(zip(*rows))
        for i in range(4):
            self.sums[i] = (self.sums[i] + sum(cols[i])) & MASK64
        self.sums[4] = (self.sums[4]
                        + sum(price_cents(p) for p in cols[4])) & MASK64

    def value(self) -> tuple:
        return (self.n, *self.sums)


class Retail:
    """The generated graph. Vertex keys are 1..N; edges are uniform
    over clients, products and the stamp range [T0, T0 + days)."""

    def __init__(self, seed: int, scale: str = "full"):
        size = SCALES[scale]
        self.days = size["days"]
        rng = np.random.default_rng([seed, 1])
        npr, ncl, ne = size["products"], size["clients"], size["edges"]
        self.prod_key = np.arange(1, npr + 1, dtype=np.int64)
        self.prod_tag = rng.integers(0, 1 << 30, npr)
        self.prod_price = np.round(rng.uniform(1.0, 100.0, npr), 2)
        self.client_key = np.arange(1, ncl + 1, dtype=np.int64)
        self.client_tag = rng.integers(0, 1 << 30, ncl)
        self.origin = rng.integers(1, ncl + 1, ne)
        self.destin = rng.integers(1, npr + 1, ne)
        self.stamp = T0 + rng.integers(0, self.days * DAY, ne)
        self.quantity = rng.integers(1, 10, ne)
        self.price = np.round(rng.uniform(1.0, 50.0, ne), 2)
        self.t_end = T0 + self.days * DAY

    @property
    def sizes(self) -> dict:
        return {"products": len(self.prod_key),
                "clients": len(self.client_key),
                "edges": len(self.origin), "days": self.days}

    # --- rows as the server stores them --------------------------
    def product_row(self, k: int) -> tuple:
        i = k - 1
        return (k, f"prod_{k}_{self.prod_tag[i]}",
                float(self.prod_price[i]))

    def client_row(self, k: int) -> tuple:
        return (k, f"client_{k}_{self.client_tag[k - 1]}")

    def edges_of(self, origin: int, lo: int, hi: int) -> list:
        """Sorted edge rows of one origin with lo <= stamp < hi."""
        m = ((self.origin == origin) & (self.stamp >= lo)
             & (self.stamp < hi))
        return sorted(zip(self.origin[m].tolist(), self.destin[m].tolist(),
                          self.stamp[m].tolist(), self.quantity[m].tolist(),
                          self.price[m].tolist()))

    def origin_days(self, k: int) -> tuple:
        """(origin, day start) pairs that have exactly k edges."""
        day = (self.stamp - T0) // DAY
        key = self.origin * self.days + day
        keys, counts = np.unique(key, return_counts=True)
        keys = keys[counts == k]
        return keys // self.days, T0 + (keys % self.days) * DAY

    def window_checksum(self, lo: int, hi: int) -> tuple:
        m = (self.stamp >= lo) & (self.stamp < hi)
        return edge_checksum(self.origin[m], self.destin[m], self.stamp[m],
                             self.quantity[m], self.price[m])

    # --- CSV files for LOAD ----------------------------------------
    def write_csvs(self, out: Path) -> dict:
        out.mkdir(parents=True, exist_ok=True)
        files = {}
        rows = (f"{k};prod_{k}_{t};{p!r}" for k, t, p in zip(
            self.prod_key.tolist(), self.prod_tag.tolist(),
            self.prod_price.tolist()))
        files["product"] = _write_lines(out / "product.csv", rows)
        rows = (f"{k};client_{k}_{t}" for k, t in zip(
            self.client_key.tolist(), self.client_tag.tolist()))
        files["client"] = _write_lines(out / "client.csv", rows)
        files["buys"] = write_edges_csv(
            out / "buys.csv", self.origin, self.destin, self.stamp,
            self.quantity, self.price)
        return files


def write_edges_csv(path: Path, origin, destin, stamp, quantity,
                    price) -> Path:
    rows = (f"{o};{d};{s};{q};{p!r}" for o, d, s, q, p in zip(
        origin.tolist(), destin.tolist(), stamp.tolist(),
        quantity.tolist(), price.tolist()))
    return _write_lines(path, rows)


def _write_lines(path: Path, rows) -> Path:
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(r)
            fh.write("\n")
    return path
