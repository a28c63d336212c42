"""Seeded landing-zone generator for the sales pipeline benchmark.

Writes customers, products, orders and order_items CSVs into the config's
dated layout (``sources.io.resolve_dated_path``) and keeps the ground truth
the output checks compare against.  Everything is drawn from one
``random.Random(seed)`` in a fixed order, so the same seed gives
byte-identical files.

Invariants the generator keeps, which the output checks rely on:

- every ``order_date`` is on or after the ingest date of the order's
  customer and products, so the inner point-in-time join resolves every
  fact row;
- a customer or product changes at most once per ingest date, and every
  change alters at least one tracked attribute (so each change is exactly
  one new SCD2 version);
- a product never changes category, so per-(date, category) totals do not
  depend on which product version a fact row resolved to.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import struct
from collections import defaultdict
from dataclasses import dataclass, field

FIRST = ["Ada", "Alan", "Grace", "Edsger", "Barbara", "Donald", "Frances",
         "John", "Margaret", "Ken", "Radia", "Tim", "Hedy", "Linus", "Anita"]
LAST = ["Lovelace", "Turing", "Hopper", "Dijkstra", "Liskov", "Knuth",
        "Allen", "Backus", "Hamilton", "Thompson", "Perlman", "Lee", "Borg"]
STREETS = ["Main St", "Oak Ave", "Pine Rd", "Elm St", "Cedar Ln", "Lake Dr",
           "Hill Rd", "Park Ave", "Maple St", "River Rd"]
CITIES = [("Springfield", "IL"), ("Portland", "OR"), ("Austin", "TX"),
          ("Madison", "WI"), ("Boulder", "CO"), ("Salem", "MA"),
          ("Dayton", "OH"), ("Fresno", "CA"), ("Tampa", "FL"), ("Reno", "NV"),
          ("Boise", "ID"), ("Akron", "OH")]
CATEGORIES = ["Electronics", "Books", "Garden", "Toys", "Grocery", "Sports",
              "Beauty", "Automotive"]
NOUNS = ["Widget", "Gadget", "Gizmo", "Doohickey", "Sprocket", "Gear"]
STATUSES = ["complete", "shipped", "pending", "cancelled"]

HEADERS = {
    "customers": "customer_id,first_name,last_name,email,address,city,state,zipcode,created_at",
    "products": "product_id,name,category,price,created_at",
    "orders": "order_id,customer_id,order_date,status,amount,created_at",
    "order_items": "order_item_id,order_id,product_id,quantity,price,created_at",
}


@dataclass(frozen=True)
class DateSpec:
    """What one ingest date lands."""

    run_date: str
    new_customers: int
    new_products: int
    customer_churn: float  # share of existing customers that change
    product_churn: float
    orders: int
    order_days: int = 1  # order_date spread: run_date .. run_date+order_days-1


@dataclass
class Truth:
    """Ground truth accumulated over every generated date."""

    customers: int = 0
    products: int = 0
    customer_versions: int = 0
    product_versions: int = 0
    fact_rows: int = 0
    orders: int = 0
    landing_rows: dict = field(default_factory=dict)   # run_date -> rows
    landing_bytes: dict = field(default_factory=dict)  # run_date -> bytes
    # (order_date iso, category) -> [item rows, sum of item_amount]
    date_category: dict = field(default_factory=lambda: defaultdict(lambda: [0, 0.0]))
    # customer_id -> number of SCD2 versions
    customer_version_count: dict = field(default_factory=lambda: defaultdict(int))
    order_dates: set = field(default_factory=set)

    def snapshot(self) -> dict:
        """Plain-data copy of the counters the per-date check needs."""
        return {
            "customers": self.customers,
            "products": self.products,
            "customer_versions": self.customer_versions,
            "product_versions": self.product_versions,
            "fact_rows": self.fact_rows,
            "date_category": {k: tuple(v) for k, v in self.date_category.items()},
        }


def f32(x: float) -> float:
    """Round through IEEE single precision (the config declares FLOAT)."""
    return struct.unpack("f", struct.pack("f", x))[0]


class LandingGenerator:
    """Stateful generator: call :meth:`land` once per ingest date, in order."""

    def __init__(self, seed: int, base_dir: str, cfg: dict):
        self.rng = random.Random(seed)
        self.base = base_dir
        self.cfg = cfg
        self.truth = Truth()
        self._customers: list[list[str]] = []  # current attribute rows
        self._products: list[list] = []
        self._n_orders = 0
        self._n_items = 0

    # --- entities -------------------------------------------------------
    def _address(self) -> list[str]:
        city, state = self.rng.choice(CITIES)
        return [f"{self.rng.randint(1, 9999)} {self.rng.choice(STREETS)}",
                city, state, f"{self.rng.randint(10000, 99999)}"]

    def _new_customer(self) -> list[str]:
        i = len(self._customers) + 1
        first, last = self.rng.choice(FIRST), self.rng.choice(LAST)
        row = [f"C{i:07d}", first, last, f"{first.lower()}.{last.lower()}{i}@example.com",
               *self._address()]
        self._customers.append(row)
        self.truth.customer_version_count[row[0]] += 1
        return row

    def _move_customer(self, row: list[str]) -> list[str]:
        old = row[4:]
        new = self._address()
        while new == old:
            new = self._address()
        row[4:] = new
        self.truth.customer_version_count[row[0]] += 1
        return row

    def _new_product(self) -> list:
        i = len(self._products) + 1
        row = [f"P{i:06d}", f"{self.rng.choice(NOUNS)} {i}",
               self.rng.choice(CATEGORIES), self._price()]
        self._products.append(row)
        return row

    def _price(self) -> str:
        return f"{self.rng.randint(100, 50000) / 100:.2f}"

    def _reprice(self, row: list) -> list:
        new = self._price()
        while new == row[3]:
            new = self._price()
        row[3] = new
        return row

    # --- one ingest date ------------------------------------------------
    def land(self, spec: DateSpec) -> None:
        rng, t = self.rng, self.truth
        day = dt.date.fromisoformat(spec.run_date)
        stamp = f"{spec.run_date} 06:00:00"

        n_cust, n_prod = len(self._customers), len(self._products)
        changed_c = rng.sample(range(n_cust), int(n_cust * spec.customer_churn))
        changed_p = rng.sample(range(n_prod), int(n_prod * spec.product_churn))
        customers = [self._move_customer(self._customers[i]) for i in sorted(changed_c)]
        customers += [self._new_customer() for _ in range(spec.new_customers)]
        products = [self._reprice(self._products[i]) for i in sorted(changed_p)]
        products += [self._new_product() for _ in range(spec.new_products)]
        if not self._customers or not self._products:
            raise ValueError("the first date must create customers and products")
        t.customers = len(self._customers)
        t.products = len(self._products)
        t.customer_versions += len(customers)
        t.product_versions += len(products)

        orders, items = [], []
        for _ in range(spec.orders):
            self._n_orders += 1
            oid = f"O{self._n_orders:09d}"
            cust = rng.choice(self._customers)[0]
            odate = (day + dt.timedelta(days=rng.randrange(spec.order_days))).isoformat()
            amount = 0.0
            for _ in range(rng.randint(1, 4)):
                self._n_items += 1
                pid, _, category, price = rng.choice(self._products)
                qty = rng.randint(1, 5)
                # Spark multiplies INTEGER by FLOAT in single precision
                item_amount = f32(qty * f32(float(price)))
                amount += item_amount
                items.append([f"I{self._n_items:010d}", oid, pid, qty, price, stamp])
                cell = t.date_category[(odate, category)]
                cell[0] += 1
                cell[1] += item_amount
            orders.append([oid, cust, odate, rng.choice(STATUSES),
                           f"{amount:.2f}", stamp])
            t.order_dates.add(odate)
        t.fact_rows += len(items)
        t.orders += len(orders)

        rows = {
            "customers": [r + [stamp] for r in customers],
            "products": [r + [stamp] for r in products],
            "orders": orders,
            "order_items": items,
        }
        total_bytes = 0
        for table, body in rows.items():
            total_bytes += self._write(table, spec.run_date, body)
        t.landing_rows[spec.run_date] = sum(len(b) for b in rows.values())
        t.landing_bytes[spec.run_date] = total_bytes

    def _write(self, table: str, run_date: str, rows: list[list]) -> int:
        from star_schema_etl_airflow_spark.sources.io import resolve_dated_path

        template = self.cfg["tables"][table]["source"]["path"]
        path = os.path.join(self.base, "landing", resolve_dated_path(template, run_date))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        text = HEADERS[table] + "\n" + "".join(
            ",".join(map(str, r)) + "\n" for r in rows
        )
        data = text.encode()
        with open(path, "wb") as f:
            f.write(data)
        return len(data)


def dates_from(start: str, n: int) -> list[str]:
    d0 = dt.date.fromisoformat(start)
    return [(d0 + dt.timedelta(days=i)).isoformat() for i in range(n)]
