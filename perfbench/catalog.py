"""Registry query specs over a small seeded TPC-H-shaped star.

The ``registry`` layer's headline specs read the repository's TPC-H-shaped
parquet test fixtures.  The benchmark may read only inside its checkout, so it
writes a small star of the same schema itself, from the run's seed, and
runs the headline specs that read only these tables.  Each spec is checked
once per run against its ``registry.oracle_sql()`` query in DuckDB over the
same files, then timed through the ``noop`` sink (every output column is
computed and serialized, nothing is collected).
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import random

from queries import same_rows

# headline specs whose inputs are only the TPC-H-shaped tables below; the
# other headline specs read documents, embeddings, events or media fixtures
SPECS = ("sales_summary", "customer_analytics", "fact_orders", "scd2_apply",
         "j2_pit_join", "q7_volume_shipping")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# about twice the smallest fixture scale (sf0.001)
CUSTOMERS = 300
SUPPLIERS = 20
PARTS = 400
ORDERS = 3000

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("cold", "small", "large", "bright", "steel", "copper")
PART_NOUNS = ("widget", "bolt", "gear", "valve", "spring")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
FIRST_ORDER = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2400  # order dates run to mid-2001


def write_star(seed: int, sf_dir: str) -> None:
    """Write the seven tables as ``<sf_dir>/<table>.parquet``, with the
    column names and types of the repository's test fixtures."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    money = lambda lo, hi: round(rng.uniform(lo, hi), 2)  # noqa: E731
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    cols: dict[str, list[tuple[str, object, list]]] = {}

    cols["region"] = [("r_regionkey", i32, list(range(5))),
                      ("r_name", s, ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]
    cols["nation"] = [("n_nationkey", i32, list(range(25))),
                      ("n_name", s, [f"NATION_{i}" for i in range(25)]),
                      ("n_regionkey", i32, [i % 5 for i in range(25)])]
    cols["customer"] = [
        ("c_custkey", i64, list(range(CUSTOMERS))),
        ("c_name", s, [f"Customer#{i:09d}" for i in range(CUSTOMERS)]),
        ("c_nationkey", i32, [rng.randrange(25) for _ in range(CUSTOMERS)]),
        ("c_acctbal", f64, [money(-999.99, 9999.99) for _ in range(CUSTOMERS)]),
        ("c_mktsegment", s, [rng.choice(SEGMENTS) for _ in range(CUSTOMERS)]),
    ]
    cols["supplier"] = [
        ("s_suppkey", i64, list(range(SUPPLIERS))),
        ("s_name", s, [f"Supplier#{i:09d}" for i in range(SUPPLIERS)]),
        ("s_nationkey", i32, [rng.randrange(25) for _ in range(SUPPLIERS)]),
        ("s_acctbal", f64, [money(-999.99, 9999.99) for _ in range(SUPPLIERS)]),
    ]
    prices = [round(900 + i * 0.1 + rng.randrange(100), 2) for i in range(PARTS)]
    cols["part"] = [
        ("p_partkey", i64, list(range(PARTS))),
        ("p_name", s, [f"{rng.choice(PART_WORDS)} {rng.choice(PART_NOUNS)}"
                       for _ in range(PARTS)]),
        ("p_brand", s, [f"Brand#{rng.randint(1, 25)}" for _ in range(PARTS)]),
        ("p_type", s, [rng.choice(PART_TYPES) for _ in range(PARTS)]),
        ("p_size", i32, [rng.randint(1, 50) for _ in range(PARTS)]),
        ("p_retailprice", f64, prices),
    ]

    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "o_orderdate", "o_orderpriority")}
    items = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                             "l_returnflag", "l_linestatus", "l_shipdate")}
    for ok in range(ORDERS):
        odate = FIRST_ORDER + dt.timedelta(days=rng.randrange(ORDER_DAYS))
        total, statuses = 0.0, set()
        for line in range(1, rng.randint(1, 7) + 1):
            part = rng.randrange(PARTS)
            qty = float(rng.randint(1, 50))
            price = round(qty * prices[part], 2)
            status = rng.choice("OF")
            statuses.add(status)
            total += price
            for k, v in (("l_orderkey", ok), ("l_partkey", part),
                         ("l_suppkey", rng.randrange(SUPPLIERS)), ("l_linenumber", line),
                         ("l_quantity", qty), ("l_extendedprice", price),
                         ("l_discount", rng.randint(0, 10) / 100),
                         ("l_tax", rng.randint(0, 8) / 100),
                         ("l_returnflag", rng.choice("ANR")), ("l_linestatus", status),
                         ("l_shipdate", odate + dt.timedelta(days=rng.randint(1, 121)))):
                items[k].append(v)
        for k, v in (("o_orderkey", ok), ("o_custkey", rng.randrange(CUSTOMERS)),
                     ("o_orderstatus", statuses.pop() if len(statuses) == 1 else "P"),
                     ("o_totalprice", round(total, 2)), ("o_orderdate", odate),
                     ("o_orderpriority", rng.choice(PRIORITIES))):
            orders[k].append(v)
    o_types = (i64, i64, s, f64, ts, s)
    l_types = (i64, i64, i64, i32, f64, f64, f64, f64, s, s, ts)
    cols["orders"] = [(k, t, v) for (k, v), t in zip(orders.items(), o_types)]
    cols["lineitem"] = [(k, t, v) for (k, v), t in zip(items.items(), l_types)]

    os.makedirs(sf_dir, exist_ok=True)
    for table in TABLES:
        schema = pa.schema([(name, typ) for name, typ, _ in cols[table]])
        data = pa.table({name: pa.array(v, typ) for name, typ, v in cols[table]},
                        schema=schema)
        pq.write_table(data, os.path.join(sf_dir, f"{table}.parquet"))


def _canon(v):
    """Spark and DuckDB spell some values differently: DATE against
    TIMESTAMP at midnight, DECIMAL against DOUBLE."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return dt.datetime(v.year, v.month, v.day)
    return v


def _by_name(names: list[str], rows) -> list[tuple]:
    """Rows with columns reordered by name, as the oracle harness compares."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [tuple(_canon(r[i]) for i in order) for r in rows]


def specs() -> dict:
    from star_schema_etl_airflow_spark import registry

    found = {s.name: s for s in registry.specs() if s.name in SPECS}
    return {name: found[name] for name in SPECS}


def check(spark, sf_dir: str, spec) -> str | None:
    """Compare one spec's result with its oracle; None when they agree,
    else a message.  Also the spec's warm-up: it compiles the plan."""
    import duckdb

    df = spec.fn(spark, sf_dir)
    got = _by_name(df.columns, df.collect())
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(spec.oracle)
        want = _by_name([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    if not got:
        return "empty result"
    if not same_rows(got, want):
        return f"{len(got)} rows differ from the oracle's {len(want)}"
    return None


def materialize(spark, sf_dir: str, spec) -> None:
    """One timed execution: every output column through the noop sink."""
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
