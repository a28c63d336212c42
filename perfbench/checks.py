"""Output checks for the pipeline workloads, run outside the timed region.

``observe`` reads the warehouse's parquet files with DuckDB (an engine
independent of the one under test); ``compare`` is pure and matches the
observation against the generator's ground truth, returning one message per
mismatch.  A run date with any mismatch counts as a failed operation.
"""

from __future__ import annotations

import math
import os

DIMS = {"dim_customers": ("customer_id", "customers", "customer_versions"),
        "dim_products": ("product_id", "products", "product_versions")}


def scan(base: str, layer: str, table: str) -> str:
    """DuckDB table expression over one warehouse table's parquet files."""
    return (f"read_parquet('{os.path.join(base, layer, table)}/**/*.parquet', "
            "hive_partitioning = true)")


def observe(con, base: str) -> dict:
    fo = scan(base, "core", "fact_orders")
    dp = scan(base, "core", "dim_products")
    out = {
        "fact_rows": con.execute(f"SELECT COUNT(*) FROM {fo}").fetchone()[0],
        "date_category": {
            (str(d), c): (n, s)
            for d, c, n, s in con.execute(f"""
                SELECT CAST(f.order_date AS DATE), p.category, COUNT(*), SUM(f.item_amount)
                FROM {fo} f JOIN {dp} p USING (product_sk) GROUP BY 1, 2""").fetchall()
        },
    }
    for dim, (key, _, _) in DIMS.items():
        keys, versions, bad_current = con.execute(f"""
            SELECT COUNT(*), SUM(v), SUM(CASE WHEN c = 1 THEN 0 ELSE 1 END) FROM (
              SELECT {key}, COUNT(*) AS v, SUM(CAST(is_current AS INTEGER)) AS c
              FROM {scan(base, "core", dim)} GROUP BY 1)""").fetchone()
        out[dim] = {"keys": keys, "versions": versions, "bad_current": bad_current}
    return out


def compare(obs: dict, truth: dict) -> list[str]:
    errors = []
    if obs["fact_rows"] != truth["fact_rows"]:
        errors.append(f"fact rows {obs['fact_rows']} != {truth['fact_rows']}")
    want, got = truth["date_category"], obs["date_category"]
    for k in sorted(set(want) | set(got)):
        if k not in got or k not in want:
            errors.append(f"(date, category) {k} present on one side only")
            continue
        (gn, gs), (wn, ws) = got[k], want[k]
        if gn != wn or not math.isclose(gs, ws, rel_tol=1e-6, abs_tol=1e-3):
            errors.append(f"{k}: got ({gn}, {gs:.2f}) want ({wn}, {ws:.2f})")
    for dim, (_, n_key, v_key) in DIMS.items():
        o = obs[dim]
        if o["keys"] != truth[n_key]:
            errors.append(f"{dim}: {o['keys']} keys != {truth[n_key]}")
        if o["versions"] != truth[v_key]:
            errors.append(f"{dim}: {o['versions']} versions != {truth[v_key]}")
        if o["bad_current"]:
            errors.append(f"{dim}: {o['bad_current']} keys without exactly one current version")
    return errors
