"""MERGE upsert as a pure-DataFrame read-modify-write (operator S7/J6).

The reference's fact MERGE (sql/core/fact/fact_orders.sql:6-105) is
"WHEN MATCHED THEN UPDATE everything, WHEN NOT MATCHED THEN INSERT" on a
composite key — equivalently: keep target rows whose key has no source
match, and take every source row.  On plain Parquet (no Delta in this
environment, SURVEY.md §7.4 decision 1) that is an anti-join + union,
rewritten atomically by the partitioned writers in ``sources.io``.

Scale design: the anti-join shuffles on the merge key — the same key the
fact table is naturally bucketed/partitioned by, so with bucketing both
sides co-locate and the shuffle disappears.  When the daily source slice is
small relative to the target, only the touched date partitions need the
read-modify-write (pair with ``write_partition_overwrite``), so the rewrite
cost is O(day), not O(history).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def merge_upsert(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Upsert ``source`` into ``target`` on ``keys`` (source wins on match).

    Both inputs must share a schema; one row per key in ``source`` is the
    caller's contract (dedupe first — see ``scd2.dedupe_latest``).

    The key side of the anti-join is not ``distinct()``-ed: a left-anti
    join only asks whether a match exists, so duplicate source keys cannot
    change its result, and a distinct would only add an aggregation (and
    its exchange) over the source.
    """
    keys = list(keys)
    untouched = target.join(source.select(keys), on=keys, how="left_anti")
    return untouched.unionByName(source.select(target.columns))
