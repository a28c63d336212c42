"""Point-in-time (as-of) join — the reference's signature non-trivial join.

Reference semantics (sql/core/fact/fact_orders.sql:44-57): resolve the
dimension version valid at the fact's date via

    fact.key = dim.key
    AND fact.date >= dim.effective_date
    AND (dim.expiration_date IS NULL OR fact.date < dim.expiration_date)

i.e. half-open validity ``[effective_date, expiration_date)`` with NULL as
the open end.

Scale design: Catalyst plans the equi-key as the join key (hash or
sort-merge) and the range predicate as a residual filter — so this costs the
same as a plain equi-join plus a cheap filter.  SCD dimensions are
dimension-sized (≪ fact), so the dim side is broadcast: at 100 TB
of facts the fact stream is never shuffled for this join.  A dimension
that outgrew broadcast would drop the hint and let AQE pick a sort-merge
join on the equi key (skew on a hot key is handled by AQE skew splitting;
the residual range filter is unaffected).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def as_of_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str, as_of: str
) -> DataFrame:
    """Inner-join each fact row to the dim version valid at ``fact[as_of]``
    (``dim`` carries ``effective_date`` and ``expiration_date``)."""
    cond = (
        (fact[fact_key] == dim[dim_key])
        & (fact[as_of] >= dim["effective_date"])
        & (dim["expiration_date"].isNull() | (fact[as_of] < dim["expiration_date"]))
    )
    return fact.join(F.broadcast(dim), cond)


def as_of_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Backward as-of join (pandas ``merge_asof`` semantics): attach to each
    left row the ``value_cols`` of the right row with the greatest
    ``right_ts <= left_ts`` for the same ``on`` key; NULLs when no such row.

    Unlike :func:`as_of_join` (which relies on a validity interval already
    materialized on the dim side), this needs no expiration column — and
    unlike the naive ``join + max_by`` it has **no pairwise fan-out**: both
    sides are union-tagged, shuffled ONCE on the key, and resolved with a
    running ``last(ignorenulls)`` window over ``(ts, side)`` — right rows
    sort before left rows at equal timestamps, so an exactly-simultaneous
    right row matches (``<=``).  At 100 TB this is one shuffle + one sort,
    the same cost envelope as a sort-merge join, regardless of how many
    right rows precede each left row.

    The right side must be unique per (key, ts) — duplicate timestamps make
    "the latest row" ambiguous in any engine; pre-aggregate first.
    """
    from pyspark.sql import Window

    lcols = [c for c in left.columns if c not in (on, left_ts)]
    r = right.select(
        on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c) for c in value_cols],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
    )
    l = left.select(
        on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c)
            for c in value_cols
        ],
        *[F.col(c) for c in lcols],
    )
    w = (
        Window.partitionBy(on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        r.unionByName(l)
        .select(
            on,
            "__ts",
            "__side",
            *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
            *lcols,
        )
        .filter(F.col("__side") == 1)
        .withColumnRenamed("__ts", left_ts)
        .drop("__side")
    )
