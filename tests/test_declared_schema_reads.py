"""Every parquet read in the sales pipeline declares its schema.

A ``spark.read.parquet`` without ``.schema(...)`` infers the schema from a
file footer in a Spark job of its own, and raises
``UNABLE_TO_INFER_SCHEMA`` on a table that has no files.  This walks
``plans/sales_domain.py`` with ``ast`` and fails on any ``.parquet(`` call
whose receiver chain (``spark.read.schema(s).parquet(p)``) has no
``.schema(`` call.  No Spark session, no imports of the code itself.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SALES_DOMAIN = os.path.join(
    REPO, "star_schema_etl_airflow_spark", "plans", "sales_domain.py"
)


def _chain(node: ast.AST) -> list[str]:
    """Attribute and method names along a receiver chain, outermost first:
    ``spark.read.schema(s)`` → ``["schema", "read", "spark"]``."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            node = node.func
        else:
            names.append(node.attr)
            node = node.value
    if isinstance(node, ast.Name):
        names.append(node.id)
    return names


def _reads(source: str) -> list[tuple[int, bool]]:
    """(line, declares a schema) of every ``.parquet(`` call that is not a
    write."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"):
            chain = _chain(node.func.value)
            if "write" not in chain:
                out.append((node.lineno, "schema" in chain))
    return out


def test_sales_domain_parquet_reads_declare_a_schema():
    with open(SALES_DOMAIN) as f:
        reads = _reads(f.read())
    assert reads, "no parquet read found: the check has gone stale"
    undeclared = [line for line, declared in reads if not declared]
    assert not undeclared, f"parquet reads without a declared schema at lines {undeclared}"


def test_the_check_flags_an_inferred_read():
    assert _reads(
        "a = spark.read.parquet(p)\n"
        "b = spark.read.schema(s).parquet(p)\n"
        "df.write.mode('overwrite').parquet(p)\n"
    ) == [(1, False), (2, True)]
