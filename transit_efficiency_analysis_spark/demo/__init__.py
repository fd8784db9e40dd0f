"""Driver-verifiable demo queries (the ``queries()`` / ``oracle_sql()`` surface).

Each operator from SURVEY.md §2 (plus the LLM-data-pipeline extensions) gets
a named demo: a PySpark callable ``(spark, sf_dir) -> DataFrame`` over the
driver's testdata tables, and — when SQL-expressible — an exact ANSI-SQL twin
that DuckDB runs on the same parquet for the correctness gate.

Register with the ``@demo`` decorator; ``__spark_entry__.py`` re-exports the
registry. Column names are aliased identically on both sides (the driver's
compare sorts columns by name before hashing).

``tests/test_demo_oracle.py`` checks every registered demo on every tier-1
run, one test id per demo: scalar output columns only, no row-at-a-time
Python in the plan, and rows, columns and dtypes equal to its DuckDB
oracle on the test tables (the compare lives in ``tools/verify_local.py``,
which runs the same per-demo check from the command line).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Demo:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → driver does rows-only check


REGISTRY: dict[str, Demo] = {}

_DEMO_MODULES = [
    "recursion",
    "pysource",
    "approx",
    "layout",
    "streamingdemo",
    "retrieval",
    "graphextras",
    "tpchx",
    "corpusops",
    "ingest",
    "sinks",
    "sqlsurface",
    "tpch",
    "dedup",
    "similarity",
    "subqueries",
    "multimodal",
    "pandasudf",
    "windowed",
    "asof",
    "sampling",
    "textprep",
    "semistructured",
    "jdbc",
    "core",
    "timefns",
    "joins",
    "upsert",
    "delay",
    "analytics",
    "windows",
    "setops",
    "textops",
]


def demo(name: str, sql: str | None = None):
    """Register a demo query under ``name`` with an optional DuckDB oracle."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Demo(name, fn, sql)
        return fn

    return deco


def load_registry() -> dict[str, Demo]:
    """Import all demo modules (idempotent) and return the registry in
    registration (module import) order."""
    for mod in _DEMO_MODULES:
        importlib.import_module(f"transit_efficiency_analysis_spark.demo.{mod}")
    return dict(REGISTRY)
