"""Query registry.

Every operator from SURVEY.md §2.B lands here as a named QuerySpec:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where the
semantics are deterministic) an equivalent DuckDB SQL string the driver
hash-compares against. Naming contract: every computed column is aliased
identically on both sides; floats are rounded to 6 decimals; timestamps
are emitted as epoch-second BIGINTs and dates as 'yyyy-MM-dd' strings so
cross-engine hashing is stable.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, None => rows-only check
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, bench: bool = False):
    """Register a query. Use as @query("name", oracle=SQL)."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, bench)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)
