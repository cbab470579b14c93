"""Query registry: the single source of truth for the driver contract.

Each declared capability from SURVEY.md §2.2 registers here with
 - a Spark callable ``(spark, sf_dir) -> DataFrame``,
 - optionally the equivalent DuckDB oracle SQL (None → the driver
   records a weaker rows-only check),
 - parity metadata (float tolerance for genuinely non-bit-exact ops).

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    #: absolute tolerance for float columns in OUR parity tests
    #: (tests/test_parity.py). 0.0 = bit-exact expected — the default,
    #: achieved via exact decimal aggregation (functions/parity.py).
    atol: float = 0.0
    #: included in bench.py's headline set
    headline: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: Optional[str] = None,
    atol: float = 0.0,
    headline: bool = False,
):
    """Decorator registering a query implementation."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, atol, headline)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # import for side effect: populates REGISTRY
    from . import queries as _  # noqa: F401

    return REGISTRY
