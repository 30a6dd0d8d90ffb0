"""Central registry: query name -> (spark callable, optional DuckDB oracle).

__spark_entry__.queries()/oracle_sql() are thin views over this. Modules
contribute (QUERIES, ORACLES) dict pairs; names must be unique, and
queries are listed in registration (module, then dict) order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(queries: dict[str, QueryFn], oracles: dict[str, str]) -> None:
    for name in queries:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
    _QUERIES.update(queries)
    _ORACLES.update(oracles)


def all_queries() -> dict[str, QueryFn]:
    _load()
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    _load()
    return dict(_ORACLES)


_loaded = False


def _load() -> None:
    global _loaded
    if _loaded:
        return
    _loaded = True
    # strict imports: a broken module must fail loudly here, not silently
    # shrink the query set the driver sees
    from . import pipeline_queries, relational_queries, wikitrender_queries

    register(wikitrender_queries.QUERIES, wikitrender_queries.ORACLES)
    register(pipeline_queries.QUERIES, pipeline_queries.ORACLES)
    register(relational_queries.QUERIES, relational_queries.ORACLES)
