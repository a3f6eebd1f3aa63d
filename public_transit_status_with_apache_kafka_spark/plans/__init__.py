"""Registered query plans.

Each module exposes two dicts keyed by the same names:
  QUERIES: name -> fn(spark: SparkSession, sf_dir: str) -> DataFrame
  ORACLE:  name -> DuckDB SQL string (omitted for non-SQL-expressible ops)

``registry.collect()`` merges all modules for __spark_entry__.py.

Cross-engine conventions (so the driver's value-hash matches):
  - every computed column is aliased identically in Spark and SQL
  - float aggregates are wrapped in round(x, n) on BOTH sides
  - DuckDB sum(int) returns HUGEINT -> always CAST(... AS BIGINT) in oracle
  - no raw timestamp outputs; convert to epoch millis or date strings
  - ranking windows always carry a unique tie-break key
"""

from __future__ import annotations

from importlib import import_module

_MODULES = (
    "relational",
    "joins_aggs",
    "tpch",
    "cta",
    "llm_data",
    "search_queries",
    "streaming_queries",
    "lakehouse",
    "mining",
    "http_sim",
    "analytics2",
)


def register_into(queries: dict, oracle: dict):
    """The ``@_register(name, sql=None)`` decorator each plan module binds
    to its own QUERIES/ORACLE dicts: records the query function, and the
    oracle SQL when one is given."""

    def register(name: str, sql: str | None = None):
        def deco(fn):
            queries[name] = fn
            if sql is not None:
                oracle[name] = sql
            return fn

        return deco

    return register


def collect() -> tuple[dict, dict]:
    queries: dict = {}
    oracle: dict = {}
    for mod_name in _MODULES:
        mod = import_module(f"{__name__}.{mod_name}")
        for k in mod.QUERIES:
            if k in queries:
                raise ValueError(f"duplicate query name {k!r} in {mod_name}")
        queries.update(mod.QUERIES)
        oracle.update(getattr(mod, "ORACLE", {}))
    return queries, oracle
