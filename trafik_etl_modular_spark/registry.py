"""Query registry — the single source of truth for the engine's surface.

Every named query/operator registers BOTH its Spark implementation
and (when SQL-expressible) the equivalent DuckDB oracle SQL in one
place, via the :func:`query` decorator.  The driver contract
(``__spark_entry__.queries`` / ``oracle_sql``) is derived from this
registry, so the two can never drift apart structurally.

Determinism rules every registered query must follow (SURVEY.md §7.4):
  * every computed column aliased identically in Spark and SQL;
  * any LIMIT/top-k carries a full deterministic tiebreaker;
  * `now` is the injected :data:`constants.NOW_UTC` literal;
  * floating aggregates over many rows go through
    :func:`trafik_etl_modular_spark.functions.scalars.dsum`
    (exact decimal sums) so partition-parallel summation cannot
    produce a different value than DuckDB's sequential sum.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# An oracle is either a literal SQL string or a BUILDER
# ``(sf_dir) -> str`` for oracles that must be derived from the
# fixture (e.g. the IVF probe freezes the deterministically-trained
# candidate set into an IN-list).  ``oracle_sql()`` surfaces plain
# strings rendered at DRIVER_SF_DIR; tools/oracle_check.py re-renders
# per sweep sf_dir.
DRIVER_SF_DIR = "/root/testdata/sf0.01"


@dataclass
class Query:
    name: str
    fn: QueryFn
    sql: str | Callable[[str], str] | None  # DuckDB oracle; None → rows-only
    tags: tuple[str, ...] = ()
    doc: str = ""

    def render_sql(self, sf_dir: str) -> str | None:
        return self.sql(sf_dir) if callable(self.sql) else self.sql


REGISTRY: dict[str, Query] = {}

# Modules that register queries on import; ``queries()`` iterates in
# registration order.
_QUERY_MODULES = [
    "trafik_etl_modular_spark.queries.tpch",
    "trafik_etl_modular_spark.queries.tpch_deep",
    "trafik_etl_modular_spark.queries.tpch_partsupp",
    "trafik_etl_modular_spark.queries.incidents",
    "trafik_etl_modular_spark.queries.filters",
    "trafik_etl_modular_spark.queries.aggregates",
    "trafik_etl_modular_spark.queries.windows",
    "trafik_etl_modular_spark.queries.dedup",
    "trafik_etl_modular_spark.queries.events_json",
    "trafik_etl_modular_spark.queries.presentation",
    "trafik_etl_modular_spark.queries.llmdata",
    "trafik_etl_modular_spark.queries.streaming",
    "trafik_etl_modular_spark.queries.source_feed",
    "trafik_etl_modular_spark.queries.skew",
    "trafik_etl_modular_spark.queries.temporal",
    "trafik_etl_modular_spark.queries.dq",
    "trafik_etl_modular_spark.queries.graph",
    "trafik_etl_modular_spark.queries.web",
    "trafik_etl_modular_spark.queries.sketches",
    "trafik_etl_modular_spark.queries.spatial",
    "trafik_etl_modular_spark.queries.incremental_views",
    "trafik_etl_modular_spark.queries.retrieval",
    "trafik_etl_modular_spark.queries.training_prep",
    "trafik_etl_modular_spark.queries.timeseries",
    "trafik_etl_modular_spark.queries.planning",
    "trafik_etl_modular_spark.queries.market",
]


def query(name: str, sql: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, sql=sql, tags=tuple(tags), doc=fn.__doc__ or "")
        return fn

    return deco


def _load_all() -> None:
    # Every listed module must exist and import cleanly — a missing
    # module means lost queries, which must fail loudly, not silently
    # shrink the registry (round-1 lesson: a stale entry hid behind a
    # ModuleNotFoundError swallow).
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: q.fn for name, q in REGISTRY.items()}


def all_oracle_sql(sf_dir: str = DRIVER_SF_DIR) -> dict[str, str]:
    _load_all()
    return {
        name: q.render_sql(sf_dir)
        for name, q in REGISTRY.items()
        if q.sql is not None
    }
