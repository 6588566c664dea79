from __future__ import annotations

from dataclasses import dataclass

import pytest
from pyspark.sql.types import StructType

from trafik_etl_modular_spark import get_spark
from trafik_etl_modular_spark.registry import REGISTRY, _load_all

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@dataclass
class PlannedQuery:
    """What the registry-wide tests assert on, for one query."""

    schema: StructType
    cartesian: bool
    bnlj: bool
    python_nodes: frozenset[str]
    global_windows: list[str]


class RegistryPlans(dict):
    """name → :class:`PlannedQuery` at one sf dir.  Each query is built
    on its first lookup and never again, so a Tier-1 run plans the
    registry once per sf dir, however many tests read it.  A query
    whose build failed raises that exception on every lookup, so the
    failure stays with that query."""

    def __init__(self, spark, sf_dir: str):
        super().__init__()
        self.spark, self.sf_dir = spark, sf_dir
        self.errors: dict[str, Exception] = {}

    def __missing__(self, name: str) -> PlannedQuery:
        from trafik_etl_modular_spark.plans.audit import (
            explain,
            python_nodes,
            unbounded_global_windows,
        )

        if name in self.errors:
            raise self.errors[name]
        _load_all()
        try:
            df = REGISTRY[name].fn(self.spark, self.sf_dir)
            plan = explain(df, "simple")
            planned = PlannedQuery(
                schema=df.schema,
                cartesian="CartesianProduct" in plan,
                bnlj="BroadcastNestedLoopJoin" in plan,
                python_nodes=frozenset(python_nodes(plan)),
                global_windows=unbounded_global_windows(df),
            )
        except Exception as e:
            self.errors[name] = e
            raise
        self[name] = planned
        return planned


@pytest.fixture(scope="session")
def registry_plans(spark):
    """sf dir → :class:`RegistryPlans`, shared by every test in the run."""
    by_dir: dict[str, RegistryPlans] = {}

    def at(sf_dir: str) -> RegistryPlans:
        if sf_dir not in by_dir:
            by_dir[sf_dir] = RegistryPlans(spark, sf_dir)
        return by_dir[sf_dir]

    return at
