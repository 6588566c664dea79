"""Dashboard session (SURVEY.md §3.3, S8): the six widgets come from one
grouping-sets aggregate and one top-k, with nothing cached, and equal
the per-widget queries they replaced."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from trafik_etl_modular_spark.constants import NOW_UTC
from trafik_etl_modular_spark.pipelines.dashboard import dashboard_session
from trafik_etl_modular_spark.pipelines.incidents import build_incidents
from trafik_etl_modular_spark.plans.audit import PYTHON_PLAN_NODES
from trafik_etl_modular_spark.registry import DRIVER_SF_DIR

CONSUMERS = ("kpis", "county_bar", "daily_trend", "type_dist", "map_viewport", "table")
# plan nodes of a cached relation, a Python scan or UDF, or a pickled
# Python RDD: none may sit behind a widget
FORBIDDEN_NODES = (
    "InMemoryRelation", "PythonScan", "ExistingRDD", "LogicalRDD", *PYTHON_PLAN_NODES
)


def per_widget_reference(spark, sf_dir, scan_days=30, top_counties=10, table_rows=100):
    """The six widgets as separate queries over one windowed base: the
    definitions the fused session replaced (there over a cached base;
    caching does not change a result)."""
    now = F.lit(NOW_UTC).cast("timestamp")
    base = build_incidents(spark, sf_dir).filter(
        F.col("start_time_utc") > now - F.expr(f"INTERVAL {scan_days} DAYS")
    )
    return {
        "kpis": base.agg(
            F.sum(F.when(F.col("status") == "PÅGÅR", 1).otherwise(0)).alias("pagar"),
            F.sum(F.when(F.col("status") == "KOMMANDE", 1).otherwise(0)).alias("kommande"),
            F.count("*").alias("total"),
        ),
        "county_bar": (
            base.groupBy("county_name")
            .agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), F.asc("county_name"))
            .limit(top_counties)
        ),
        "daily_trend": (
            base.groupBy(F.to_date("start_time_utc").alias("date"))
            .agg(F.count("*").alias("count"))
            .orderBy("date")
        ),
        "type_dist": (
            base.groupBy("message_type")
            .agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), F.asc("message_type"))
        ),
        "map_viewport": base.na.drop(subset=["latitude", "longitude"]).agg(
            F.min("latitude").alias("lat_min"),
            F.max("latitude").alias("lat_max"),
            F.min("longitude").alias("lon_min"),
            F.max("longitude").alias("lon_max"),
        ),
        "table": base.orderBy(F.desc("modified_time_utc"), F.asc("incident_id")).limit(
            table_rows
        ),
    }


def _seen(df):
    """Column names, column types (nullability aside) and rows in order."""
    return [(f.name, f.dataType) for f in df.schema], [tuple(r) for r in df.collect()]


@pytest.mark.parametrize(
    "sf, scan_days, top_counties, table_rows",
    [(sf, days, 10, 100) for sf in ("sf0.001", "sf0.01") for days in (7, 14, 30, 365)]
    + [("sf0.01", 30, 3, 5)],
)
def test_dashboard_widgets_match_per_widget_queries(spark, sf, scan_days, top_counties, table_rows):
    sf_dir = os.path.join(os.path.dirname(DRIVER_SF_DIR), sf)
    got = dashboard_session(spark, sf_dir, scan_days, top_counties, table_rows)
    want = per_widget_reference(spark, sf_dir, scan_days, top_counties, table_rows)
    for name in CONSUMERS:
        assert _seen(got[name]) == _seen(want[name]), name


def test_dashboard_empty_window(spark, sf_dir):
    """A window that holds no row: ``kpis`` is one row of zeros, as the
    reference's pandas ``(status == …).sum()`` gives, and
    ``map_viewport`` one row of NULLs; the other widgets are empty."""
    session = dashboard_session(spark, sf_dir, scan_days=-36500)
    kpis = session["kpis"].collect()
    assert len(kpis) == 1
    assert kpis[0]["pagar"] == 0 and kpis[0]["kommande"] == 0 and kpis[0]["total"] == 0
    assert [tuple(r) for r in session["map_viewport"].collect()] == [(None,) * 4]
    for name in ("county_bar", "daily_trend", "type_dist", "table"):
        assert session[name].collect() == [], name


def test_dashboard_runs_one_aggregate_and_one_top_k(spark, sf_dir):
    """One interaction runs at most 8 Spark jobs (19 when each widget
    was its own query over a cached base), and no widget reads a
    cached relation, a Python scan or UDF, or a pickled Python RDD."""
    sc = spark.sparkContext
    group = f"dashboard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one dashboard interaction")
    try:
        session = dashboard_session(spark, sf_dir)
        rows = {name: session[name].collect() for name in CONSUMERS}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 8, f"{len(jobs)} jobs for one interaction"

    for name in CONSUMERS:
        qe = session[name]._jdf.queryExecution()
        plan = f"{qe.analyzed()}\n{qe.optimizedPlan()}\n{qe.executedPlan()}"
        for node in FORBIDDEN_NODES:
            assert node not in plan, f"{name} plans {node}:\n{plan}"

    kpis = rows["kpis"][0]
    assert kpis["total"] == kpis["pagar"] + kpis["kommande"]

    bar = rows["county_bar"]
    assert 0 < len(bar) <= 10
    counts = [r["count"] for r in bar]
    assert counts == sorted(counts, reverse=True)

    trend_total = sum(r["count"] for r in rows["daily_trend"])
    dist_total = sum(r["count"] for r in rows["type_dist"])
    assert trend_total == dist_total == kpis["total"]

    vp = rows["map_viewport"][0]
    assert vp["lat_min"] <= vp["lat_max"] and vp["lon_min"] <= vp["lon_max"]

    assert len(rows["table"]) <= 100


def test_nearest_center_argmin_matches_python(spark, sf_dir):
    """The array_min struct argmin must equal a per-row Python argmin
    over the same 25 center literals, including the county tiebreak,
    and matches_recorded must be exactly (county_no == nearest)."""
    from trafik_etl_modular_spark.queries.filters import _CENTERS, inc_nearest_center

    rows = inc_nearest_center(spark, sf_dir).collect()
    assert rows
    from trafik_etl_modular_spark.pipelines.incidents import build_incidents

    pts = {
        r["incident_id"]: r
        for r in build_incidents(spark, sf_dir)
        .filter("latitude IS NOT NULL AND longitude IS NOT NULL")
        .select("incident_id", "county_no", "latitude", "longitude")
        .collect()
    }
    assert len(rows) == len(pts)
    for r in rows[:200]:
        p = pts[r["incident_id"]]
        best = min(
            ((p["latitude"] - lat) ** 2 + (p["longitude"] - lon) ** 2, no)
            for no, lat, lon in _CENTERS
        )[1]
        assert r["nearest_county_no"] == best
        assert r["matches_recorded"] == (
            p["county_no"] is not None and p["county_no"] == best
        )
