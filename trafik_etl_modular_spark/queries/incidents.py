"""Incident-domain queries — the reference dashboard's query surface
(SURVEY.md §3.3) over the deterministic incidents relation.

Covers: flagship county×status KPIs (A1+A4+O2), single-pass KPI agg
(A4), daily trend (A2 — a tumbling 1-day event-time window), type
distribution (A3), min/max bounds (A5/A6), status-rank ordering (O1),
and the normalize projection itself (full-row parity check of F3
status derivation + J1/J2 county join).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from trafik_etl_modular_spark.constants import (
    SCAN_WINDOW_DAYS,
    STATUS_ONGOING,
    STATUS_UPCOMING,
)
from trafik_etl_modular_spark.functions.scalars import status_rank
from trafik_etl_modular_spark.pipelines.incidents import build_incidents, incidents_cte_sql
from trafik_etl_modular_spark.queries.common import SQL_NOW, now_ts
from trafik_etl_modular_spark.registry import query

_CTE = "WITH " + incidents_cte_sql()


# ---------------------------------------------------------------------------
# Normalize projection — full-row check of the derivation pipeline.
# ---------------------------------------------------------------------------

_NORMALIZE_SQL = f"""{_CTE}
SELECT incident_id, message, message_type, county_no, county_name,
       start_time_utc, end_time_utc, modified_time_utc, status
FROM incidents
"""


@query("inc_normalize", sql=_NORMALIZE_SQL, tags=("pipeline", "scalar"))
def inc_normalize(spark, sf_dir):
    """The normalize pipeline output itself (F3 + J1/J2 + P3), row-level."""
    return build_incidents(spark, sf_dir).select(
        "incident_id",
        "message",
        "message_type",
        "county_no",
        "county_name",
        "start_time_utc",
        "end_time_utc",
        "modified_time_utc",
        "status",
    )


# ---------------------------------------------------------------------------
# Flagship: incidents per county, ongoing vs upcoming, last 30 days.
# ---------------------------------------------------------------------------

_FLAGSHIP_SQL = f"""{_CTE}
SELECT
  county_name,
  CAST(SUM(CASE WHEN status = 'PÅGÅR' THEN 1 ELSE 0 END) AS BIGINT) AS n_ongoing,
  CAST(SUM(CASE WHEN status = 'KOMMANDE' THEN 1 ELSE 0 END) AS BIGINT) AS n_upcoming,
  COUNT(*) AS n_total
FROM incidents
WHERE start_time_utc >= {SQL_NOW} - INTERVAL {SCAN_WINDOW_DAYS} DAY
GROUP BY county_name
ORDER BY n_total DESC, county_name
LIMIT 10
"""


@query("inc_flagship_county_status", sql=_FLAGSHIP_SQL, tags=("agg", "topk", "flagship"))
def inc_flagship(spark, sf_dir):
    """Scan → recency filter → conditional-count agg → deterministic top-10.

    This is SURVEY.md §7.2's end-to-end slice: parquet scan with the
    30-day predicate pushed down, status case-when, broadcast county
    join, single-pass hash agg with conditional counts, and
    TakeOrderedAndProject for the limit (no global sort).
    """
    inc = build_incidents(spark, sf_dir)
    return (
        inc.filter(
            F.col("start_time_utc") >= now_ts() - F.expr(f"INTERVAL {SCAN_WINDOW_DAYS} DAY")
        )
        .groupBy("county_name")
        .agg(
            F.sum(F.when(F.col("status") == STATUS_ONGOING, 1).otherwise(0))
            .cast("long")
            .alias("n_ongoing"),
            F.sum(F.when(F.col("status") == STATUS_UPCOMING, 1).otherwise(0))
            .cast("long")
            .alias("n_upcoming"),
            F.count("*").alias("n_total"),
        )
        .orderBy(F.desc("n_total"), F.asc("county_name"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# A4 — single-pass global KPI aggregate.
# ---------------------------------------------------------------------------

_KPI_SQL = f"""{_CTE}
SELECT
  CAST(SUM(CASE WHEN status = 'PÅGÅR' THEN 1 ELSE 0 END) AS BIGINT) AS n_ongoing,
  CAST(SUM(CASE WHEN status = 'KOMMANDE' THEN 1 ELSE 0 END) AS BIGINT) AS n_upcoming,
  COUNT(*) AS n_total,
  COUNT(DISTINCT county_no) AS n_counties
FROM incidents
"""


@query("inc_kpi_counts", sql=_KPI_SQL, tags=("agg",))
def inc_kpi(spark, sf_dir):
    """One pass over the data for all dashboard KPIs (reference does
    three separate pandas scans, streamlit_app.py:254-257)."""
    inc = build_incidents(spark, sf_dir)
    return inc.agg(
        F.sum(F.when(F.col("status") == STATUS_ONGOING, 1).otherwise(0))
        .cast("long")
        .alias("n_ongoing"),
        F.sum(F.when(F.col("status") == STATUS_UPCOMING, 1).otherwise(0))
        .cast("long")
        .alias("n_upcoming"),
        F.count("*").alias("n_total"),
        F.countDistinct("county_no").alias("n_counties"),
    )


# ---------------------------------------------------------------------------
# A2 — daily trend: tumbling 1-day event-time window as a batch agg.
# ---------------------------------------------------------------------------

_TREND_SQL = f"""{_CTE}
SELECT CAST(start_time_utc AS DATE) AS day, COUNT(*) AS n
FROM incidents
GROUP BY 1
"""


@query("inc_daily_trend", sql=_TREND_SQL, tags=("agg", "window-time"))
def inc_daily_trend(spark, sf_dir):
    """Per-day counts (reference streamlit_app.py:483-485). In streaming
    form this is `groupBy(window(start_time_utc, '1 day'))` — see
    streaming module."""
    inc = build_incidents(spark, sf_dir)
    return inc.groupBy(F.to_date("start_time_utc").alias("day")).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# A3 — type distribution (value_counts).
# ---------------------------------------------------------------------------

_TYPEDIST_SQL = f"""{_CTE}
SELECT message_type, COUNT(*) AS n
FROM incidents
GROUP BY message_type
"""


@query("inc_type_distribution", sql=_TYPEDIST_SQL, tags=("agg",))
def inc_type_distribution(spark, sf_dir):
    """A4 — incident count per message type (reference dashboard's
    type-distribution chart): the normalize pipeline feeding one
    two-phase hash aggregation on a low-cardinality key."""
    inc = build_incidents(spark, sf_dir)
    return inc.groupBy("message_type").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# A5/A6 — min/max bounds in one pass.
# ---------------------------------------------------------------------------

_BOUNDS_SQL = f"""{_CTE}
SELECT
  MIN(start_time_utc) AS min_start,
  MAX(start_time_utc) AS max_start,
  MIN(severity_value) AS min_value,
  MAX(severity_value) AS max_value
FROM incidents
"""


@query("inc_minmax_bounds", sql=_BOUNDS_SQL, tags=("agg",))
def inc_minmax(spark, sf_dir):
    """Date-picker / viewport bounds (A5+A6) — one aggregate pass."""
    inc = build_incidents(spark, sf_dir)
    return inc.agg(
        F.min("start_time_utc").alias("min_start"),
        F.max("start_time_utc").alias("max_start"),
        F.min("severity_value").alias("min_value"),
        F.max("severity_value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# O1 — status-rank ordering with full deterministic tiebreak.
# ---------------------------------------------------------------------------

_RANKSORT_SQL = f"""{_CTE}
SELECT incident_id, status,
       CASE WHEN status = 'PÅGÅR' THEN 0
            WHEN status = 'KOMMANDE' THEN 1
            ELSE 9 END AS status_rank,
       modified_time_utc
FROM incidents
ORDER BY status_rank ASC, modified_time_utc DESC, incident_id
LIMIT 50
"""


@query("inc_status_rank_order", sql=_RANKSORT_SQL, tags=("sort", "topk"))
def inc_status_rank(spark, sf_dir):
    """Custom-key ordering {PÅGÅR:0, KOMMANDE:1, other:9} (reference
    transform.py:120-127) + recency, with incident_id as the final
    tiebreaker so the LIMIT is deterministic."""
    inc = build_incidents(spark, sf_dir)
    return (
        inc.select(
            "incident_id",
            "status",
            F.expr(status_rank("status")).alias("status_rank"),
            "modified_time_utc",
        )
        .orderBy(F.asc("status_rank"), F.desc("modified_time_utc"), F.asc("incident_id"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# A2 extension — gap-filled daily trend: a dashboard trend line must
# show ZERO on days with no incidents, which a plain GROUP BY silently
# omits. Date spine via sequence+explode over the data's own bounds.
# ---------------------------------------------------------------------------

_TREND_GAPFILL_SQL = f"""{_CTE},
daily AS (
  SELECT CAST(start_time_utc AS DATE) AS day, COUNT(*) AS n
  FROM incidents GROUP BY 1
),
bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
spine AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
)
SELECT s.day, COALESCE(d.n, 0) AS n
FROM spine s LEFT JOIN daily d USING (day)
"""


@query("inc_daily_trend_gapfill", sql=_TREND_GAPFILL_SQL, tags=("agg", "window-time"))
def inc_daily_trend_gapfill(spark, sf_dir):
    """Daily trend with missing days zero-filled: the date spine is
    built ENGINE-SIDE from a one-row bounds aggregate (sequence +
    explode), cross-joined broadcast — no driver collect, no
    hand-materialized calendar. Spine length = day span, so the left
    join is broadcast-sized regardless of fact volume."""
    inc = build_incidents(spark, sf_dir)
    daily = inc.groupBy(F.to_date("start_time_utc").alias("day")).agg(
        F.count("*").alias("n")
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
