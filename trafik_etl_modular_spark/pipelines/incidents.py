"""The `incidents` relation — the reference's core table (SURVEY.md §1.1),
derived deterministically from the driver's `events` fixture.

The reference's 13-column `incidents` table (DDL at
/root/reference/src/trv/load_sqlite.py:6-25) carries: a stable entity
key, free text, a low-cardinality type, a dimension FK, three UTC
timestamps, and a derived status enum.  The synthetic mapping below
reproduces every one of those semantic shapes from `events` using
only engine-parity expressions (identical results in Spark and any
ANSI engine), so the whole incident query family is oracle-checkable:

  incident_id       := 'INC-' || event_id
  message           := props                     (free text)
  message_type      := event_type               (low cardinality)
  county_no         := user_id % 25, NULL every 10th user  (dim FK + missing)
  start_time_utc    := ts
  end_time_utc      := ts + (event_id % 48) hours, NULL every 7th (open-ended)
  modified_time_utc := ts + (event_id % 90) minutes  (version timestamp)
  status            := F3 derivation vs injected NOW (expired rows dropped, P3)
  county_name       := broadcast join to `nation` (J1) with
                       'Okänt län' coalesce fallback (J2)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trafik_etl_modular_spark.constants import UNKNOWN_COUNTY
from trafik_etl_modular_spark.functions.scalars import derive_status
from trafik_etl_modular_spark.queries.common import SQL_NOW, t


def build_incidents(spark: SparkSession, sf_dir: str, keep_expired: bool = False) -> DataFrame:
    """events → incidents. Narrow (per-row) transforms only — no shuffle.

    The county-name lookup is a broadcast hash join against the
    25-row `nation` dim (reference J1/J2, dict-lookups at
    /root/reference/src/trv/transform.py:78-81 and
    streamlit_app.py:183-188) — broadcast means zero shuffle at any
    fact-table scale.
    """
    ev = t(spark, sf_dir, "events")
    nation = t(spark, sf_dir, "nation")

    inc = ev.select(
        F.concat(F.lit("INC-"), F.col("event_id")).alias("incident_id"),
        F.col("props").alias("message"),
        F.col("event_type").alias("message_type"),
        F.when(F.col("user_id") % 10 == 0, F.lit(None).cast("int"))
        .otherwise((F.col("user_id") % 25).cast("int"))
        .alias("county_no"),
        F.col("ts").alias("start_time_utc"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("timestamp"))
        .otherwise(F.expr("ts + (event_id % 48) * INTERVAL 1 HOUR"))
        .alias("end_time_utc"),
        F.expr("ts + (event_id % 90) * INTERVAL 1 MINUTE").alias("modified_time_utc"),
        F.col("value").alias("severity_value"),
        # WGS84-shaped coordinates with deterministic gaps (reference rows
        # can lack geometry — P9 dropna at streamlit_app.py:250-251, J3
        # imputation at 392-399). Pure integer-derived doubles: identical
        # IEEE results in any engine.
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.lit(55.0) + (F.col("event_id") % 1000) / F.lit(100.0))
        .alias("latitude"),
        F.when(F.col("event_id") % 3 == 0, F.lit(None).cast("double"))
        .otherwise(F.lit(11.0) + (F.col("event_id") % 700) / F.lit(100.0))
        .alias("longitude"),
        F.col("event_id"),
    )
    inc = inc.withColumn(
        "status",
        F.expr(derive_status("start_time_utc", "end_time_utc", SQL_NOW)),
    )
    if not keep_expired:
        # P3 — the reference drops expired rows during normalize
        # (transform.py:68-73): status NULL means end < now.
        inc = inc.filter(F.col("status").isNotNull())

    dim = F.broadcast(nation.select(F.col("n_nationkey"), F.col("n_name")))
    inc = inc.join(dim, inc.county_no == dim.n_nationkey, "left").drop("n_nationkey")
    # J2 — coalesce fallback chain for missing county names.
    inc = inc.withColumn("county_name", F.coalesce(F.col("n_name"), F.lit(UNKNOWN_COUNTY))).drop(
        "n_name"
    )
    return inc


def incidents_cte_sql(keep_expired: bool = False) -> str:
    """DuckDB CTE producing the identical relation (oracle mirror)."""
    status_filter = "" if keep_expired else "WHERE status IS NOT NULL"
    return f"""
incidents AS (
  SELECT i.*, COALESCE(n.n_name, 'Okänt län') AS county_name
  FROM (
    SELECT
      'INC-' || event_id AS incident_id,
      props AS message,
      event_type AS message_type,
      CASE WHEN user_id % 10 = 0 THEN NULL
           ELSE CAST(user_id % 25 AS INTEGER) END AS county_no,
      ts AS start_time_utc,
      CASE WHEN event_id % 7 = 0 THEN NULL
           ELSE ts + (event_id % 48) * INTERVAL 1 HOUR END AS end_time_utc,
      ts + (event_id % 90) * INTERVAL 1 MINUTE AS modified_time_utc,
      value AS severity_value,
      CASE WHEN event_id % 5 = 0 THEN NULL
           ELSE 55.0 + (event_id % 1000) / 100.0 END AS latitude,
      CASE WHEN event_id % 3 = 0 THEN NULL
           ELSE 11.0 + (event_id % 700) / 100.0 END AS longitude,
      event_id,
      CASE
        WHEN ts > {SQL_NOW} THEN 'KOMMANDE'
        WHEN ts <= {SQL_NOW}
             AND (event_id % 7 = 0
                  OR ts + (event_id % 48) * INTERVAL 1 HOUR > {SQL_NOW})
          THEN 'PÅGÅR'
        ELSE NULL
      END AS status
    FROM events
  ) i
  LEFT JOIN nation n ON i.county_no = n.n_nationkey
  {status_filter}
)
"""
