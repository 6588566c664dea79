"""The dashboard query session (SURVEY.md §3.3, S8).

The reference re-runs six pandas consumers over one SQLite scan per
interaction (streamlit_app.py:149-170, 254-507).  Here one grouping-sets
aggregate over the windowed base is collected as Arrow and split on the
driver into five ``LocalRelation`` widgets (no Spark job, no Python
worker); ``table`` is the base's top-k.  Nothing is cached.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trafik_etl_modular_spark.constants import STATUS_ONGOING, STATUS_UPCOMING
from trafik_etl_modular_spark.pipelines.incidents import build_incidents
from trafik_etl_modular_spark.queries.common import now_ts


def dashboard_session(
    spark: SparkSession,
    sf_dir: str,
    scan_days: int = 30,
    top_counties: int = 10,
    table_rows: int = 100,
) -> dict[str, DataFrame]:
    """The six widgets of one interaction, keyed by name.  The aggregate
    runs here; ``table`` stays lazy.  ``"__base__"`` is S7's windowed
    scan over §3.3's normalize, uncached: there is nothing to release."""
    base = build_incidents(spark, sf_dir).filter(
        F.col("start_time_utc") > now_ts() - F.expr(f"INTERVAL {scan_days} DAYS")
    )
    located = F.col("latitude").isNotNull() & F.col("longitude").isNotNull()
    keys = ["county_name", "date", "message_type"]
    agg = (
        base.withColumn("date", F.to_date("start_time_utc"))
        .groupingSets([[k] for k in keys] + [[]], *keys)
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("count"),
            F.count_if(F.col("status") == STATUS_ONGOING).alias("pagar"),
            F.count_if(F.col("status") == STATUS_UPCOMING).alias("kommande"),
            F.min(F.when(located, F.col("latitude"))).alias("lat_min"),
            F.max(F.when(located, F.col("latitude"))).alias("lat_max"),
            F.min(F.when(located, F.col("longitude"))).alias("lon_min"),
            F.max(F.when(located, F.col("longitude"))).alias("lon_max"),
        )
        .toArrow()
    )

    def grouped(key: str, *order: tuple[str, str], limit: int | None = None) -> DataFrame:
        gid = 7 ^ (4 >> keys.index(key))  # grouping_id: a bit per key not grouped, first key high
        rows = agg.filter(pc.equal(agg["gid"], gid)).select([key, "count"])
        # Spark's ascending order puts nulls first
        rows = rows.sort_by([*order, (key, "ascending")], null_placement="at_start")
        return spark.createDataFrame(rows.slice(0, limit))

    grand = agg.filter(pc.equal(agg["gid"], 7))
    if not grand.num_rows:  # grouping sets give an empty window no () row
        grand = pa.Table.from_pylist([{"count": 0, "pagar": 0, "kommande": 0}], agg.schema)
    grand = grand.append_column("total", grand["count"])
    return {
        "__base__": base,
        "kpis": spark.createDataFrame(grand.select(["pagar", "kommande", "total"])),
        "county_bar": grouped("county_name", ("count", "descending"), limit=top_counties),
        "daily_trend": grouped("date"),
        "type_dist": grouped("message_type", ("count", "descending")),
        "map_viewport": spark.createDataFrame(
            grand.select(["lat_min", "lat_max", "lon_min", "lon_max"])
        ),
        "table": base.orderBy(F.desc("modified_time_utc"), F.asc("incident_id")).limit(table_rows),
    }
