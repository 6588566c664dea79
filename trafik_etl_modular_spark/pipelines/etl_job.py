"""The one-shot ETL job: feed → flatten → normalize → MERGE → report
(SURVEY.md §3.1/§3.2 — the reference's `python -m src.cli` and
`run_etl()` entry points, unified into the ONE parameterized pipeline
the reference accidentally split in two).

Reference lifecycle reproduced end-to-end:
  extract   — the first max_pages XML pages via Spark's built-in XML
              reader (ingest.read_feed, S1/S3), flattened; a page that
              does not parse becomes a report warning, not a failure
  transform — normalize_incidents: status, geo, dim join, W1+W2 dedup
  load      — partition-scoped MERGE into the date-partitioned table
              (S5/S6; idempotent — re-running the same feed is a
              no-op by latest-wins)
  report    — the published table's KPIs (A4), summed from the
              sink's manifest without a scan + the row-volume
              anomaly guard on THIS run's batch rows (reference
              cli.py:20-21,94-99: warn when outside [expect_min,
              expect_max]) + wall-clock seconds (F19)

Driver-side observability (the reference's Slack notifier,
notifier.py:43-64) stays OUT of the engine: the returned report dict
is the notification payload; emitting it is the caller's concern.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from trafik_etl_modular_spark.constants import NOW_UTC
# feed_to_flat is re-exported: perfbench/workloads.py imports it from here.
from trafik_etl_modular_spark.pipelines.ingest import (  # noqa: F401
    feed_to_flat,
    ingest,
    read_feed,
)
from trafik_etl_modular_spark.operators.table import table_files
from trafik_etl_modular_spark.pipelines.sink import conform_schema, merge_into_incidents
from trafik_etl_modular_spark.streaming.observability import check_row_volume

# The 13-column public schema (reference load_sqlite.py:6-41 — DDL +
# COLS_13), enforced on every write via conform_schema.
INCIDENTS_DDL = (
    "incident_id string, message string, message_type string, "
    "location_descriptor string, road_number string, county_name string, "
    "county_no int, start_time_utc timestamp, end_time_utc timestamp, "
    "modified_time_utc timestamp, latitude double, longitude double, "
    "status string"
)
COLS_13 = [f.split(" ")[0] for f in INCIDENTS_DDL.split(", ")]


def run_etl(
    spark: SparkSession,
    feed_dir: str,
    sink_path: str,
    county_dim: DataFrame,
    now: str = NOW_UTC,
    max_pages: int = 20,
    expect_min_rows: int = 50,
    expect_max_rows: int = 2000,
) -> dict:
    """Run the full ETL once; return the run report."""
    t0 = time.perf_counter()
    # Pages that do not parse are counted on the raw read, in the
    # MERGE's one execution of the batch; their good neighbours land.
    feed_obs = Observation("feed_pages")
    raw = read_feed(spark, feed_dir, max_pages).observe(
        feed_obs, F.expr("count(_corrupt_record) AS corrupt_records")
    )
    inc = ingest(raw, county_dim, now)
    # schema enforcement at the write boundary: source drift becomes
    # typed NULLs (caught by the anomaly band), never a corrupt table
    updates = conform_schema(inc, INCIDENTS_DDL)
    # Batch metrics ride the MERGE's own action via observe() —
    # CollectMetrics evaluates as rows stream past, so the update
    # batch is NEVER re-scanned for its row count / null-coord tally
    # (at 100 TB a second pass over the batch is real money).  The
    # dashboard KPI below measures the PUBLISHED table instead, read
    # from the sink's manifest.
    obs = Observation("ingest_batch")
    updates = updates.observe(
        obs,
        F.expr("count(1) AS batch_rows"),
        F.expr("count_if(latitude IS NULL) AS batch_null_coords"),
    )
    merge_into_incidents(spark, sink_path, updates)
    batch_metrics = obs.get if obs.get else {"batch_rows": 0, "batch_null_coords": 0}

    # A4 — the published table's KPIs, summed from its manifest: each
    # file's entry carries its row and status counts, so the report
    # scans nothing.  A first run that ingested nothing published no
    # table and reads zero.
    files = table_files(sink_path)
    kpi = {k: sum(e[k] for e in files) for k in ("rows", "pagar", "kommande")}
    batch_rows = int(batch_metrics.get("batch_rows") or 0)
    corrupt = int(feed_obs.get.get("corrupt_records") or 0)
    warnings = [f"{corrupt} malformed feed record(s) skipped"] if corrupt else []
    volume_warning = check_row_volume(batch_rows, expect_min_rows, expect_max_rows)
    return {
        "rows": kpi["rows"],
        "pagar": kpi["pagar"],
        "kommande": kpi["kommande"],
        "batch_rows": batch_rows,
        "batch_null_coords": int(batch_metrics.get("batch_null_coords") or 0),
        "seconds": round(time.perf_counter() - t0, 2),
        "warnings": warnings + ([volume_warning] if volume_warning else []),
    }
