"""Storage sink: partitioned parquet table + MERGE-style upsert
(SURVEY.md §2.1 S5/S6 — the lakehouse replacement for SQLite DDL +
B-tree indexes + `INSERT ... ON CONFLICT`).

Layout decisions (§7.1):
  * partition by `event_date = to_date(start_time_utc)` — the
    dashboard's 30-day predicate (S7) becomes partition pruning; the
    reference's `start_time_utc` B-tree index is this, for free.
  * one file per partition per write via repartition on the partition
    key (small-file control, so no separate compaction job); on Delta
    this would be OPTIMIZE/Z-ORDER on `county_name` — parquet min/max
    stats give data skipping on sorted columns.
  * upsert = partition-scoped rewrite of the partitions the updates
    batch lands in plus those holding older versions of its keys
    (union + latest-wins within those), not the whole table — the
    pure-parquet equivalent of Delta `MERGE INTO`, with rewrite
    volume ∝ touched partitions, one row per key and one execution
    of the batch.
  * every write commits one manifest (`operators.table`), so a reader
    sees the whole MERGE or none of it.  Each file's entry also
    counts its rows by status, so the ETL report sums the manifest
    instead of scanning the table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trafik_etl_modular_spark.operators.table import read_table, replace_partitions, table_files
from trafik_etl_modular_spark.queries.dedup import latest_wins


def _status_tallies(df: DataFrame) -> dict[str, str]:
    """The report's per-status counts, kept on each manifest entry of a
    table that has a `status` column."""
    if "status" not in df.columns:
        return {}
    return {"pagar": "status = 'PÅGÅR'", "kommande": "status = 'KOMMANDE'"}


def write_incidents(df: DataFrame, path: str) -> None:
    """Initial load: replace the table with `df`, date-partitioned,
    one file per date."""
    rows = df.withColumn("event_date", F.to_date("start_time_utc"))
    replace_partitions(rows, path, "event_date", None, **_status_tallies(rows))


def read_incidents(spark: SparkSession, path: str) -> DataFrame:
    """The committed snapshot; starts no Spark job."""
    return read_table(spark, path)


def merge_into_incidents(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str = "incident_id",
    order_cols: tuple[str, ...] = ("modified_time_utc",),
) -> None:
    """Partition-scoped MERGE: rewrite only the event_date partitions
    the updates touch.

    1. materialize the tagged batch once: every later step reads that
       copy, so the upstream plan (feed source, normalize) runs once;
    2. collect the rewrite set, a tiny distinct list: the partitions
       the batch lands in, plus those whose rows share a batch key
       (semi-join on the table's `(key, event_date)` projection) — a
       new version that moved to another day must replace its old
       row there, or the table holds the key twice;
    3. read ONLY those partitions (partition pruning via the filter);
    4. union + latest-wins on the key;
    5. ``replace_partitions`` the rewrite set with the result, lazily
       (the write reads the files it replaces; they are deleted only
       after the commit).  A rewrite-set partition whose keys all
       moved to another day gets no rows and leaves the table.  The
       commit is one manifest rename: a crash before it leaves the
       previous snapshot, a crash after it the new one.
    """
    upd = (
        updates.withColumn("event_date", F.to_date("start_time_utc"))
        .withColumn("__src", F.lit(1))
        .localCheckpoint(eager=True)
    )
    # A table with nothing committed merges like an empty one.
    table = read_incidents(spark, path) if table_files(path) else upd.limit(0)
    held = table.join(F.broadcast(upd.select(key)), key, "left_semi")
    dates = upd.select("event_date").union(held.select("event_date"))
    touched = [r[0] for r in dates.distinct().collect()]
    if not touched:
        return

    existing = table.filter(F.col("event_date").isin(touched)).withColumn("__src", F.lit(0))
    merged = existing.unionByName(upd, allowMissingColumns=True)
    ordering = [F.desc(c) for c in order_cols] + [F.desc("__src")]
    resolved = latest_wins(merged, [key], ordering).drop("__src")
    replace_partitions(resolved, path, "event_date", touched, **_status_tallies(resolved))


def conform_schema(df: DataFrame, ddl: str) -> DataFrame:
    """Defensive schema conformance before write (reference
    load_sqlite.py:79-87: missing columns added as NULL, numerics
    coerced with errors='coerce', extras implicitly dropped).

    Spark form: project onto the target schema —
      * missing column → typed NULL,
      * present column → `try_cast` (bad values → NULL, matching
        pandas errors='coerce' under ANSI mode — Spark 4 default —
        where a plain cast would throw),
      * extra columns → dropped by the projection.

    The result ALWAYS matches `ddl` exactly, so upstream schema drift
    (a source adding/renaming fields) cannot corrupt the table — it
    surfaces as NULL counts, which the ETL report's anomaly band
    catches (etl_job.run_etl).
    """
    from pyspark.sql.types import StructType

    target = StructType.fromDDL(ddl)
    cols = []
    have = {f.lower() for f in df.columns}
    for field in target.fields:
        if field.name.lower() in have:
            cols.append(
                F.col(field.name).try_cast(field.dataType).alias(field.name)
            )
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def export_training_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 10_000,
    order_col: str | None = None,
    compression: str | None = None,
) -> dict:
    """Export a training dataset as size-capped JSONL shards — the
    hand-off format for tokenizer/training jobs downstream of the
    pack → materialize pipeline.

    ``maxRecordsPerFile`` caps every shard WITHOUT a global count or
    repartition pass: each write task rolls to a new file at the cap,
    so the write stays one map-only stage at any corpus size (a
    repartition-to-exact-shard-count formulation would add a full
    shuffle of the payload for cosmetic shard numbering).  With
    ``order_col`` the frame is range-partitioned on that column first
    — shard files then hold contiguous key ranges (resumable,
    skippable by range) at the cost of that one shuffle.

    Returns {"n_shards": ..., "n_records": ...} for observability;
    the record count is a line count over the written files (JSONL =
    one record per line, via ``spark.read.text`` — no schema
    inference, no JSON re-parse), so the number reported is the
    number durably on disk.  An empty input writes zero part files;
    that is reported as 0/0 rather than crashing a schema-inferring
    read-back (advisor r3)."""
    writer = df if order_col is None else df.repartitionByRange(F.col(order_col))
    w = writer.write.mode("overwrite").option(
        "maxRecordsPerFile", str(max_records_per_file)
    )
    if compression:
        w = w.option("compression", compression)
    w.json(path)
    import glob as _glob

    n_shards = len(
        [
            f
            for f in _glob.glob(os.path.join(path, "part-*"))
            if not f.endswith(".crc") and os.path.getsize(f) > 0
        ]
    )
    if n_shards == 0:
        return {"n_shards": 0, "n_records": 0}
    n_records = df.sparkSession.read.text(path).count()
    return {"n_shards": n_shards, "n_records": n_records}
