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
  * upsert = the reference's keyed `ON CONFLICT(incident_id) DO
    UPDATE`: the driver picks each batch key's winner, then rewrites
    only the partitions the winners land in or leave (a filter on the
    replaced keys and a union with the batch; no window), not the
    whole table — rewrite volume ∝ touched partitions, one row per
    key, one execution of the batch.
  * every write commits one manifest (`operators.table`), so a reader
    sees the whole MERGE or none of it.  Each entry also counts its
    rows by status (kept by arithmetic in the MERGE), so the ETL
    report sums the manifest instead of scanning the table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from trafik_etl_modular_spark.constants import STATUS_ONGOING, STATUS_UPCOMING
from trafik_etl_modular_spark.operators.table import (
    dir_value, read_table, replace_partitions, table_files,
)

# The report's per-status counts, kept on the manifest entries of a
# table that has a `status` column.
_TALLIES = {"pagar": STATUS_ONGOING, "kommande": STATUS_UPCOMING}


def _count(tallies: dict, row: dict, n: int) -> None:
    """Add ``n`` rows like ``row`` to the status counts of its partition."""
    t = tallies.setdefault(dir_value(row["event_date"]), dict.fromkeys(_TALLIES, 0))
    for name, status in _TALLIES.items():
        t[name] += n * (row.get("status") == status)


def _sql(v) -> str:
    """A key or a partition date as a Spark SQL literal."""
    return "NULL" if v is None else "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _in(key: str, keys) -> str:
    """SQL text: ``key`` is one of ``keys`` — false, not NULL, for a
    NULL key, so ``NOT`` keeps that row as an anti-join would.  Spark
    plans the list as a hash set (``INSET``) inside the filter."""
    return f"coalesce(`{key}` IN ({', '.join(map(_sql, keys))}), false)"


def write_incidents(df: DataFrame, path: str) -> None:
    """Initial load: replace the table with `df`, date-partitioned,
    one file per date."""
    rows = df.withColumn("event_date", F.to_date("start_time_utc"))
    tallies = {}
    if "status" in rows.columns:
        for r in rows.groupBy("event_date", "status").count().collect():
            _count(tallies, r.asDict(), r["count"])
    replace_partitions(rows, path, "event_date", None, tallies or None)


def read_incidents(spark: SparkSession, path: str) -> DataFrame:
    """The committed snapshot; starts no Spark job."""
    return read_table(spark, path)


def _batch_wins(new: dict, old: dict, order_cols: tuple[str, ...]) -> bool:
    """Whether the batch row comes first in latest-wins order: each of
    ``order_cols`` descending, NULLs last, then the batch before the
    table (so a tie, or NULL on both sides, goes to the batch)."""
    for c in order_cols:
        n, o = new[c], old[c]
        if n != o:
            return n is not None and (o is None or n > o)
    return True


def merge_into_incidents(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str = "incident_id",
    order_cols: tuple[str, ...] = ("modified_time_utc",),
) -> None:
    """Partition-scoped MERGE, decided on the batch's keys.

    1. materialize the batch once, so the upstream plan (feed source,
       normalize) runs once; its ``Observation`` brings the batch's
       ``(key, event_date, order_cols, status)`` to the driver.  The
       batch must hold one row per key, none NULL, else ``ValueError``
       before anything is written;
    2. one query brings the same columns of the table rows that hold a
       batch key, from every partition (a key may have moved to another
       day): O(batch keys) rows on the driver, never the table;
    3. the batch wins where latest-wins order puts it first; a losing
       batch row is stale.  The touched partitions are the winners'
       dates plus those of the rows they replace;
    4. ``replace_partitions`` the touched partitions with their rows
       minus the replaced keys, union the batch minus the stale keys:
       one shuffle (the write's).  Their status counts are the old
       entries' minus the replaced rows' plus the winners'.

    Each key set is a SQL ``IN`` list, planned as a hash set inside a
    filter: a join with a broadcast relation would cost a Spark job.
    """
    rows = updates.withColumn("event_date", F.to_date("start_time_utc"))
    tallied = "status" in rows.columns
    cols = [key, "event_date", *order_cols, *(["status"] if tallied else [])]
    seen = Observation()
    fields = ", ".join(f"`{c}`" for c in cols)
    upd = rows.observe(seen, F.expr(f"collect_list(struct({fields})) AS rows"))
    upd = upd.localCheckpoint(eager=True)
    batch = [r.asDict() for r in seen.get.get("rows") or []]
    new = {r[key]: r for r in batch}
    if None in new or len(new) < len(batch):
        raise ValueError(f"a MERGE batch needs one row per non-NULL {key}")
    files = table_files(path)
    table = read_incidents(spark, path) if files else None
    old = {}
    if table is not None and new:
        held = table.filter(_in(key, new)).select(*cols)
        old = {r[key]: r.asDict() for r in held.collect()}

    touched, replaced, stale, tallies = set(), [], [], {}
    for k, n in new.items():
        o = old.get(k)
        if o is not None and not _batch_wins(n, o, order_cols):
            stale.append(k)
            continue
        touched.add(n["event_date"])
        _count(tallies, n, 1)
        if o is not None:
            replaced.append(k)
            touched.add(o["event_date"])
            _count(tallies, o, -1)
    if not touched:
        return
    for e in files:  # plus the counts the touched partitions held
        if e["value"] in tallies:
            for name in _TALLIES:
                tallies[e["value"]][name] += e.get(name, 0)
    rows = upd.filter(f"NOT {_in(key, stale)}") if stale else upd
    if table is not None:
        kept = table.filter(" OR ".join(f"event_date <=> {_sql(d)}" for d in touched))
        kept = kept.filter(f"NOT {_in(key, replaced)}") if replaced else kept
        rows = kept.unionByName(rows, allowMissingColumns=True)
    replace_partitions(rows, path, "event_date", list(touched), tallies if tallied else None)


def conform_schema(df: DataFrame, ddl: str) -> DataFrame:
    """Defensive schema conformance before write (reference
    load_sqlite.py:79-87: missing columns added as NULL, numerics
    coerced with errors='coerce', extras implicitly dropped).

    Spark form: one projection onto the target schema —
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
    have = {f.lower() for f in df.columns}
    cols = []
    for f in StructType.fromDDL(ddl).fields:
        t = f.dataType.simpleString()
        src = f"try_cast(`{f.name}` AS {t})" if f.name.lower() in have else f"CAST(NULL AS {t})"
        cols.append(f"{src} AS `{f.name}`")
    return df.selectExpr(*cols)


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
