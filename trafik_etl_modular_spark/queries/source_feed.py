"""End-to-end source roundtrip: events fixture → paginated Situation
XML pages (the TRV feed shape) → flattened rows, read two ways: the
Python Data Source in batch, and Spark's XML file source as a stream.
Both are oracle-checked against direct SQL over the same events, which
proves the XML writer/parser/flatten stack loses nothing (S1–S4
parity).
"""

from __future__ import annotations

import os
from xml.sax.saxutils import escape

from pyspark.sql import functions as F

from trafik_etl_modular_spark.operators.partitions import staged_dir
from trafik_etl_modular_spark.pipelines.ingest import explode_situations, feed_reader
from trafik_etl_modular_spark.registry import query
from trafik_etl_modular_spark.sources.xml_feed import register_xml_feed
from trafik_etl_modular_spark.streaming.pipeline import _run_to_memory

_PAGE_SIZE = 500  # reference page size (config.py:24)


def ensure_feed_dir(sf_dir: str) -> str:
    """Stage the events fixture as XML page files
    (:func:`~trafik_etl_modular_spark.operators.partitions.staged_dir`;
    deterministic: events ordered by event_id, 500/page — the
    reference's page size). pyarrow read keeps this Spark-free and
    cheap."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")

    def write(d: str) -> None:
        tbl = pq.read_table(
            src, columns=["event_id", "ts", "user_id", "event_type", "props"]
        )
        rows = sorted(tbl.to_pylist(), key=lambda r: r["event_id"])
        for page_no in range(0, len(rows), _PAGE_SIZE):
            parts = ["<Response>"]
            for r in rows[page_no : page_no + _PAGE_SIZE]:
                iso = r["ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
                parts.append(
                    f"<Situation><Id>S{r['event_id']}</Id>"
                    f"<ModifiedTime>{iso}</ModifiedTime>"
                    f"<PublicationTime>{iso}</PublicationTime>"
                    f"<Deviation><Id>D{r['event_id']}</Id>"
                    f"<Message>{escape(r['props'])}</Message>"
                    f"<MessageType>{escape(r['event_type'])}</MessageType>"
                    f"<CountyNo>{r['user_id'] % 25}</CountyNo>"
                    f"<StartTime>{iso}</StartTime>"
                    f"</Deviation></Situation>"
                )
            parts.append("</Response>")
            name = f"page_{page_no // _PAGE_SIZE:05d}.xml"
            with open(os.path.join(d, name), "w") as f:
                f.write("".join(parts))

    return staged_dir(src, "xml_feed", write)


_ROUNDTRIP_SQL = """
SELECT 'S' || event_id AS situation_id,
       strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS modified_time,
       'D' || event_id AS deviation_id,
       props AS message,
       event_type AS message_type,
       CAST(user_id % 25 AS INTEGER) AS county_no,
       strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS start_time
FROM events
"""
_ROUNDTRIP_COLUMNS = (
    "situation_id",
    "modified_time",
    "deviation_id",
    "message",
    "message_type",
    "county_no",
    "start_time",
)


@query("source_xml_feed_roundtrip", sql=_ROUNDTRIP_SQL, tags=("source",))
def source_xml_feed_roundtrip(spark, sf_dir):
    """events → XML pages → custom DataSource scan → flattened rows.
    Partition planning splits page spans across executors; the oracle
    compares the full roundtrip against the original events."""
    feed_dir = ensure_feed_dir(sf_dir)
    register_xml_feed(spark)
    raw = (
        spark.read.format("xml_feed")
        .option("path", feed_dir)
        .option("maxPages", "100000")
        .load()
    )
    return raw.select(*_ROUNDTRIP_COLUMNS)


@query("source_xml_feed_stream", sql=_ROUNDTRIP_SQL, tags=("source", "streaming"))
def source_xml_feed_stream(spark, sf_dir):
    """The same landing zone consumed as a STREAM through Spark's XML
    file source (`ingest.feed_reader`, the reader `run_etl` uses): the
    offset is the file source's log of pages already seen, and the
    explode is the batch ETL's.  Run to completion here, the stream
    must deliver the rows the Python batch source does — one oracle
    covers both paths."""
    raw = feed_reader(spark.readStream).load(ensure_feed_dir(sf_dir))
    sel = explode_situations(raw).select(*_ROUNDTRIP_COLUMNS)
    return _run_to_memory(sel, "append", no_data_flush=False)


def ensure_evolved_dir(sf_dir: str) -> str:
    """Stage a SCHEMA-EVOLVED parquet directory once per fixture
    (:func:`~trafik_etl_modular_spark.operators.partitions.staged_dir`):
    an old-generation file (o_orderkey, o_totalprice) for even keys and
    a new-generation file that ADDED a column (…, o_year) for odd
    keys — the additive-column evolution every long-lived lake table
    goes through."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "orders.parquet")

    def write(d: str) -> None:
        tbl = pq.read_table(src, columns=["o_orderkey", "o_totalprice", "o_orderdate"])
        keys = tbl["o_orderkey"].to_numpy()
        cols = ["o_orderkey", "o_totalprice"]
        even = tbl.filter(pa.array(keys % 2 == 0)).select(cols)
        odd = tbl.filter(pa.array(keys % 2 == 1))
        odd = odd.select(cols).append_column(
            "o_year", pc.cast(pc.year(odd["o_orderdate"]), pa.int32())
        )
        pq.write_table(even, os.path.join(d, "gen1.parquet"))
        pq.write_table(odd, os.path.join(d, "gen2.parquet"))

    return staged_dir(src, "evolved", write)


def _evolution_sql(sf_dir: str) -> str:
    d = ensure_evolved_dir(sf_dir)
    return f"""
SELECT COALESCE(o_year, -1) AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total_price
FROM read_parquet(['{d}/gen1.parquet', '{d}/gen2.parquet'], union_by_name=true)
GROUP BY 1
ORDER BY order_year
"""


@query("source_schema_evolution_scan", sql=_evolution_sql, tags=("source", "agg"))
def source_schema_evolution_scan(spark, sf_dir):
    """ADDITIVE SCHEMA EVOLUTION scan (S-family): one directory, two
    file generations — the newer one added a column.  Spark reads
    both with ``mergeSchema=true`` (footer-union schema; old files
    null-fill the added column), exactly how a lake table evolves
    without rewrite.  Rollup by the evolved column (old generation →
    the -1 bucket) with exact decimal sums; the oracle is DuckDB's
    ``union_by_name`` read of the same staged files."""
    from trafik_etl_modular_spark.functions.scalars import dsum

    d = ensure_evolved_dir(sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(d)
    return (
        df.groupBy(F.coalesce(F.col("o_year"), F.lit(-1)).alias("order_year"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", 2).alias("total_price"),
        )
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# File-level provenance — the lake-ops audit "which physical file
# contributed how many rows": Spark's `_metadata.file_path` hidden
# column grouped per file, with each file's share of its table.  At
# 100 TB this is the skew/compaction monitor (a file with 100× the
# median rows is a compaction bug; a file with 3 rows is small-file
# creep), computed scan-side with NO extra IO — `_metadata` is
# populated from the reader state, not read from disk.  The per-file
# agg carries one row per (task, file); the share join is a tiny
# per-table total broadcast back.  Oracle: DuckDB's `filename=true`
# exposes the same provenance; basenames align the path spellings.
# ---------------------------------------------------------------------------

_PROV_TABLES = ("orders", "lineitem", "events")


def _provenance_sql(sf_dir: str) -> str:
    parts = []
    for tbl in _PROV_TABLES:
        parts.append(f"""
SELECT '{tbl}' AS table_name,
       regexp_extract(filename, '([^/]+)$', 1) AS file_name,
       COUNT(*) AS n_rows
FROM read_parquet('{sf_dir}/{tbl}.parquet', filename=true)
GROUP BY file_name""")
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH per_file AS ({union}),
tot AS (
  SELECT table_name, SUM(n_rows) AS t_rows FROM per_file GROUP BY table_name
)
SELECT p.table_name, p.file_name, p.n_rows,
       CAST(ROUND(CAST(p.n_rows AS DOUBLE) / CAST(t.t_rows AS DOUBLE) * 1e9)
            AS BIGINT) / 1e9 AS rows_share
FROM per_file p JOIN tot t USING (table_name)
ORDER BY table_name, file_name
"""


@query("source_file_provenance", sql=_provenance_sql, tags=("source", "agg", "dq"))
def source_file_provenance(spark, sf_dir):
    """Per-file row provenance over three fixture tables: basename of
    `_metadata.file_path`, row count, and integer-derived share of
    the table — the compaction/skew audit, zero extra IO."""
    from trafik_etl_modular_spark.catalog import _ensure_session_confs

    _ensure_session_confs(spark)  # events.ts is TIMESTAMP(NANOS)
    frames = []
    for tbl in _PROV_TABLES:
        df = spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
        frames.append(
            df.groupBy(
                F.lit(tbl).alias("table_name"),
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                    "file_name"
                ),
            ).agg(F.count("*").alias("n_rows"))
        )
    per_file = frames[0]
    for f_ in frames[1:]:
        per_file = per_file.unionByName(f_)
    tot = per_file.groupBy("table_name").agg(F.sum("n_rows").alias("t_rows"))
    return (
        per_file.join(F.broadcast(tot), "table_name")
        .select(
            "table_name",
            "file_name",
            "n_rows",
            (
                F.round(
                    F.col("n_rows").cast("double")
                    / F.col("t_rows").cast("double")
                    * F.lit(1e9)
                )
                .cast("bigint")
                .cast("double")
                / F.lit(1e9)
            ).alias("rows_share"),
        )
        .orderBy("table_name", "file_name")
    )
