"""Python Data Source + UDTF paginated XML feed (SURVEY.md S1-S4/U4),
the feed as a stream over Spark's XML file source, and the partitioned
sink with MERGE compaction (S5/S6)."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from pyspark.sql import functions as F

from trafik_etl_modular_spark.pipelines.ingest import feed_reader
from trafik_etl_modular_spark.sources.xml_feed import (
    fetch_with_retry,
    make_pages_udtf,
    parse_situation_xml,
    register_xml_feed,
)

PAGE_TMPL = """<Response><Situation>
  <Id>S{p}A</Id><ModifiedTime>2024-01-1{p}T08:00:00Z</ModifiedTime>
  <PublicationTime>2024-01-1{p}T07:00:00Z</PublicationTime>
  <Deviation><Id>D{p}1</Id><Message>Roadwork {p}</Message>
    <MessageType>Roadwork</MessageType><LocationDescriptor>E6</LocationDescriptor>
    <RoadNumber>E6</RoadNumber><CountyNo>14</CountyNo>
    <StartTime>2024-01-1{p}T00:00:00Z</StartTime>
    <Geometry><WGS84>POINT (11.97 57.70)</WGS84></Geometry>
  </Deviation>
  <Deviation><Id>D{p}2</Id><Message>Accident {p}</Message>
    <MessageType>Accident</MessageType><CountyNo>1</CountyNo>
    <StartTime>2024-01-1{p}T06:00:00Z</StartTime>
  </Deviation>
</Situation>
<Situation><Id>S{p}B</Id><ModifiedTime>2024-01-1{p}T09:00:00Z</ModifiedTime>
  <PublicationTime>2024-01-1{p}T08:30:00Z</PublicationTime>
</Situation></Response>"""


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("xml_feed")
    for p in range(1, 5):
        (d / f"page_{p:03d}.xml").write_text(PAGE_TMPL.format(p=p))
    return str(d)


def test_parse_xml_flatten_semantics():
    rows = parse_situation_xml(PAGE_TMPL.format(p=1), page=0)
    # 2 deviations from S1A; S1B (no deviations) vanishes — inner explode
    assert len(rows) == 2
    sids = {r[0] for r in rows}
    assert sids == {"S1A"}
    # parent fields repeated, missing fields None
    assert rows[0][1] == "2024-01-11T08:00:00Z"
    assert rows[1][10] is None  # D12 has no EndTime
    assert rows[0][11] == "POINT (11.97 57.70)"  # nested Geometry/WGS84


def test_fetch_retry_recovers():
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise ConnectionError("503")
        return "<ok/>"

    assert fetch_with_retry(flaky) == "<ok/>"
    assert attempts["n"] == 3

    with pytest.raises(RuntimeError, match="after 5 attempts"):
        fetch_with_retry(lambda: (_ for _ in ()).throw(ConnectionError("down")))


def test_datasource_reads_pages_in_partitions(spark, feed_dir):
    register_xml_feed(spark)
    df = (
        spark.read.format("xml_feed")
        .option("path", feed_dir)
        .option("pagesPerSplit", "2")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 8  # 4 pages × 2 deviations
    assert df.select("page").distinct().count() == 4
    # the source plans multiple partitions (page spans)
    assert df.rdd.getNumPartitions() == 2


def test_udtf_pagination_with_seen_ids(spark, feed_dir):
    spark.udtf.register("read_pages", make_pages_udtf())
    out = spark.sql(f"SELECT * FROM read_pages('{feed_dir}', 20)").collect()
    assert len(out) == 8
    assert {r["deviation_id"] for r in out} == {
        f"D{p}{i}" for p in range(1, 5) for i in (1, 2)
    }


def test_partitioned_sink_and_merge(spark, tmp_path):
    from trafik_etl_modular_spark.pipelines.sink import (
        merge_into_incidents,
        read_incidents,
        write_incidents,
    )

    path = str(tmp_path / "incidents_tbl")
    base = spark.createDataFrame(
        [
            ("A", "2024-01-10 08:00:00", "2024-01-10 08:00:00", 1.0),
            ("B", "2024-01-10 09:00:00", "2024-01-10 09:00:00", 2.0),
            ("C", "2024-01-11 09:00:00", "2024-01-11 09:00:00", 3.0),
            ("E", "2024-01-09 09:00:00", "2024-01-09 09:00:00", 5.0),
        ],
        "incident_id string, start_time_utc string, modified_time_utc string, v double",
    ).withColumn("start_time_utc", F.col("start_time_utc").cast("timestamp"))
    write_incidents(base, path)

    # partition directories exist (date-partitioned layout)
    assert glob.glob(os.path.join(path, "event_date=2024-01-10"))

    updates = spark.createDataFrame(
        [
            ("C", "2024-01-11 09:00:00", "2024-01-12 00:00:00", 30.0),  # newer version
            ("D", "2024-01-12 11:00:00", "2024-01-12 00:00:00", 4.0),  # new key
            # new versions whose start moved to a day the batch does not
            # otherwise touch: A leaves B behind, E leaves its day empty
            ("A", "2024-01-11 08:00:00", "2024-01-12 00:00:00", 10.0),
            ("E", "2024-01-11 10:00:00", "2024-01-12 00:00:00", 50.0),
        ],
        "incident_id string, start_time_utc string, modified_time_utc string, v double",
    ).withColumn("start_time_utc", F.col("start_time_utc").cast("timestamp"))
    merge_into_incidents(spark, path, updates)

    rows = read_incidents(spark, path).collect()
    ids = [r["incident_id"] for r in rows]
    assert len(ids) == len(set(ids)), sorted(
        (r["incident_id"], r["v"], str(r["event_date"])) for r in rows
    )
    got = {r["incident_id"]: (r["v"], str(r["event_date"])) for r in rows}
    assert got == {
        "A": (10.0, "2024-01-11"),
        "B": (2.0, "2024-01-10"),
        "C": (30.0, "2024-01-11"),
        "D": (4.0, "2024-01-12"),
        "E": (50.0, "2024-01-11"),
    }


def test_merge_evaluates_its_batch_once(spark, tmp_path):
    """The MERGE executes its batch once: the touched-partition collect
    and the rewrite read one materialized copy, so an upstream plan
    (the feed source, the normalize windows) runs once per batch.  A
    Python UDF filter on the key counts evaluated rows."""
    from trafik_etl_modular_spark.pipelines.sink import (
        merge_into_incidents,
        write_incidents,
    )

    schema = "incident_id string, start_time_utc string, modified_time_utc string, v double"

    def rows(*data):
        return spark.createDataFrame(list(data), schema).withColumn(
            "start_time_utc", F.col("start_time_utc").cast("timestamp")
        )

    path = str(tmp_path / "incidents_tbl")
    write_incidents(rows(("A", "2024-01-10 08:00:00", "2024-01-10 08:00:00", 1.0)), path)

    evaluated = spark.sparkContext.accumulator(0)

    def count_row(key):
        evaluated.add(1)
        return True

    counted = F.udf(count_row, "boolean").asNondeterministic()
    batch = rows(
        ("A", "2024-01-10 08:00:00", "2024-01-12 00:00:00", 10.0),
        ("B", "2024-01-11 08:00:00", "2024-01-12 00:00:00", 2.0),
        ("C", "2024-01-12 08:00:00", "2024-01-12 00:00:00", 3.0),
    ).filter(counted("incident_id"))
    merge_into_incidents(spark, path, batch)
    assert evaluated.value == 3


def test_merge_leaves_session_overwrite_mode_alone(spark, tmp_path):
    """A MERGE sets no session conf: after a merge, the partition
    overwrite mode is unchanged, and a whole-table write still
    replaces every partition."""
    from trafik_etl_modular_spark.pipelines.sink import (
        merge_into_incidents,
        read_incidents,
        write_incidents,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    schema = "incident_id string, start_time_utc string, modified_time_utc string, v double"

    def rows(*data):
        return spark.createDataFrame(list(data), schema).withColumn(
            "start_time_utc", F.col("start_time_utc").cast("timestamp")
        )

    path = str(tmp_path / "incidents_tbl")
    write_incidents(
        rows(
            ("A", "2024-01-10 08:00:00", "2024-01-10 08:00:00", 1.0),
            ("B", "2024-01-11 08:00:00", "2024-01-11 08:00:00", 2.0),
        ),
        path,
    )
    before = spark.conf.get(key)
    merge_into_incidents(
        spark, path, rows(("B", "2024-01-11 08:00:00", "2024-01-12 00:00:00", 20.0))
    )
    assert spark.conf.get(key) == before

    write_incidents(rows(("C", "2024-01-12 08:00:00", "2024-01-12 08:00:00", 3.0)), path)
    assert [r["incident_id"] for r in read_incidents(spark, path).collect()] == ["C"]


def test_centroid_udf_and_hybrid(spark):
    from trafik_etl_modular_spark.functions.geo import centroid_lat_lon

    df = spark.createDataFrame(
        [
            ("POINT (11.97 57.70)",),
            ("LINESTRING (10.0 50.0, 12.0 52.0)",),
            ("garbage",),
            (None,),
        ],
        "g string",
    )
    lat, lon = centroid_lat_lon("g")
    out = df.select(lat.alias("lat"), lon.alias("lon")).collect()
    assert (out[0]["lat"], out[0]["lon"]) == (57.70, 11.97)  # JVM fast path
    assert (out[1]["lat"], out[1]["lon"]) == (51.0, 11.0)  # vertex mean
    assert out[2]["lat"] is None and out[3]["lat"] is None


def test_compaction_reduces_files_preserves_data(spark, tmp_path):
    from trafik_etl_modular_spark.operators.table import read_table, replace_partitions

    path = str(tmp_path / "fragmented")
    df = spark.createDataFrame(
        [(f"I{i}", "2024-01-10 08:00:00", float(i)) for i in range(500)],
        "incident_id string, start_time_utc string, v double",
    ).withColumn("start_time_utc", F.col("start_time_utc").cast("timestamp"))
    df = df.withColumn("event_date", F.to_date("start_time_utc"))
    # simulate many-small-files from repeated micro-batch merges: 12
    # appends, one file each
    for k in range(12):
        part = df.filter(F.abs(F.hash("incident_id")) % 12 == k)
        replace_partitions(part, path, "event_date", [])
    before = glob.glob(os.path.join(path, "event_date=2024-01-10", "*.parquet"))
    assert len(before) == 12

    replace_partitions(read_table(spark, path), path, "event_date", ["2024-01-10"])
    after = glob.glob(os.path.join(path, "event_date=2024-01-10", "*.parquet"))
    assert len(after) == 1

    got = read_table(spark, path).collect()
    assert len(got) == 500
    assert {r["incident_id"] for r in got} == {f"I{i}" for i in range(500)}


def _listing(path: str) -> list[str]:
    """Every file and directory under `path`, hidden ones included."""
    return sorted(
        os.path.relpath(os.path.join(d, n), path)
        for d, dirs, files in os.walk(path)
        for n in dirs + files
    )


def _bucketed(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("vec_id"), (F.col("id") % 4).cast("int").alias("ivf_bucket")
    )


def test_replace_partitions_int_layout(spark, tmp_path):
    """The IVF index layout (int partitions): the listed buckets get
    exactly the given rows, in place; a listed bucket whose rows are all
    gone leaves the layout (a fully tombstoned bucket under
    ``ivf_purge``); unlisted buckets keep their exact files."""
    from trafik_etl_modular_spark.operators.table import read_table, replace_partitions

    path = str(tmp_path / "assigned")
    replace_partitions(_bucketed(spark, 80), path, "ivf_bucket")
    kept = {b: sorted(os.listdir(f"{path}/ivf_bucket={b}")) for b in (0, 1)}

    # bucket 2 keeps half its rows, bucket 3 loses every row
    rows = read_table(spark, path).filter(
        (F.col("ivf_bucket") == 2) & (F.col("vec_id") % 8 == 2)
    )
    replace_partitions(rows, path, "ivf_bucket", [2, 3])

    assert {b: sorted(os.listdir(f"{path}/ivf_bucket={b}")) for b in (0, 1)} == kept
    assert not os.path.exists(f"{path}/ivf_bucket=3")
    assert len(glob.glob(f"{path}/ivf_bucket=2/*.parquet")) == 1
    got = {(r["vec_id"], r["ivf_bucket"]) for r in read_table(spark, path).collect()}
    assert got == {(i, i % 4) for i in range(80) if i % 4 < 2 or i % 8 == 2}


def test_replace_partitions_failed_write_leaves_table(spark, tmp_path):
    """A task that fails mid-write commits nothing: the table's files,
    hidden ones included, and its rows are exactly as before."""
    from pyspark.errors import PythonException

    from trafik_etl_modular_spark.operators.table import read_table, replace_partitions

    path = str(tmp_path / "assigned")
    replace_partitions(_bucketed(spark, 40), path, "ivf_bucket")
    before = _listing(path)

    def check(vec_id):
        if vec_id == 13:
            raise ValueError("bad row")
        return vec_id

    rows = read_table(spark, path).withColumn(
        "vec_id", F.udf(check, "long")("vec_id")
    )
    with pytest.raises(PythonException, match="bad row"):
        replace_partitions(rows, path, "ivf_bucket", [0, 1, 2, 3])

    assert _listing(path) == before
    assert read_table(spark, path).count() == 40


def _moved_key_merge(spark, path: str):
    """A two-day table, and a batch that moves A to a third day (leaving
    its old day empty) and updates B in place."""
    from trafik_etl_modular_spark.pipelines.sink import write_incidents

    schema = "incident_id string, start_time_utc string, modified_time_utc string, v double"

    def rows(*data):
        return spark.createDataFrame(list(data), schema).withColumn(
            "start_time_utc", F.col("start_time_utc").cast("timestamp")
        )

    write_incidents(
        rows(
            ("A", "2024-01-10 08:00:00", "2024-01-10 08:00:00", 1.0),
            ("B", "2024-01-11 08:00:00", "2024-01-11 08:00:00", 2.0),
        ),
        path,
    )
    return rows(
        ("A", "2024-01-12 08:00:00", "2024-01-12 00:00:00", 10.0),
        ("B", "2024-01-11 08:00:00", "2024-01-12 00:00:00", 20.0),
    )


def _snapshot_only(path: str) -> bool:
    """The table dir holds exactly its snapshot's files and one manifest."""
    from trafik_etl_modular_spark.operators.table import MANIFEST, table_files

    on_disk = {
        os.path.relpath(os.path.join(d, f), path) for d, _, files in os.walk(path) for f in files
    }
    return on_disk == {e["file"] for e in table_files(path)} | {MANIFEST}


def test_merge_crash_before_publish_keeps_previous_snapshot(spark, tmp_path, monkeypatch):
    """A MERGE that fails after its new files are written but before its
    manifest is published leaves the previous snapshot: one row per key,
    the old versions.  The unpublished files stay invisible, and the
    next commit deletes them."""
    from trafik_etl_modular_spark.operators import table
    from trafik_etl_modular_spark.pipelines.sink import merge_into_incidents, read_incidents

    path = str(tmp_path / "incidents_tbl")
    batch = _moved_key_merge(spark, path)
    n_files = len(glob.glob(f"{path}/*/*.parquet"))

    def crash(*args):
        raise OSError("crash before publish")

    monkeypatch.setattr(table, "_publish", crash)
    with pytest.raises(OSError, match="crash before publish"):
        merge_into_incidents(spark, path, batch)
    assert len(glob.glob(f"{path}/*/*.parquet")) > n_files  # written, unpublished
    got = [
        (r["incident_id"], r["v"], str(r["event_date"]))
        for r in read_incidents(spark, path).collect()
    ]
    assert sorted(got) == [("A", 1.0, "2024-01-10"), ("B", 2.0, "2024-01-11")]

    monkeypatch.undo()
    merge_into_incidents(spark, path, batch)
    assert _snapshot_only(path)


def test_merge_crash_after_publish_reads_new_snapshot(spark, tmp_path, monkeypatch):
    """A MERGE that fails after publishing its manifest but before
    deleting the files it dropped reads as the new snapshot, one row
    per key.  The next commit deletes the leftovers, so after it the
    dir holds only the snapshot's files and one manifest."""
    from trafik_etl_modular_spark.operators import table
    from trafik_etl_modular_spark.pipelines.sink import merge_into_incidents, read_incidents

    path = str(tmp_path / "incidents_tbl")
    batch = _moved_key_merge(spark, path)

    def crash(*args):
        raise OSError("crash after publish")

    monkeypatch.setattr(table, "_sweep", crash)
    with pytest.raises(OSError, match="crash after publish"):
        merge_into_incidents(spark, path, batch)
    assert os.path.exists(f"{path}/event_date=2024-01-10")  # dropped, not yet deleted
    got = [
        (r["incident_id"], r["v"], str(r["event_date"]))
        for r in read_incidents(spark, path).collect()
    ]
    assert sorted(got) == [("A", 10.0, "2024-01-12"), ("B", 20.0, "2024-01-11")]

    monkeypatch.undo()
    merge_into_incidents(spark, path, batch)
    assert _snapshot_only(path)
    assert not os.path.exists(f"{path}/event_date=2024-01-10")


def test_conform_schema_repairs_drift(spark):
    from trafik_etl_modular_spark.pipelines.sink import conform_schema

    drifted = spark.createDataFrame(
        [("A", "not-a-number", 1.5, "extra")],
        "incident_id string, county_no string, latitude double, surprise string",
    )
    out = conform_schema(
        drifted, "incident_id string, county_no int, latitude double, longitude double"
    )
    assert out.columns == ["incident_id", "county_no", "latitude", "longitude"]
    row = out.collect()[0]
    # bad numeric -> NULL (errors='coerce'), missing col -> typed NULL,
    # extra col -> dropped
    assert row["county_no"] is None and row["longitude"] is None
    assert row["incident_id"] == "A" and row["latitude"] == 1.5
    assert dict(out.dtypes)["county_no"] == "int"


def test_datasource_filter_pushdown_prunes_pages(spark, feed_dir):
    register_xml_feed(spark)
    base = (
        spark.read.format("xml_feed")
        .option("path", feed_dir)
        .option("pagesPerSplit", "1")
        .load()
    )
    # page < 2 pushes into the source: only 2 of 4 page files planned
    pruned = base.filter(F.col("page") < 2)
    assert pruned.rdd.getNumPartitions() == 2
    rows = pruned.collect()
    assert len(rows) == 4 and {r["page"] for r in rows} == {0, 1}
    # original page numbering survives pruning (page > 0 keeps 1..3)
    tail = base.filter(F.col("page") > 0).collect()
    assert {r["page"] for r in tail} == {1, 2, 3}
    # non-page predicates are left to Spark and still evaluated
    mixed = base.filter((F.col("page") < 2) & (F.col("message_type") == "Accident"))
    got = mixed.collect()
    assert {(r["page"], r["message_type"]) for r in got} == {
        (0, "Accident"),
        (1, "Accident"),
    }


def _page_stream(spark, feed, **options):
    """The feed as a file-source stream (the engine's reader), one row
    per Deviation, tagged with the page file it came from."""
    raw = feed_reader(spark.readStream).options(**options).load(str(feed))
    return raw.select(
        F.col("_metadata.file_name").alias("page"),
        F.explode("Deviation.Id").alias("deviation_id"),
    )


def _stream_to_parquet(spark, feed, ckpt, out_dir):
    q = (
        _page_stream(spark, feed)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_reader_incremental_offsets(spark, tmp_path):
    """Streaming feed read: the offset is the file source's log of
    pages already seen.  A restarted query with the same checkpoint
    resumes there — newly landed pages arrive as a NEW micro-batch,
    old pages are never re-read (exactly-once incremental ingest, the
    scale form of the reference's cursor pagination)."""
    feed = tmp_path / "feed"
    feed.mkdir()
    for p in range(1, 4):
        (feed / f"page_{p:03d}.xml").write_text(PAGE_TMPL.format(p=p))
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    _stream_to_parquet(spark, feed, ckpt, out_dir)
    first = spark.read.parquet(out_dir)
    assert first.count() == 6  # 3 pages × 2 deviations
    assert first.select("page").distinct().count() == 3

    # two more pages land; restart resumes from the committed offset
    for p in range(4, 6):
        (feed / f"page_{p:03d}.xml").write_text(PAGE_TMPL.format(p=p))
    _stream_to_parquet(spark, feed, ckpt, out_dir)
    both = spark.read.parquet(out_dir)
    assert both.count() == 10  # +2 pages × 2 — pages 1-3 NOT re-read
    assert both.select("page").distinct().count() == 5
    # per-page row counts prove no duplicates from the restart
    assert (
        both.groupBy("page").count().filter("count <> 2").count() == 0
    )


def test_stream_reads_a_late_page_once_whatever_its_name(spark, tmp_path):
    """A page that lands after pages 1-3 were committed, under a name
    that sorts between them, is read exactly once by the restarted
    stream, and no committed page is read again."""
    feed = tmp_path / "feed"
    feed.mkdir()
    for p in range(1, 4):
        (feed / f"page_{p:03d}.xml").write_text(PAGE_TMPL.format(p=p))
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    _stream_to_parquet(spark, feed, ckpt, out_dir)

    (feed / "page_0015.xml").write_text(PAGE_TMPL.format(p=15))
    _stream_to_parquet(spark, feed, ckpt, out_dir)
    ids = [r["deviation_id"] for r in spark.read.parquet(out_dir).collect()]
    assert len(ids) == 8 and len(set(ids)) == 8
    assert {"D151", "D152"} <= set(ids)


def test_stream_lands_good_pages_past_a_truncated_one(spark, tmp_path):
    """A truncated page is a corrupt record, not a failed stream, and a
    page under a non-`.xml` name is not read: the good pages land."""
    from trafik_etl_modular_spark.streaming.pipeline import _run_to_memory

    feed = tmp_path / "feed"
    feed.mkdir()
    for p in range(1, 3):
        (feed / f"page_{p:03d}.xml").write_text(PAGE_TMPL.format(p=p))
    (feed / "page_003.xml.partial").write_text(PAGE_TMPL.format(p=3))
    (feed / "page_004.xml").write_text(PAGE_TMPL.format(p=4)[:300])
    out = _run_to_memory(_page_stream(spark, feed), "append", no_data_flush=False)
    ids = [r["deviation_id"] for r in out.collect()]
    assert sorted(ids) == ["D11", "D12", "D21", "D22"]


def test_stream_reader_rate_limit_bounds_batches(spark, tmp_path):
    """maxFilesPerTrigger caps each micro-batch: a 6-page backfill with
    a 2-page cap needs 3 micro-batches, never one giant batch."""
    feed = tmp_path / "feed"
    feed.mkdir()
    for p in range(1, 7):
        (feed / f"page_{p:03d}.xml").write_text(PAGE_TMPL.format(p=p))

    q = (
        _page_stream(spark, feed, maxFilesPerTrigger="2")
        .writeStream.format("memory")
        .queryName("feed_rate_limited")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = q.lastProgress["batchId"] + 1
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM feed_rate_limited")
    assert out.count() == 12
    assert n_batches >= 3


def test_run_stream_restores_confs_and_listener_on_failure(spark, tmp_path):
    """A foreachBatch that raises fails run_stream with its error, and
    the run still restores both pinned confs and removes its listener."""
    from trafik_etl_modular_spark.streaming.observability import MetricsListener
    from trafik_etl_modular_spark.streaming.pipeline import run_stream

    src = str(tmp_path / "in")
    spark.range(3).write.parquet(src)
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = {k: spark.conf.get(k) for k in keys}
    listeners = spark._jsparkSession.streams().listListeners
    n_listeners = len(listeners())

    def fail(batch_df, epoch_id):
        raise RuntimeError("batch sink down")

    writer = spark.readStream.schema("id long").parquet(src).writeStream
    with pytest.raises(Exception, match="batch sink down"):
        run_stream(
            writer.foreachBatch(fail),
            state_partitions=3,
            no_data_flush=False,
            listener=MetricsListener(),
        )
    assert {k: spark.conf.get(k) for k in keys} == before
    assert len(listeners()) == n_listeners


def test_export_training_shards_caps_and_roundtrips(spark, tmp_path):
    """JSONL shard export: every shard file holds at most the cap,
    the read-back content equals the input, and range ordering yields
    contiguous shards."""
    import glob
    import json as _json

    from trafik_etl_modular_spark.pipelines.sink import export_training_shards

    df = spark.range(250).select(
        F.col("id").alias("seq_id"), F.concat(F.lit("doc "), F.col("id")).alias("text")
    )
    path = str(tmp_path / "shards")
    stats = export_training_shards(df, path, max_records_per_file=40)
    assert stats["n_records"] == 250
    assert stats["n_shards"] >= 7  # ceil(250/40) at minimum

    seen = []
    for f in sorted(glob.glob(path + "/part-*")):
        with open(f) as fh:
            rows = [_json.loads(line) for line in fh if line.strip()]
        assert len(rows) <= 40
        seen.extend(r["seq_id"] for r in rows)
    assert sorted(seen) == list(range(250))


def test_export_training_shards_empty_input(spark, tmp_path):
    """An empty input (e.g. a fully-filtered curation run) must report
    0 shards / 0 records, not crash the read-back (advisor r3: zero
    part files made a schema-inferring spark.read.json throw)."""
    from trafik_etl_modular_spark.pipelines.sink import export_training_shards

    df = spark.range(10).filter("id < 0").select(F.col("id").alias("seq_id"))
    stats = export_training_shards(df, str(tmp_path / "empty_shards"))
    assert stats == {"n_shards": 0, "n_records": 0}


def test_export_training_shards_range_ordered(spark, tmp_path):
    """With order_col, shard files hold contiguous key ranges: the
    per-file id intervals must not overlap."""
    import glob
    import json as _json

    from trafik_etl_modular_spark.pipelines.sink import export_training_shards

    df = spark.range(300).select(F.col("id").alias("seq_id"))
    path = str(tmp_path / "ordered_shards")
    stats = export_training_shards(
        df, path, max_records_per_file=50, order_col="seq_id"
    )
    assert stats["n_records"] == 300
    intervals = []
    for f in glob.glob(path + "/part-*"):
        with open(f) as fh:
            ids = [_json.loads(line)["seq_id"] for line in fh if line.strip()]
        if ids:
            intervals.append((min(ids), max(ids)))
    intervals.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(intervals, intervals[1:]):
        assert a_hi < b_lo, intervals


def _staged_rows(d: str) -> int:
    """Rows across a staged dir's own parquet parts (not the symlink
    to the live fixture)."""
    import pyarrow.parquet as pq

    paths = glob.glob(os.path.join(d, "*.parquet"))
    return sum(pq.read_metadata(p).num_rows for p in paths if not os.path.islink(p))


def _sentinel_year(d: str) -> int:
    import pyarrow.parquet as pq

    sentinel = pq.read_table(os.path.join(d, "zz_sentinel.parquet"))
    return max(sentinel["ts"].to_pylist()).year


def _feed_rows(d: str) -> int:
    return sum(open(p).read().count("<Situation>") for p in glob.glob(f"{d}/*.xml"))


def test_sentinel_stream_dir_invalidates_on_fixture_change(tmp_path):
    """Every staged dir is cached on disk; its key must identify the
    fixture CONTENT, not just the path (advisor r3: a regenerated
    fixture at the same path with later timestamps reused a stale
    sentinel whose ts no longer advanced the watermark past the new
    data).  Each stager stages a 4-row fixture, then the same path
    regrown to 10 later rows, and must serve the new rows and remove
    the old staged dir."""
    import time
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from trafik_etl_modular_spark.queries.source_feed import ensure_feed_dir
    from trafik_etl_modular_spark.streaming import incremental_dedup, pipeline
    from trafik_etl_modular_spark.streaming.sessionize import stage_time_ordered_chunks

    sf_dir = str(tmp_path)

    def write_fixture(base_ts, n):
        ids = pa.array(range(1, n + 1), type=pa.int64())
        events = {
            "event_id": ids,
            "ts": pa.array(
                [base_ts + timedelta(minutes=5 * i) for i in range(n)],
                type=pa.timestamp("us"),
            ),
            "user_id": pa.array([10 * i for i in range(n)], type=pa.int64()),
            "event_type": pa.array(["click", "purchase"] * (n // 2)),
            "value": pa.array([1.0] * n),
            "props": pa.array([""] * n),
        }
        docs = {"doc_id": ids, "text": pa.array(["a b c d"] * n)}
        for name, cols in (("events", events), ("documents", docs)):
            path = os.path.join(sf_dir, f"{name}.parquet")
            pq.write_table(pa.table(cols), path)
            # a different mtime even on coarse-granularity filesystems
            os.utime(path, (time.time() + n, time.time() + n))

    # (stager, what it serves, for the 4-row fixture, for the 10-row one);
    # the late replay re-delivers its one day twice (3 rows per row)
    stagers = [
        (pipeline._sentinel_stream_dir, _sentinel_year, 2024, 2030),
        (pipeline._events_bucket_dir, _staged_rows, 4, 10),
        (pipeline._late_replay_dir, _staged_rows, 12, 30),
        (stage_time_ordered_chunks, _staged_rows, 4, 10),
        (lambda sf: incremental_dedup._documents_batch_dir(sf, 4), _staged_rows, 4, 10),
        (ensure_feed_dir, _feed_rows, 4, 10),
    ]
    write_fixture(datetime(2024, 1, 1), 4)
    first = [stage(sf_dir) for stage, *_ in stagers]
    for d1, (_, serves, old, _) in zip(first, stagers):
        assert serves(d1) == old, d1
    write_fixture(datetime(2030, 6, 1), 10)
    for d1, (stage, serves, _, new) in zip(first, stagers):
        d2 = stage(sf_dir)
        assert d2 != d1 and serves(d2) == new, f"{d2} serves the old fixture"
        # publishing the new version removed the old one
        assert not os.path.exists(d1), f"{d1} outlived its fixture"
        shutil.rmtree(d2)
