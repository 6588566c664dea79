"""End-to-end ETL job (SURVEY.md §3.1/§3.2): feed → normalize →
MERGE → report, including idempotent re-runs and the row-volume
anomaly guard."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from trafik_etl_modular_spark.pipelines.etl_job import run_etl
from trafik_etl_modular_spark.pipelines.ingest import make_county_dim
from trafik_etl_modular_spark.pipelines.sink import read_incidents

from tests.test_sources import PAGE_TMPL


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("etl_feed")
    for p in range(1, 5):
        (d / f"page_{p:03d}.xml").write_text(PAGE_TMPL.format(p=p))
    return str(d)


def test_etl_end_to_end_and_idempotent(spark, feed_dir, tmp_path):
    sink = str(tmp_path / "incidents")
    dim = make_county_dim(spark)

    report = run_etl(spark, feed_dir, sink, dim)
    # 4 pages × 2 deviations, all with start <= now and no/loose end →
    # PÅGÅR, none expired, no dedup collisions.
    assert report["rows"] == 8
    assert report["pagar"] == 8 and report["kommande"] == 0
    assert report["seconds"] > 0
    # observe()-collected batch metrics — gathered DURING the merge's
    # own action, never by re-scanning the update batch.
    assert report["batch_rows"] == 8
    # each page's Accident deviation has no Geometry → 4 of 8 rows
    # land with null coordinates, tallied in-flight
    assert report["batch_null_coords"] == 4
    # 8 batch rows < expect_min_rows=50 → the anomaly guard fires
    # (reference cli.py:94-99 semantics).
    assert any("below expected minimum" in w for w in report["warnings"])

    tbl = read_incidents(spark, sink)
    got = {r["incident_id"]: r for r in tbl.collect()}
    assert len(got) == 8
    # county dim joined (CountyNo 14 → Västra Götalands län)
    assert got["D11"]["county_name"] == "Västra Götalands län"
    # WKT POINT parsed to (lat, lon)
    assert (got["D11"]["latitude"], got["D11"]["longitude"]) == (57.70, 11.97)
    # 13-column public schema plus the partition column
    assert len(tbl.columns) == 14 and "event_date" in tbl.columns

    # Re-running the same feed is a no-op (MERGE latest-wins).
    report2 = run_etl(spark, feed_dir, sink, dim)
    assert report2["rows"] == 8
    assert {r["incident_id"] for r in read_incidents(spark, sink).collect()} == set(got)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_and_report_start_no_jobs(spark, feed_dir, tmp_path, monkeypatch):
    """``read_incidents`` starts no Spark job: the manifest gives the
    schema and the file list.  ``run_etl``'s report adds none after the
    MERGE: it sums the manifest's entries instead of scanning the table."""
    from trafik_etl_modular_spark.pipelines import etl_job

    sink = str(tmp_path / "incidents")
    dim = make_county_dim(spark)
    run_etl(spark, feed_dir, sink, dim)
    assert _jobs(spark, lambda: read_incidents(spark, sink)) == 0

    merge = etl_job.merge_into_incidents
    after_merge = []

    def counted_merge(*args, **kwargs):
        merge(*args, **kwargs)
        sc = spark.sparkContext
        after_merge.append(f"report-{uuid.uuid4().hex}")
        sc.setJobGroup(after_merge[0], "after the merge")

    monkeypatch.setattr(etl_job, "merge_into_incidents", counted_merge)
    through_merge = _jobs(spark, lambda: run_etl(spark, feed_dir, sink, dim))
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(after_merge[0]) == []
    assert through_merge <= 8, f"{through_merge} jobs for one run_etl call"


def _moved_page(p: int, start_day: str, modified_day: str) -> str:
    """Page ``p`` of the feed with every start moved to ``start_day``
    and a newer ``modified_day``: a new version of each of its keys."""
    return (
        PAGE_TMPL.format(p=p)
        .replace(f"<StartTime>2024-01-1{p}", f"<StartTime>2024-01-{start_day}")
        .replace(f"<ModifiedTime>2024-01-1{p}", f"<ModifiedTime>2024-01-{modified_day}")
    )


def test_report_equals_full_scan_after_moved_keys(spark, feed_dir, tmp_path):
    """The report's rows/pagar/kommande, summed from the manifest, equal
    a full scan of the sink after each of several MERGEs whose keys move
    to other days, into the future (KOMMANDE) and back."""
    sink = str(tmp_path / "incidents")
    dim = make_county_dim(spark)
    feeds = [
        feed_dir,
        {1: ("20", "15"), 2: ("05", "15")},  # page 1 → upcoming, page 2 → earlier day
        {1: ("13", "16"), 3: ("21", "16")},  # page 1 back to the past, page 3 → upcoming
    ]
    for i, feed in enumerate(feeds):
        if isinstance(feed, dict):
            d = tmp_path / f"feed_{i}"
            d.mkdir()
            for p, (start, modified) in feed.items():
                (d / f"page_{p:03d}.xml").write_text(_moved_page(p, start, modified))
            feed = str(d)
        report = run_etl(spark, feed, sink, dim)
        scan = read_incidents(spark, sink)
        ids = [r["incident_id"] for r in scan.select("incident_id").collect()]
        assert len(ids) == len(set(ids)) == 8
        full = scan.agg(
            F.count("*").alias("rows"),
            F.count_if(F.col("status") == "PÅGÅR").alias("pagar"),
            F.count_if(F.col("status") == "KOMMANDE").alias("kommande"),
        ).collect()[0]
        assert {k: report[k] for k in ("rows", "pagar", "kommande")} == full.asDict(), i
    assert report["kommande"] == 2


def test_etl_respects_max_pages(spark, feed_dir, tmp_path):
    sink = str(tmp_path / "incidents_limited")
    report = run_etl(spark, feed_dir, sink, make_county_dim(spark), max_pages=2)
    assert report["rows"] == 4  # 2 pages × 2 deviations


def test_row_volume_guard_checks_this_runs_batch(spark, feed_dir, tmp_path):
    """The [min, max] band is expected rows per ETL RUN (reference
    cli.py:20-21), so the guard reads the batch, not the table: a
    4-row batch into an 8-row sink is below a [6, 10] band even though
    the table is inside it."""
    sink = str(tmp_path / "incidents")
    dim = make_county_dim(spark)
    run_etl(spark, feed_dir, sink, dim)

    report = run_etl(
        spark, feed_dir, sink, dim, max_pages=2, expect_min_rows=6, expect_max_rows=10
    )
    assert report["rows"] == 8 and report["batch_rows"] == 4
    assert report["warnings"] == ["row volume 4 below expected minimum 6"]


def test_empty_feed_warns_no_rows_ingested(spark, feed_dir, tmp_path):
    """An empty feed page ingests nothing: the report says so, rather
    than judging the rows a previous run left in the table."""
    sink = str(tmp_path / "incidents")
    dim = make_county_dim(spark)
    run_etl(spark, feed_dir, sink, dim)

    empty = tmp_path / "empty_feed"
    empty.mkdir()
    (empty / "page_001.xml").write_text("<Response></Response>")
    report = run_etl(spark, str(empty), sink, dim)
    assert report["rows"] == 8 and report["batch_rows"] == 0
    assert report["warnings"] == ["no rows ingested"]


def test_empty_feed_into_new_sink_reports_zero(spark, tmp_path):
    """A first run that ingests nothing publishes no table, and its
    report reads zero rather than failing on the missing sink."""
    empty = tmp_path / "empty_feed"
    empty.mkdir()
    (empty / "page_001.xml").write_text("<Response></Response>")
    sink = tmp_path / "incidents"
    report = run_etl(spark, str(empty), str(sink), make_county_dim(spark))
    assert report["rows"] == report["pagar"] == report["kommande"] == 0
    assert report["batch_rows"] == 0
    assert report["warnings"] == ["no rows ingested"]
    assert not sink.exists()


def test_malformed_page_becomes_a_warning(spark, tmp_path):
    """A page cut off mid-Situation is one corrupt record: the report
    warns, and the good pages still land."""
    feed = tmp_path / "feed"
    feed.mkdir()
    for p in range(1, 4):
        (feed / f"page_{p:03d}.xml").write_text(PAGE_TMPL.format(p=p))
    (feed / "page_004.xml").write_text(PAGE_TMPL.format(p=4)[:300])
    report = run_etl(spark, str(feed), str(tmp_path / "incidents"), make_county_dim(spark))
    assert report["rows"] == 6 and report["batch_rows"] == 6
    assert report["warnings"][0] == "1 malformed feed record(s) skipped"
    assert "row volume 6 below expected minimum 50" in report["warnings"]


def test_etl_reads_only_xml_pages(spark, feed_dir, tmp_path):
    """Only `*.xml` files are pages: a stray file holding a valid page
    under another name is not read."""
    sink = str(tmp_path / "incidents")
    dim = make_county_dim(spark)
    run_etl(spark, feed_dir, sink, dim)

    stray = tmp_path / "stray_feed"
    stray.mkdir()
    (stray / "page_001.xml.partial").write_text(PAGE_TMPL.format(p=1))
    report = run_etl(spark, str(stray), sink, dim)
    assert report["rows"] == 8 and report["batch_rows"] == 0
    assert report["warnings"] == ["no rows ingested"]


def test_metrics_listener_and_notifier(spark, tmp_path):
    """§2.9 run observability: the StreamingQueryListener emits the
    reference's start/progress/done notifications with row counts,
    volume warnings ride the same [min, max] guard as the batch ETL,
    and the notifier retries a flaky webhook transport."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from trafik_etl_modular_spark.streaming.observability import (
        MetricsListener,
        Notifier,
        check_row_volume,
    )

    assert check_row_volume(0) == "no rows ingested"
    assert check_row_volume(10, 50, 2000).startswith("row volume 10 below")
    assert check_row_volume(9999, 50, 2000).startswith("row volume 9999 above")
    assert check_row_volume(100, 50, 2000) is None

    sent: list[str] = []
    fails = {"n": 2}

    def flaky_transport(body: str):
        if fails["n"] > 0:
            fails["n"] -= 1
            raise ConnectionError("webhook down")
        sent.append(body)

    notifier = Notifier(flaky_transport)
    listener = MetricsListener(notifier, expect_min=50, expect_max=2000)
    spark.streams.addListener(listener)
    try:
        src = tmp_path / "src"
        src.mkdir()
        pq.write_table(pa.table({"v": list(range(10))}), str(src / "p.parquet"))
        q = (
            spark.readStream.schema("v bigint")
            .parquet(str(src))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener delivery is async — poll until terminated arrives
        deadline = time.time() + 15
        while time.time() < deadline:
            stages = [e["stage"] for e in listener.events]
            if "terminated" in stages:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    stages = [e["stage"] for e in listener.events]
    assert "started" in stages and "terminated" in stages
    prog = [e for e in listener.events if e["stage"] == "progress" and e["num_input_rows"]]
    assert prog and prog[0]["num_input_rows"] == 10
    # 10 rows < expect_min=50 → the anomaly guard fired
    assert prog[0]["warning"].startswith("row volume 10 below")
    # the flaky transport was retried through, every event delivered
    assert len(sent) == len(listener.events)


def test_upsert_sink_listener_flags_out_of_band_batch(spark):
    """Verdict r09 ask #6: the volume guard wired INTO the foreachBatch
    upsert fires per micro-batch.  The sf0.001 events stream delivers
    one 1000-row micro-batch; a 999-row cap plants it out of band and
    the listener must record the warning on that batch's progress
    event.  An in-band run of the same query must record none."""
    from trafik_etl_modular_spark.streaming.observability import MetricsListener
    from trafik_etl_modular_spark.streaming.pipeline import upsert_sink_run

    sf = "/root/testdata/sf0.001"

    tight = MetricsListener(expect_min=1, expect_max=999)
    out = upsert_sink_run(spark, sf, listener=tight)
    n_entities = out.count()
    assert n_entities > 0
    prog = [
        e for e in tight.events if e["stage"] == "progress" and e["num_input_rows"]
    ]
    assert prog, "no progress events captured for the upsert query"
    warned = [e for e in prog if e["warning"]]
    assert warned and warned[0]["num_input_rows"] == 1000
    assert warned[0]["warning"].startswith("row volume 1000 above")
    assert warned[0]["batch_id"] is not None

    wide = MetricsListener(expect_min=1, expect_max=10_000)
    out2 = upsert_sink_run(spark, sf, listener=wide)
    assert out2.count() == n_entities
    prog2 = [
        e for e in wide.events if e["stage"] == "progress" and e["num_input_rows"]
    ]
    assert prog2 and all(e["warning"] is None for e in prog2)
