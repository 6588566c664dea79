"""Ingest pipeline semantics (SURVEY.md §2.1 S3, §3.1) against the
handcrafted nested fixture — the reference-specific behaviors DuckDB
oracle queries can't cover."""

from __future__ import annotations

import pytest

from trafik_etl_modular_spark.pipelines.ingest import (
    feed_reader,
    feed_to_flat,
    flatten_situations,
    ingest,
    make_county_dim,
    make_situations_fixture,
    normalize_incidents,
    read_feed,
)
from trafik_etl_modular_spark.sources.xml_feed import register_xml_feed

from tests.test_sources import PAGE_TMPL

NOW = "2024-01-16 00:00:00"


@pytest.fixture(scope="module")
def flat(spark):
    return flatten_situations(make_situations_fixture(spark))


@pytest.fixture(scope="module")
def result(spark):
    return ingest(make_situations_fixture(spark), make_county_dim(spark), NOW).cache()


def test_inner_explode_skips_empty_situations(flat):
    # S2 has no deviations → contributes no rows
    assert flat.filter("situation_id = 'S2'").count() == 0


def test_parent_fields_repeat(flat):
    rows = flat.filter("situation_id = 'S1'").collect()
    assert len(rows) == 3
    assert len({r["modified_time_utc"] for r in rows}) == 1


def test_id_fallback(flat):
    # S1's third deviation has no Id → situation_id:StartTime
    ids = {r["incident_id"] for r in flat.filter("situation_id = 'S1'").collect()}
    assert "S1:2024-01-14T06:00:00Z" in ids


def test_county_list_truncation(flat):
    r = flat.filter("incident_id = 'D1'").collect()[0]
    assert r["county_no"] == 14  # element_at(CountyNo, 1)


def test_empty_message_dropped(result):
    assert result.filter("incident_id = 'D2'").count() == 0  # P2


def test_expired_dropped(result):
    assert result.filter("incident_id = 'D4'").count() == 0  # P3


def test_composite_dedup_keeps_newest(result):
    # D1 (S1, modified 01-10) and D5 (S3, modified 01-11) share the
    # composite natural key → W1 keeps D5
    assert result.filter("incident_id = 'D1'").count() == 0
    assert result.filter("incident_id = 'D5'").count() == 1


def test_latest_wins_per_incident_id(result):
    rows = result.filter("incident_id = 'D6'").collect()
    assert len(rows) == 1
    assert rows[0]["message"] == "Ferry delayed (update)"  # W2: newer version


def test_wkt_point_parsed_and_county_joined(result):
    r = result.filter("incident_id = 'D5'").collect()[0]
    assert (r["longitude"], r["latitude"]) == (11.97, 57.70)
    assert r["county_name"] == "Västra Götalands län"  # J1 broadcast join


def test_unparseable_timestamps_null(result):
    r = result.filter("incident_id = 'D7'").collect()[0]
    assert r["modified_time_utc"] is None  # 'not-a-time'
    assert r["end_time_utc"] is None  # 'garbage'
    assert r["status"] == "PÅGÅR"  # starts 01-14 < now, NULL end → ongoing
    assert r["county_no"] is None  # CountyNo missing


def test_status_rank_column(result):
    ranks = {r["incident_id"]: r["status_rank"] for r in result.collect()}
    assert ranks["D5"] == 0  # started 01-12 < now, ends 01-20 > now → PÅGÅR
    assert ranks["D7"] == 0  # starts 01-14 < now, NULL end → PÅGÅR
    assert ranks["D6"] == 0  # starts 01-13 < now, open-ended → PÅGÅR
    assert ranks["D8"] == 1  # starts 01-25 > now → KOMMANDE


# One Situation with the feed's awkward fields: a Deviation without an
# Id (id fallback), an empty <Id/> and <Message/>, two CountyNo
# elements, a non-numeric CountyNo and a StartTime padded with spaces.
EDGE_PAGE = """<Response><Situation>
  <Id>SE</Id><ModifiedTime>2024-01-11T08:00:00Z</ModifiedTime>
  <PublicationTime>2024-01-11T07:00:00Z</PublicationTime>
  <Deviation><Message>No id</Message><CountyNo>x9</CountyNo>
    <StartTime>2024-01-11T00:00:00Z</StartTime></Deviation>
  <Deviation><Id/><Message/><CountyNo>3</CountyNo><CountyNo>5</CountyNo>
    <StartTime>2024-01-12T00:00:00Z</StartTime></Deviation>
  <Deviation><Id>E3</Id><Message>Padded start</Message><CountyNo>12</CountyNo>
    <StartTime>  2024-01-13T00:00:00Z </StartTime>
    <Geometry><WGS84>POINT (1.5 2.5)</WGS84></Geometry></Deviation>
</Situation></Response>"""


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ingest_feed")
    for p in range(1, 5):
        (d / f"page_{p:03d}.xml").write_text(PAGE_TMPL.format(p=p))
    (d / "page_005.xml").write_text(EDGE_PAGE)
    return str(d)


def test_read_feed_matches_python_source_field_by_field(spark, feed_dir):
    """The built-in XML reader, flattened, yields exactly the rows the
    Python `xml_feed` source yields, on the test pages and on the edge
    page: a bad CountyNo NULLs that field, never the whole Situation.
    So does the same reader streamed over Spark's file source."""
    register_xml_feed(spark)
    python = feed_to_flat(spark.read.format("xml_feed").option("path", feed_dir).load())
    builtin = flatten_situations(read_feed(spark, feed_dir, 20))
    assert builtin.count() == 11  # 4 pages × 2 + the edge page's 3
    q = (
        flatten_situations(feed_reader(spark.readStream).load(feed_dir))
        .writeStream.format("memory")
        .queryName("feed_parity_stream")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        source = q.lastProgress["sources"][0]["description"]
    finally:
        q.stop()
    assert source.startswith("FileStreamSource"), source
    streamed = spark.sql("SELECT * FROM feed_parity_stream")
    for other in (builtin, streamed):
        assert python.exceptAll(other).count() == 0
        assert other.exceptAll(python).count() == 0
    got = {r["incident_id"]: r["county_no"] for r in builtin.filter("situation_id = 'SE'").collect()}
    assert got == {"SE:2024-01-11T00:00:00Z": None, "": 3, "E3": 12}


def test_feed_stream_query_matches_batch_and_leaves_no_checkpoint(spark, sf_dir):
    """The registered stream query delivers the Python batch source's
    rows and leaves no checkpoint directory behind."""
    import glob
    import tempfile

    from trafik_etl_modular_spark.queries.source_feed import (
        source_xml_feed_roundtrip,
        source_xml_feed_stream,
    )

    def checkpoint_dirs():
        tmp = tempfile.gettempdir()
        return set(glob.glob(f"{tmp}/feed_stream_ckpt_*") + glob.glob(f"{tmp}/temporary-*"))

    before = checkpoint_dirs()
    streamed = source_xml_feed_stream(spark, sf_dir)
    assert checkpoint_dirs() <= before
    batch = source_xml_feed_roundtrip(spark, sf_dir)
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_read_feed_takes_first_pages_in_name_order(spark, feed_dir):
    sids = {r["Id"] for r in read_feed(spark, feed_dir, 2).collect()}
    assert sids == {"S1A", "S1B", "S2A", "S2B"}


def test_county_dim_is_a_local_relation(spark):
    """The dimension is a JVM literal: no Python RDD behind it, so
    broadcasting it starts no Python worker."""
    dim = make_county_dim(spark)
    analyzed = dim._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in analyzed and "LogicalRDD" not in analyzed
    assert dim.dtypes == [("county_no", "int"), ("county_name", "string")]
    assert dim.count() == 21


def test_connected_components_driver_path_is_a_local_relation(spark):
    """The driver-side union-find returns its labels as a JVM literal:
    no Python RDD behind it, so reading it starts no Python worker.
    Its schema is the distributed path's for long, string and empty
    edge sets."""
    from trafik_etl_modular_spark.llmdata.dedup import connected_components

    for ddl, rows in (
        ("id_a long, id_b long", [(1, 2), (2, 3), (7, 5)]),
        ("id_a string, id_b string", [("b", "a"), ("c", "b")]),
        ("id_a long, id_b long", []),
    ):
        edges = spark.createDataFrame(rows, ddl)
        labels = connected_components(edges)
        analyzed = labels._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in analyzed and "LogicalRDD" not in analyzed
        assert labels.schema == connected_components(edges, driver_threshold=0).schema


def test_feed_to_normalize_plan_has_no_python_node(spark, feed_dir):
    """read_feed → flatten → normalize (with the dimension join) plans
    no Python scan or Python UDF evaluation."""
    inc = normalize_incidents(
        flatten_situations(read_feed(spark, feed_dir, 20)), make_county_dim(spark), NOW
    )
    for df in (read_feed(spark, feed_dir, 20), inc):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("PythonScan", "BatchEvalPython", "ArrowEvalPython", "ExistingRDD"):
            assert node not in plan, plan
