"""Nested-source ingest: Situation→Deviation explode + normalize
(SURVEY.md §2.1 S3/S4, §3.1 step 3-4 — the reference's core ETL).

The upstream feed is hierarchical: `Situation` (1) → `Deviation` (N)
→ `Geometry.WGS84` WKT.  The reference flattens it three separate
times in pandas (/root/reference/src/trv/endpoints.py:107-163,
etl_runner.py:81-134, transform.py:49-103) with subtly different
semantics; this is the ONE parameterized pipeline (SURVEY.md §3.2
note).  :func:`feed_reader` is the feed's one format decision:
Spark's built-in XML reader, one row per Situation, `*.xml` pages
only, no Python worker.  `run_etl` reads through it in batch
(:func:`read_feed`), and `source_xml_feed_stream` as a stream over
Spark's file source.  A page that does not parse becomes one
`_corrupt_record` row, which `run_etl` counts into a report warning.
:func:`explode_situations` turns the Situations into the flat
raw-string columns that the Python `xml_feed` source yields (the
reference both reads are tested against), and
:func:`flatten_situations` types them with the one flat-row typing,
:func:`feed_to_flat`.  Expressed as explode + narrow column
transforms:

  * inner explode (Situations with no Deviations are skipped — both
    reference paths do this, endpoints.py:121, etl_runner.py:94-96)
  * parent fields (Id, ModifiedTime, PublicationTime) repeat onto
    each child row — free in Spark's select
  * id fallback: Deviation.Id, else situation_id:StartTime
    (transform.py:62)
  * CountyNo arrives as a LIST → element_at(...,1) (transform.py:79-80);
    the feed reads it as TEXT and try_casts the first element, so a
    non-numeric CountyNo nulls that field, not the whole Situation
  * ISO-8601 'Z' strings → UTC timestamps, NULL on garbage (F1)
  * WKT POINT → (lat, lon) via regexp; non-POINT geometries fall to
    the pandas-UDF centroid only when shapely is present (F5), else
    NULL (documented stub)
  * empty-message drop (P2), expired-row drop (P3, injected now)
  * composite-key dedup W1 then latest-wins W2, explicit orderings
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.streaming import DataStreamReader

from trafik_etl_modular_spark.functions.scalars import (
    derive_status,
    parse_iso_utc,
    status_rank,
    wkt_point_lat,
    wkt_point_lon,
)
from trafik_etl_modular_spark.queries.dedup import latest_wins

_SITUATION = """
    Id string, ModifiedTime string, PublicationTime string,
    Deviation array<struct<
        Id: string, Message: string, MessageType: string,
        LocationDescriptor: string, RoadNumber: string,
        CountyNo: array<{county}>, StartTime: string, EndTime: string,
        Geometry: struct<WGS84: string>
    >>
"""
SITUATION_SCHEMA = _SITUATION.format(county="int")
# The feed as the XML reader parses it.  CountyNo stays text: typed
# `int`, one non-numeric value would mark the whole Situation corrupt
# and drop all its Deviations.  A page that does not parse lands as one
# all-NULL row carrying `_corrupt_record` (PERMISSIVE mode).
FEED_SCHEMA = _SITUATION.format(county="string") + ", _corrupt_record string"


def feed_reader(
    reader: DataFrameReader | DataStreamReader,
) -> DataFrameReader | DataStreamReader:
    """The feed's one format decision, for a batch or a stream read:
    Spark's built-in XML reader, one row per Situation, over the
    ``*.xml`` pages only."""
    return (
        reader.format("xml")
        .option("rowTag", "Situation")
        .option("pathGlobFilter", "*.xml")
        .schema(FEED_SCHEMA)
    )


def read_feed(spark: SparkSession, feed_dir: str, max_pages: int) -> DataFrame:
    """S1 — the first ``max_pages`` ``*.xml`` pages of ``feed_dir`` in
    name order (the Python source's page selection)."""
    pages = sorted(f for f in os.listdir(feed_dir) if f.endswith(".xml"))[:max_pages]
    return feed_reader(spark.read).load([os.path.join(feed_dir, f) for f in pages])


def feed_to_flat(raw: DataFrame) -> DataFrame:
    """Type the feed's flat Deviation rows into the normalize
    pipeline's input contract: ISO-8601 strings → UTC timestamps,
    trimmed text, and the reference's id-fallback rule
    (transform.py:62).  The one flat-row typing: the Python XML feed
    source and :func:`flatten_situations` (``run_etl``) both end here."""
    return raw.selectExpr(
        "situation_id",
        f"{parse_iso_utc('modified_time')} AS modified_time_utc",
        f"{parse_iso_utc('publication_time')} AS publication_time_utc",
        "coalesce(deviation_id, concat_ws(':', situation_id, start_time)) AS incident_id",
        "trim(coalesce(message, '')) AS message",
        "trim(coalesce(message_type, '')) AS message_type",
        "trim(coalesce(location_descriptor, '')) AS location_descriptor",
        "trim(coalesce(road_number, '')) AS road_number",
        "county_no",
        f"{parse_iso_utc('start_time')} AS start_time_utc",
        f"{parse_iso_utc('end_time')} AS end_time_utc",
        "wgs84 AS geometry_wgs84",
    )


def explode_situations(raw: DataFrame) -> DataFrame:
    """S3 — one row per Deviation, parent fields repeated, as the feed
    source's raw-string columns.  Plain (inner) explode:
    deviation-less Situations vanish, matching both reference
    implementations, and so does the all-NULL row of a page that does
    not parse."""
    return raw.selectExpr("*", "explode(Deviation) AS d").selectExpr(
        "Id AS situation_id",
        "ModifiedTime AS modified_time",
        "PublicationTime AS publication_time",
        "d.Id AS deviation_id",
        "d.Message AS message",
        "d.MessageType AS message_type",
        "d.LocationDescriptor AS location_descriptor",
        "d.RoadNumber AS road_number",
        "try_cast(element_at(d.CountyNo, 1) AS int) AS county_no",
        "d.StartTime AS start_time",
        "d.EndTime AS end_time",
        "d.Geometry.WGS84 AS wgs84",
    )


def flatten_situations(raw: DataFrame) -> DataFrame:
    """The explode, typed by :func:`feed_to_flat`."""
    return feed_to_flat(explode_situations(raw))


def normalize_incidents(
    flat: DataFrame,
    county_dim: DataFrame,
    now: str,
) -> DataFrame:
    """Transform-layer normalize (reference transform.py:49-137):
    status derivation + drops + geo parse + dimension join + dedups +
    canonical ordering columns.  Each step is SQL text, so building the
    plan costs a few py4j calls per step, not one per Column node."""
    now_ts = f"CAST('{now}' AS TIMESTAMP)"
    inc = flat.selectExpr(
        "*",
        f"{derive_status('start_time_utc', 'end_time_utc', now_ts)} AS status",
        # F4 — WKT POINT fast path (JVM regex); centroid of non-points
        # is the shapely pandas-UDF path, gated on availability
        f"{wkt_point_lat('geometry_wgs84')} AS latitude",
        f"{wkt_point_lon('geometry_wgs84')} AS longitude",
    )
    # P2 — drop empty messages (transform.py:58-59); P3 — drop expired
    # (status NULL)
    inc = inc.filter("length(trim(message)) > 0 AND status IS NOT NULL")

    # J1 — broadcast dimension join for county_name.
    dim = county_dim.selectExpr("county_no", "county_name").hint("broadcast")
    inc = inc.drop("county_name").join(dim, "county_no", "left")

    # W1 — composite-natural-key dedup with explicit recency order
    # (pandas relied on input order; SURVEY.md §7.4).
    inc = latest_wins(
        inc,
        ["message", "location_descriptor", "start_time_utc", "end_time_utc"],
        ["modified_time_utc DESC", "incident_id ASC"],
    )
    # W2 — latest-version-wins per incident_id.
    inc = latest_wins(inc, ["incident_id"], ["modified_time_utc DESC", "start_time_utc DESC"])
    # O1 — canonical ordering exposed as a column (row order is not
    # meaningful in a distributed table; SURVEY.md §2.6 O1 note).
    return inc.selectExpr("*", f"{status_rank('status')} AS status_rank")


def ingest(raw: DataFrame, county_dim: DataFrame, now: str) -> DataFrame:
    """Full ingest: nested raw → flatten → normalize."""
    return normalize_incidents(flatten_situations(raw), county_dim, now)


def make_situations_fixture(spark: SparkSession) -> DataFrame:
    """Inline nested fixture (FIXTURES.md §12): covers 0-deviation
    situations, multi-deviation, empty messages, expired rows, missing
    ids, list-valued CountyNo, POINT and LINESTRING geometries,
    duplicate composite keys and versioned ids."""
    rows = [
        # 3 deviations incl. one empty message; parent fields repeat
        (
            "S1",
            "2024-01-10T08:00:00Z",
            "2024-01-10T07:00:00Z",
            [
                (
                    "D1", "Roadwork at exit", "Roadwork", "E6 north", "E6",
                    [14], "2024-01-12T00:00:00Z", "2024-01-20T00:00:00Z",
                    ("POINT (11.97 57.70)",),
                ),
                (
                    "D2", "", "Accident", "E6 south", "E6",
                    [14], "2024-01-12T00:00:00Z", None,
                    ("POINT (11.98 57.71)",),
                ),
                (
                    None, "Lane closed", "Obstacle", "Rv40", "40",
                    [13], "2024-01-14T06:00:00Z", None,
                    ("LINESTRING (11.9 57.7, 12.0 57.8)",),
                ),
            ],
        ),
        # no deviations → must disappear (inner explode)
        ("S2", "2024-01-10T09:00:00Z", "2024-01-10T08:30:00Z", []),
        # expired deviation (end < now) → dropped; plus a duplicate of
        # S1/D1's composite key with NEWER modified time → W1 keeps this
        (
            "S3",
            "2024-01-11T08:00:00Z",
            "2024-01-11T07:00:00Z",
            [
                (
                    "D4", "Old event", "Roadwork", "E4", "E4",
                    [1], "2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z",
                    ("POINT (18.06 59.33)",),
                ),
                (
                    "D5", "Roadwork at exit", "Roadwork", "E6 north", "E6",
                    [14], "2024-01-12T00:00:00Z", "2024-01-20T00:00:00Z",
                    ("POINT (11.97 57.70)",),
                ),
                (
                    "D8", "Planned closure", "Roadwork", "E18", "E18",
                    [18], "2024-01-25T00:00:00Z", "2024-01-26T00:00:00Z",
                    ("POINT (15.21 59.27)",),
                ),
            ],
        ),
        # two versions of the same incident_id → W2 keeps latest
        (
            "S4",
            "2024-01-12T10:00:00Z",
            "2024-01-12T09:00:00Z",
            [
                (
                    "D6", "Ferry delayed", "Ferry", "Route 1", "1",
                    [25], "2024-01-13T00:00:00Z", None,
                    ("POINT (17.0 62.0)",),
                )
            ],
        ),
        (
            "S5",
            "2024-01-13T10:00:00Z",
            "2024-01-13T09:00:00Z",
            [
                (
                    "D6", "Ferry delayed (update)", "Ferry", "Route 1", "1",
                    [25], "2024-01-13T00:00:00Z", None,
                    ("POINT (17.0 62.0)",),
                )
            ],
        ),
        # garbage timestamps + missing county list → NULL handling
        (
            "S6",
            "not-a-time",
            "2024-01-13T09:00:00Z",
            [
                (
                    "D7", "Unparseable times", "Other", "X", "X",
                    None, "2024-01-14T00:00:00Z", "garbage",
                    (None,),
                )
            ],
        ),
    ]
    return spark.createDataFrame(rows, schema=SITUATION_SCHEMA)


def make_county_dim(spark: SparkSession) -> DataFrame:
    """21-entry county dimension (reference COUNTY_MAP,
    transform.py:11-16 — numbers 1-25 with gaps {2,11,15,16}), as a
    local relation: a JVM-side literal, so broadcasting it runs no
    Python task (``createDataFrame`` would scan a pickled Python RDD)."""
    county_map = {
        1: "Stockholms län", 3: "Uppsala län", 4: "Södermanlands län",
        5: "Östergötlands län", 6: "Jönköpings län", 7: "Kronobergs län",
        8: "Kalmar län", 9: "Gotlands län", 10: "Blekinge län",
        12: "Skåne län", 13: "Hallands län", 14: "Västra Götalands län",
        17: "Värmlands län", 18: "Örebro län", 19: "Västmanlands län",
        20: "Dalarnas län", 21: "Gävleborgs län", 22: "Västernorrlands län",
        23: "Jämtlands län", 24: "Västerbottens län", 25: "Norrbottens län",
    }
    values = ", ".join(f"({k}, '{v}')" for k, v in county_map.items())
    return spark.sql(f"SELECT * FROM VALUES {values} AS dim(county_no, county_name)")
