"""Seeded input generators and their ground truth.

Everything here is pure Python / numpy / pyarrow: the engine never sees
the seed, only the generated files.  The same ``seed`` gives byte-identical
inputs, and every generator returns the facts the correctness checks need
(`checks.py`) alongside the data.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The engine's injected wall clock (constants.NOW_UTC), repeated here so
# generation needs no engine import.
NOW = dt.datetime(2024, 1, 16, 0, 0, 0)
UTC_FMT = "%Y-%m-%dT%H:%M:%SZ"

# ---------------------------------------------------------------------------
# etl_incremental: XML feed pages re-versioning a preloaded incident table
# ---------------------------------------------------------------------------

ETL_DAYS = 30
ETL_FIRST_DAY = dt.datetime(2024, 1, 1)
ETL_PAGE_ROWS = 500
ETL_PRELOAD_MODIFIED = dt.datetime(2024, 1, 15, 0, 0, 0)
_TYPES = ("Vägarbete", "Olycka", "Hinder", "Färja", "Trafikmeddelande", "Viktig trafikinformation")
# County numbers the engine's county dimension knows (1-25 minus gaps).
_COUNTIES = (1, 3, 4, 5, 6, 7, 8, 9, 10, 12, 13, 14, 17, 18, 19, 20, 21, 22, 23, 24, 25)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


class EtlInputs:
    """A preloaded incident population plus per-op re-versioning batches.

    Every incident is live at ``NOW`` (upcoming or ongoing, never expired),
    has a unique message, and keeps its start time across versions — so a
    batch never moves a row between ``event_date`` partitions, the table's
    row count stays at ``n_incidents``, and the status split is fixed.
    """

    def __init__(self, seed: int, n_incidents: int, batch_rows: int):
        self.seed = seed
        self.n = n_incidents
        self.batch_rows = batch_rows
        r = rng_for(seed, 1)
        day = np.arange(self.n) % ETL_DAYS
        r.shuffle(day)
        secs = r.integers(0, 86_400, self.n)
        self.start = [
            ETL_FIRST_DAY + dt.timedelta(days=int(d), seconds=int(s))
            for d, s in zip(day, secs)
        ]
        hours = r.integers(1, 72, self.n)
        open_ended = r.random(self.n) < 0.3
        self.end = [
            None
            if oe
            else (max(s, NOW) + dt.timedelta(hours=int(h)))
            for s, h, oe in zip(self.start, hours, open_ended)
        ]
        self.type_idx = r.integers(0, len(_TYPES), self.n)
        self.county = r.choice(_COUNTIES, self.n)
        self.road = r.integers(1, 999, self.n)
        self.lon = np.round(r.uniform(11.0, 24.0, self.n), 4)
        self.lat = np.round(r.uniform(55.3, 69.0, self.n), 4)
        self.n_upcoming = sum(1 for s in self.start if s > NOW)
        self.n_ongoing = self.n - self.n_upcoming

    @staticmethod
    def incident_id(i: int) -> str:
        return f"D{i:07d}"

    @staticmethod
    def version_tag(version: int) -> str:
        return f"v{version}"

    def message(self, i: int, version: int) -> str:
        return f"{_TYPES[self.type_idx[i]]} {self.incident_id(i)} {self.version_tag(version)}"

    def modified(self, version: int) -> dt.datetime:
        return ETL_PRELOAD_MODIFIED + dt.timedelta(seconds=version)

    def batch_ids(self, version: int) -> np.ndarray:
        """Incident indices re-versioned by op ``version`` (>= 1): uniform
        over the whole population, so every daily partition is touched."""
        return np.sort(rng_for(self.seed, 2, version).choice(self.n, self.batch_rows, replace=False))

    def _deviation_xml(self, i: int, version: int) -> str:
        end = self.end[i]
        end_xml = f"<EndTime>{end.strftime(UTC_FMT)}</EndTime>" if end else ""
        return (
            f"<Deviation><Id>{self.incident_id(i)}</Id>"
            f"<Message>{self.message(i, version)}</Message>"
            f"<MessageType>{_TYPES[self.type_idx[i]]}</MessageType>"
            f"<LocationDescriptor>Väg {self.road[i]}</LocationDescriptor>"
            f"<RoadNumber>{self.road[i]}</RoadNumber>"
            f"<CountyNo>{self.county[i]}</CountyNo>"
            f"<StartTime>{self.start[i].strftime(UTC_FMT)}</StartTime>{end_xml}"
            f"<Geometry><WGS84>POINT ({self.lon[i]} {self.lat[i]})</WGS84></Geometry>"
            "</Deviation>"
        )

    def pages(self, ids, version: int) -> list[str]:
        """XML pages of ``ETL_PAGE_ROWS`` deviations, two per Situation."""
        mod = self.modified(version).strftime(UTC_FMT)
        out = []
        for p in range(0, len(ids), ETL_PAGE_ROWS):
            chunk = ids[p : p + ETL_PAGE_ROWS]
            sits = []
            for s in range(0, len(chunk), 2):
                devs = "".join(self._deviation_xml(int(i), version) for i in chunk[s : s + 2])
                sits.append(
                    f"<Situation><Id>S{version}-{p + s}</Id><ModifiedTime>{mod}</ModifiedTime>"
                    f"<PublicationTime>{mod}</PublicationTime>{devs}</Situation>"
                )
            out.append("<Response>" + "".join(sits) + "</Response>")
        return out

    def initial_table(self) -> pa.Table:
        """Every incident at version 0, in the sink's 13-column shape minus
        the dimension-joined ``county_name`` — what ``run_etl`` would have
        published after landing the whole population once."""
        ts = pa.timestamp("us", tz="UTC")
        return pa.table(
            {
                "incident_id": [self.incident_id(i) for i in range(self.n)],
                "message": [self.message(i, 0) for i in range(self.n)],
                "message_type": [_TYPES[k] for k in self.type_idx.tolist()],
                "location_descriptor": [f"Väg {r}" for r in self.road.tolist()],
                "road_number": [str(r) for r in self.road.tolist()],
                "county_no": pa.array(self.county, pa.int32()),
                "start_time_utc": pa.array(self.start, ts),
                "end_time_utc": pa.array(self.end, ts),
                "modified_time_utc": pa.array([self.modified(0)] * self.n, ts),
                "latitude": self.lat,
                "longitude": self.lon,
                "status": ["KOMMANDE" if s > NOW else "PÅGÅR" for s in self.start],
            }
        )

    def write_feed(self, feed_dir: str, ids, version: int) -> int:
        """Land one feed (a fresh directory of pages); returns the page count."""
        os.makedirs(feed_dir, exist_ok=True)
        pages = self.pages(ids, version)
        for k, xml in enumerate(pages):
            with open(os.path.join(feed_dir, f"page_{k:04d}.xml"), "w", encoding="utf-8") as f:
                f.write(xml)
        return len(pages)


# ---------------------------------------------------------------------------
# dashboard_interactive: an events fact table + nation dimension
# ---------------------------------------------------------------------------

DASH_WINDOWS = (7, 14, 30)
DASH_TYPES = ("error", "signup", "purchase", "view", "click", "logout", "search", "share")
DASH_FILES = 8


def nation_table() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }
    )


def events_table(seed: int, n_rows: int) -> pa.Table:
    """Events spanning NOW - 40 days .. NOW + 5 days, so each scan window
    selects a different share of rows."""
    r = rng_for(seed, 10)
    lo = int((NOW - dt.timedelta(days=40)).timestamp() * 1_000_000)
    hi = int((NOW + dt.timedelta(days=5)).timestamp() * 1_000_000)
    ts = np.sort(r.integers(lo, hi, n_rows))
    k = r.integers(0, 100, n_rows)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 10_000, n_rows, dtype=np.int64)),
            "event_type": pa.array(np.array(DASH_TYPES)[r.integers(0, len(DASH_TYPES), n_rows)]),
            "value": pa.array(np.round(r.uniform(0, 500, n_rows), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def write_dashboard_dir(sf_dir: str, events: pa.Table) -> None:
    """Lay the tables out the way the engine's catalog reads them:
    ``<dir>/<name>.parquet``; events split into several files so the scan
    has one task per core."""
    os.makedirs(os.path.join(sf_dir, "events.parquet"), exist_ok=True)
    step = -(-events.num_rows // DASH_FILES)
    for f in range(DASH_FILES):
        pq.write_table(
            events.slice(f * step, step),
            os.path.join(sf_dir, "events.parquet", f"part-{f:03d}.parquet"),
        )
    pq.write_table(nation_table(), os.path.join(sf_dir, "nation.parquet"))


def dashboard_truth(events: pa.Table, scan_days: int, top: int = 10) -> dict:
    """kpis and the county_bar head for one window, computed with pyarrow
    from the generator's own table — the semantics the engine documents
    in pipelines/incidents.py and pipelines/dashboard.py."""
    now_us = int(NOW.timestamp() * 1_000_000)
    ts = pc.cast(events["ts"], pa.int64()).to_numpy()
    eid = events["event_id"].to_numpy()
    uid = events["user_id"].to_numpy()
    hour = 3_600_000_000
    end = np.where(eid % 7 == 0, np.iinfo(np.int64).max, ts + (eid % 48) * hour)
    upcoming = ts > now_us
    ongoing = (ts <= now_us) & (end > now_us)
    in_window = ts > now_us - scan_days * 24 * hour
    keep = in_window & (upcoming | ongoing)
    county = np.where(uid % 10 == 0, -1, uid % 25)[keep]
    keys, counts = np.unique(county, return_counts=True)
    names = ["Okänt län" if k < 0 else f"NATION_{k}" for k in keys.tolist()]
    bar = sorted(zip(names, counts.tolist()), key=lambda nc: (-nc[1], nc[0]))[:top]
    return {
        "scanned": int(in_window.sum()),
        "total": int(keep.sum()),
        "pagar": int((keep & ongoing).sum()),
        "kommande": int((keep & upcoming).sum()),
        "county_bar": bar,
    }


# ---------------------------------------------------------------------------
# corpus_dedup: document shards with planted near-duplicates + embeddings
# ---------------------------------------------------------------------------

CORPUS_VOCAB = 200_000
CORPUS_DOC_WORDS = 64
CORPUS_DIM = 64
CORPUS_DUP_SHARE = 0.2


def _planted_groups(r: np.random.Generator, n: int) -> tuple[np.ndarray, list[list[int]]]:
    """Assign ``CORPUS_DUP_SHARE`` of ``n`` items as copies of sources.

    Returns (source_of, groups): ``source_of[i]`` is the item ``i`` copies
    (or ``i`` itself) and ``groups`` lists each planted cluster (source
    first).  Items are positions in a shuffled order, so copies are not
    adjacent to their sources."""
    n_copies = int(n * CORPUS_DUP_SHARE)
    n_src = n - n_copies
    src_of_copy = r.integers(0, n_src // 2, n_copies)  # ~1-3 copies per source
    order = r.permutation(n)
    source_of = np.empty(n, dtype=np.int64)
    source_of[order[:n_src]] = order[:n_src]
    source_of[order[n_src:]] = order[src_of_copy]
    members: dict[int, list[int]] = {}
    for i, s in enumerate(source_of.tolist()):
        if i != s:
            members.setdefault(s, [s]).append(i)
    return source_of, sorted(members.values())


def docs_shard(seed: int, shard: int, n_docs: int) -> tuple[pa.Table, list[list[int]]]:
    """Documents of ``CORPUS_DOC_WORDS`` words over a vocabulary large
    enough that unrelated documents share no shingles; each planted copy
    differs from its source by one substituted word (3-shingle Jaccard
    >= 0.9).  Returns (docs table, planted clusters as doc_id lists)."""
    r = rng_for(seed, 20, shard)
    source_of, groups = _planted_groups(r, n_docs)
    words = r.integers(0, CORPUS_VOCAB, (n_docs, CORPUS_DOC_WORDS))
    copy = source_of != np.arange(n_docs)
    words[copy] = words[source_of[copy]]
    pos = r.integers(0, CORPUS_DOC_WORDS, n_docs)
    sub = r.integers(0, CORPUS_VOCAB, n_docs)
    rows = np.nonzero(copy)[0]
    words[rows, pos[rows]] = sub[rows]
    vocab = np.array([f"t{k}" for k in range(CORPUS_VOCAB)])
    text = [" ".join(ws) for ws in vocab[words].tolist()]
    base = shard * 10_000_000
    table = pa.table({"doc_id": pa.array(base + np.arange(n_docs, dtype=np.int64)), "text": text})
    return table, [[base + i for i in g] for g in groups]


def vectors_shard(seed: int, shard: int, n_vecs: int) -> tuple[pa.Table, list[list[int]]]:
    """Gaussian ``CORPUS_DIM``-d vectors; each planted copy is its source
    rescaled by a factor in [0.5, 2] with a 1e-7 relative jitter per
    component.  Cosine to the source is 1 - O(1e-14) and the jitter is far
    below any k-means cell margin, so a copy shares its source's cell
    wherever the engine's quantizer draws boundaries; unrelated pairs sit
    near cosine 0 (64-d), far below the dedup threshold."""
    r = rng_for(seed, 30, shard)
    source_of, groups = _planted_groups(r, n_vecs)
    x = r.standard_normal((n_vecs, CORPUS_DIM))
    copy = source_of != np.arange(n_vecs)
    scale = r.uniform(0.5, 2.0, (n_vecs, 1))
    jitter = 1.0 + 1e-7 * r.standard_normal((n_vecs, CORPUS_DIM))
    x[copy] = x[source_of[copy]] * scale[copy] * jitter[copy]
    base = shard * 10_000_000
    table = pa.table(
        {
            "vec_id": pa.array(base + np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(x.tolist(), pa.list_(pa.float64())),
        }
    )
    return table, [[base + i for i in g] for g in groups]
