"""The engine's partitioned-table format: parquet files in Hive-style
``col=value`` directories plus one manifest, ``_manifest.json``, that
lists the table's live snapshot — its schema and, per file, the
partition value, the row count and any tallies the writer kept.
The incidents sink and the IVF index are such tables.

A write commits by renaming one file (SURVEY.md §7.4, upsert without
Delta; the reference's one-transaction SQLite upsert,
load_sqlite.py:73-103):

  1. Spark writes the new rows into a staging dir inside the table,
     one file per partition value;
  2. the driver moves those files into their partition dirs — no
     manifest lists them yet, so no reader sees them;
  3. the driver writes the next manifest under a temp name and renames
     it over ``_manifest.json``: the commit point;
  4. then it deletes every file the manifest does not list: the files
     the commit dropped, the staging dir, and whatever a crashed
     commit left behind.

A crash before step 3 leaves the previous snapshot live; after it, the
new one.  Readers read exactly the listed files with the listed schema,
so a read neither lists the table dir nor infers a schema from footers.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_manifest.json"


def _manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, MANIFEST)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def table_files(path: str) -> list[dict]:
    """The live snapshot's file entries (``file``, ``value``, ``rows``
    and the writer's tallies); empty when nothing was committed."""
    m = _manifest(path)
    return m["files"] if m else []


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """The committed snapshot of the table at ``path``.  Starts no Spark
    job up to ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32) files; above it Spark lists the given paths in one job."""
    m = _manifest(path)
    if m is None:
        raise FileNotFoundError(f"no table committed at {path}")
    schema = StructType.fromJson(m["schema"])
    files = [os.path.join(path, e["file"]) for e in m["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", path).parquet(*files)


def dir_value(v) -> str:
    """A partition value as Spark spells it in the directory name, and
    as the manifest's ``value`` field holds it."""
    return "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)


def replace_partitions(
    rows: DataFrame, path: str, col: str, values: list | None = None, tallies: dict | None = None
) -> None:
    """Make ``rows`` the whole content of the ``col`` partitions
    ``values`` of the table at ``path`` — of the whole table when
    ``values`` is None — and commit.  Other partitions keep their files
    byte-for-byte; ``values=[]`` replaces none, so ``rows`` is appended.

    ``rows`` is repartitioned on ``col``, so each value is written by
    one task into one file.  ``rows`` may read the table itself: the
    files it replaces are deleted only after the commit.  A failed
    write commits nothing and leaves the table's files as they were.

    ``tallies`` maps each written value, spelled as :func:`dir_value`
    spells it, to counts the caller kept for its rows (e.g. ``{"pagar":
    3}``); they ride the value's entry in the manifest."""
    old = _manifest(path)
    if values is None or old is None:
        kept = []
    else:
        gone = {dir_value(v) for v in values}
        kept = [e for e in old["files"] if e["value"] not in gone]
    stage = os.path.join(path, f"_stage-{uuid.uuid4().hex}")
    try:
        rows.repartition(F.col(col)).write.partitionBy(col).parquet(stage)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    added = []
    for d in sorted(os.listdir(stage)):
        if not d.startswith(f"{col}="):
            continue
        value = d.split("=", 1)[1]
        os.makedirs(os.path.join(path, d), exist_ok=True)
        parts = sorted(f for f in os.listdir(os.path.join(stage, d)) if f.endswith(".parquet"))
        for i, f in enumerate(parts):
            os.rename(os.path.join(stage, d, f), os.path.join(path, d, f))
            entry = {
                "file": f"{d}/{f}",
                "value": value,
                "rows": pq.read_metadata(os.path.join(path, d, f)).num_rows,
            }
            # a value's tallies ride its first file, so sums stay exact
            # if a session's maxRecordsPerFile splits it
            counts = tallies[value] if tallies is not None else {}
            added.append(entry | {n: c if i == 0 else 0 for n, c in counts.items()})
    schema = StructType([f for f in rows.schema if f.name != col] + [rows.schema[col]])
    manifest = {"schema": schema.jsonValue(), "files": kept + added}
    _publish(path, manifest)
    _sweep(path, manifest)


def _publish(path: str, manifest: dict) -> None:
    """The commit point: one rename makes ``manifest`` the live snapshot."""
    tmp = os.path.join(path, f".manifest-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, MANIFEST))


def _sweep(path: str, manifest: dict) -> None:
    """Delete every file under ``path`` that ``manifest`` does not list,
    and every dir left empty, so the table dir holds exactly the
    snapshot and its one manifest."""
    live = {e["file"] for e in manifest["files"]} | {MANIFEST}
    for d, _, files in os.walk(path, topdown=False):
        for f in files:
            if os.path.relpath(os.path.join(d, f), path) not in live:
                os.remove(os.path.join(d, f))
        if d != path and not os.listdir(d):
            os.rmdir(d)
