"""Partition-shape and partition-rewrite helpers.

:func:`fan_out` widens a narrow scan for CPU-heavy operators: a single
small parquet file scans as ONE partition, which serializes
per-row-expensive compute (sketching, hashing, array transforms) on a
single task no matter how many cores the cluster has — measured 3-4×
of the whole MinHash pipeline at sf0.1 on local[32].  At lake scale
the scan already yields ≥ cores partitions and it no-ops, costing
nothing.

:func:`replace_partitions` is the engine's one "replace these
partitions of a partitioned parquet table" (the pure-parquet MERGE of
SURVEY §7.1/§7.4): the sink's MERGE and the IVF index's compaction and
purge all call it.  :func:`publish_dir` is the one publish step of a
build-once warehouse artifact, and :func:`staged_dir` the one build of
a directory derived from a fixture file.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer
    partitions than the target (default: cluster parallelism).

    Use immediately before CPU-bound narrow transforms whose input may
    be a handful of small files.  Deliberately NOT applied when the
    input is already wide — an unconditional repartition would add a
    full shuffle of the payload to every well-partitioned lake scan."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def replace_partitions(rows: DataFrame, path: str, col: str, values: list) -> None:
    """Make ``rows`` the whole content of the ``col`` partitions
    ``values`` of the parquet table at ``path``; other partitions keep
    their files byte-for-byte.

    One dynamic partition overwrite, as a per-write option (the session
    conf is untouched, so a plain overwrite elsewhere still replaces
    the whole table).  ``rows`` is repartitioned on ``col`` first, so
    each value is written by one task into one file.  ``rows`` may read
    ``path`` itself: the write stages its files and only swaps a
    partition directory in at job commit, after every task has read
    its input.  A failed job commits nothing.  The overwrite replaces
    only partitions that received rows, so each listed partition that
    still holds one of its old files afterwards got none — all its
    rows are gone — and is removed.

    Not atomic over plain parquet: the commit swaps partition
    directories one at a time, so a crash mid-commit can leave some
    partitions replaced and others not."""
    dirs = [os.path.join(path, f"{col}={v}") for v in values]
    before = {d: set(os.listdir(d)) for d in dirs if os.path.isdir(d)}
    (
        rows.repartition(F.col(col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )
    for d, files in before.items():
        if files & set(os.listdir(d)):
            shutil.rmtree(d)


def publish_dir(tmp: str, path: str) -> None:
    """Publish a fully built artifact directory ``tmp`` at ``path`` by
    one rename, so readers see all of it or none of it.  If another
    process published ``path`` first, its artifact (built from the
    same inputs) wins and ``tmp`` is discarded."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def staged_dir(src: str, tag: str, write: Callable[[str], None]) -> str:
    """Return ``/tmp/trafik_<tag>_<source>_<version>``, a dir derived
    from the file ``src`` and built once: ``write(tmp)`` fills a temp dir
    that :func:`publish_dir` renames into place, so a reader sees all of
    it or none.  ``<source>`` hashes ``src``'s path and ``tag``,
    ``<version>`` its mtime and size: a fixture regenerated at the same
    path gets a new dir, never a stale one, and the older ones go."""
    st = os.stat(src)
    source = hashlib.md5(f"{os.path.abspath(src)}|{tag}".encode()).hexdigest()[:10]
    version = hashlib.md5(f"{st.st_mtime_ns}|{st.st_size}".encode()).hexdigest()[:10]
    path = f"/tmp/trafik_{tag}_{source}_{version}"
    if not os.path.isdir(path):
        tmp = f"{path}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        write(tmp)
        publish_dir(tmp, path)
        # ten characters after `<source>_`: other builders' temp dirs stay
        for old in set(glob.glob(glob.escape(path[:-10]) + "?" * 10)) - {path}:
            shutil.rmtree(old, ignore_errors=True)
    return path
