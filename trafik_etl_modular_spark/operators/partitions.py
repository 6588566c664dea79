"""Partition-shape and directory-publish helpers.

:func:`fan_out` widens a narrow scan for CPU-heavy operators: a single
small parquet file scans as ONE partition, which serializes
per-row-expensive compute (sketching, hashing, array transforms) on a
single task no matter how many cores the cluster has — measured 3-4×
of the whole MinHash pipeline at sf0.1 on local[32].  At lake scale
the scan already yields ≥ cores partitions and it no-ops, costing
nothing.

:func:`publish_dir` is the one publish step of a build-once warehouse
artifact, and :func:`staged_dir` the one build of a directory derived
from a fixture file.  Partitioned tables are written through
:mod:`~trafik_etl_modular_spark.operators.table`.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame


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
