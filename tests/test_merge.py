"""The sink MERGE (``pipelines/sink.py::merge_into_incidents``) against
its reference: the union of the table and the batch resolved by
latest-wins, one row per key.  The MERGE decides on the batch's keys
alone and keeps the manifest's status counts by arithmetic; these tests
check both against a full recomputation, and check what it must not
do: accept an ambiguous batch, rewrite a partition for a stale batch,
or plan Python."""

from __future__ import annotations

import datetime
import glob
import os
import subprocess
import sys
import textwrap
import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from trafik_etl_modular_spark.operators.table import MANIFEST, table_files
from trafik_etl_modular_spark.plans.audit import PYTHON_PLAN_NODES
from trafik_etl_modular_spark.pipelines import sink
from trafik_etl_modular_spark.pipelines.sink import (
    merge_into_incidents,
    read_incidents,
    write_incidents,
)
from trafik_etl_modular_spark.queries.dedup import latest_wins

SCHEMA = (
    "incident_id string, start_time_utc timestamp, modified_time_utc timestamp, "
    "status string, v long"
)
STATUSES = ["PÅGÅR", "KOMMANDE", "OTHER"]
DAY0 = datetime.datetime(2024, 1, 10, 8, 0)


def _frame(spark, rows: dict, tag: int):
    """``{key: (day, modified hour or None, status index)}`` as a sink
    batch; ``v`` tells the versions apart."""
    data = [
        (
            k,
            DAY0 + datetime.timedelta(days=day),
            None if mod is None else DAY0 + datetime.timedelta(hours=mod),
            STATUSES[s],
            tag,
        )
        for k, (day, mod, s) in sorted(rows.items())
    ]
    return spark.createDataFrame(data, SCHEMA)


def _reference(table, batch):
    """The MERGE as a union resolved by latest-wins: newest
    ``modified_time_utc`` first, NULLs last, the batch before the table
    on a tie."""
    tagged = table.withColumn("__src", F.lit(0)).unionByName(
        batch.withColumn("event_date", F.to_date("start_time_utc")).withColumn("__src", F.lit(1))
    )
    return latest_wins(tagged, ["incident_id"], ["modified_time_utc DESC", "__src DESC"]).drop(
        "__src"
    )


def _rows(df) -> list[tuple]:
    cols = ["incident_id", "start_time_utc", "modified_time_utc", "status", "v", "event_date"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _manifest_matches_scan(spark, path: str) -> None:
    """Per partition, the manifest's rows/pagar/kommande equal a scan."""
    kept: dict[str, list[int]] = {}
    for e in table_files(path):
        c = kept.setdefault(e["value"], [0, 0, 0])
        for i, name in enumerate(("rows", "pagar", "kommande")):
            c[i] += e[name]
    scan = (
        read_incidents(spark, path)
        .groupBy(F.col("event_date").cast("string").alias("d"))
        .agg(
            F.count("*"),
            F.count_if(F.col("status") == "PÅGÅR"),
            F.count_if(F.col("status") == "KOMMANDE"),
        )
        .collect()
    )
    assert kept == {d: [n, p, k] for d, n, p, k in scan}


_version = st.tuples(
    st.integers(0, 3),  # start day: a new version may move to another day
    st.one_of(st.none(), st.integers(0, 2)),  # modified hour: ties and NULLs are common
    st.integers(0, 2),  # status
)
_keyed = st.dictionaries(st.sampled_from("abcdefg"), _version, max_size=6)


@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(table=_keyed.filter(bool), batches=st.lists(_keyed, min_size=1, max_size=2))
# a tie, NULL on both sides, NULL on either side, a stale row, a new key
@example(
    table={"a": (0, 1, 0), "b": (0, None, 0), "c": (1, None, 1), "d": (1, 1, 0), "e": (2, 2, 0)},
    batches=[
        {"a": (0, 1, 1), "b": (0, None, 1), "c": (1, 0, 0), "d": (1, None, 1), "e": (2, 1, 1),
         "f": (3, None, 0)}
    ],
)
# keys move to another day and empty theirs; then they move back
@example(
    table={"a": (0, 0, 0), "b": (0, 0, 1), "c": (1, 0, 0)},
    batches=[{"a": (2, 1, 1), "b": (3, 1, 0)}, {"a": (0, 2, 0), "c": (3, 2, 1)}],
)
def test_merge_equals_union_latest_wins(spark, tmp_path, table, batches):
    """After every MERGE the table equals the reference's, and the
    manifest's per-partition counts equal a full scan."""
    path = str(tmp_path / uuid.uuid4().hex)
    write_incidents(_frame(spark, table, 0), path)
    ref = read_incidents(spark, path).localCheckpoint()
    for tag, rows in enumerate(batches, start=1):
        batch = _frame(spark, rows, tag)
        ref = _reference(ref, batch).localCheckpoint()
        merge_into_incidents(spark, path, batch)
        assert _rows(read_incidents(spark, path)) == _rows(ref)
        _manifest_matches_scan(spark, path)


def _table(spark, path: str):
    write_incidents(_frame(spark, {"a": (0, 2, 0), "b": (1, 2, 1)}, 0), path)


def _state(path: str) -> tuple[bytes, list[str]]:
    with open(os.path.join(path, MANIFEST), "rb") as fh:
        manifest = fh.read()
    listing = sorted(os.path.relpath(f, path) for f in glob.glob(f"{path}/**", recursive=True))
    return manifest, listing


@pytest.mark.parametrize(
    "batch",
    [
        [("c", DAY0, DAY0, "PÅGÅR", 1), ("c", DAY0, DAY0, "KOMMANDE", 2)],
        [(None, DAY0, DAY0, "PÅGÅR", 1), ("c", DAY0, DAY0, "PÅGÅR", 1)],
    ],
    ids=["duplicate-key", "null-key"],
)
def test_merge_rejects_ambiguous_batch(spark, tmp_path, batch):
    """A batch must hold one row per key, none NULL: latest-wins cannot
    tell two versions in one batch apart.  The MERGE raises before it
    stages anything, and the table stays byte-identical."""
    path = str(tmp_path / "t")
    _table(spark, path)
    before = _state(path)
    with pytest.raises(ValueError, match="one row per non-NULL incident_id"):
        merge_into_incidents(spark, path, spark.createDataFrame(batch, SCHEMA))
    assert _state(path) == before


def test_stale_batch_commits_nothing(spark, tmp_path):
    """A batch whose every row is older than the table's version of its
    key changes nothing: same manifest bytes, same files."""
    path = str(tmp_path / "t")
    _table(spark, path)
    before = _state(path)
    merge_into_incidents(spark, path, _frame(spark, {"a": (2, 1, 1), "b": (1, None, 0)}, 1))
    assert _state(path) == before


def test_merge_plans_no_python(spark, tmp_path, monkeypatch):
    """The MERGE's decision query and its write plan no Python node,
    and its key sets are literal sets inside filters: no local relation,
    no broadcast, no Spark job of their own."""
    plans = []
    frame = type(spark.range(1))
    collect = frame.collect

    def decision(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df)

    replace = sink.replace_partitions

    def write(rows, *args):
        plans.append(rows._jdf.queryExecution().executedPlan().toString())
        return replace(rows, *args)

    path = str(tmp_path / "t")
    write_incidents(_frame(spark, {"a": (0, 2, 0), "b": (1, 2, 1), "c": (1, 2, 1)}, 0), path)
    # a replaces its old row, b is stale, d is new
    batch = _frame(spark, {"a": (2, 3, 0), "b": (1, 1, 0), "d": (1, 3, 0)}, 1)
    monkeypatch.setattr(frame, "collect", decision)
    monkeypatch.setattr(sink, "replace_partitions", write)
    merge_into_incidents(spark, path, batch)
    monkeypatch.undo()
    decide, rewrite = plans
    for plan in plans:
        assert not [n for n in PYTHON_PLAN_NODES if n in plan], plan
        assert "LocalTableScan" not in plan and "BroadcastExchange" not in plan, plan
    # the batch's keys select the table's rows, from every partition
    assert "Filter coalesce(" in decide and "PartitionFilters: []" in decide, decide
    # the replaced key filters the table's side, the stale key the batch's
    assert rewrite.count("Filter NOT coalesce(") == 2, rewrite
    got = read_incidents(spark, path).orderBy("incident_id").collect()
    assert [r["v"] for r in got] == [1, 0, 0, 1]


def test_run_etl_starts_no_python_worker(feed_dir_factory):
    """One ``run_etl`` call in a fresh session leaves no ``pyspark.daemon``
    or ``pyspark.worker`` process under it: nothing on its path (feed
    read, dimension join, MERGE decision, key sets) runs Python."""
    feed = feed_dir_factory()
    script = textwrap.dedent(
        f"""
        import os
        from trafik_etl_modular_spark import get_spark
        from trafik_etl_modular_spark.pipelines.etl_job import run_etl
        from trafik_etl_modular_spark.pipelines.ingest import make_county_dim

        spark = get_spark("no-python-worker", cpus=2, shuffle_partitions=2)
        sink = os.path.join({feed!r}, "sink")
        for _ in range(2):
            assert run_etl(spark, {feed!r}, sink, make_county_dim(spark))["rows"] == 8
        parent = {{}}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{{pid}}/stat") as fh:
                    parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{{pid}}/cmdline", "rb") as fh:
                    parent[int(pid), "cmd"] = fh.read().replace(b"\\0", b" ").decode()
            except OSError:
                pass
        def under_me(pid):
            while pid > 1:
                if pid == os.getpid():
                    return True
                pid = parent.get(pid, 0)
            return False
        workers = [
            parent[p, "cmd"] for p in parent
            if isinstance(p, int) and under_me(p) and p != os.getpid()
            and ("pyspark.daemon" in parent.get((p, "cmd"), "")
                 or "pyspark.worker" in parent.get((p, "cmd"), ""))
        ]
        print("PYTHON_WORKERS", len(workers), workers)
        spark.stop()
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root,
        env={**os.environ, "PYTHONPATH": root},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "PYTHON_WORKERS 0 []" in out.stdout, out.stdout


@pytest.fixture
def feed_dir_factory(tmp_path):
    from tests.test_sources import PAGE_TMPL

    def make():
        d = tmp_path / "feed"
        d.mkdir()
        for p in range(1, 5):
            (d / f"page_{p:03d}.xml").write_text(PAGE_TMPL.format(p=p))
        return str(d)

    return make
