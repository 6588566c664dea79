"""Single-query isolation bench (optimization rounds).

Times named queries on a warm session with BOTH actions:
  * the noop sink (guide §1.4 — computes every column, discards
    output; isolates computation from Arrow/driver transfer), and
  * toPandas (the bench.py methodology, for comparability).

Optionally dumps `.explain("formatted")` per query to plans/<tag>/
as <name>_<suffix>.txt (before/after plan evidence; git-ignored).

Usage:
    python tools/qtime.py [--reps N] [--plans TAG:SUFFIX] name [name ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from trafik_etl_modular_spark import get_spark  # noqa: E402
from trafik_etl_modular_spark.registry import REGISTRY, _load_all  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    reps = 3
    plans_dir = None
    suffix = None
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--plans":
            tag, suffix = args[i + 1].split(":")
            plans_dir = os.path.join(REPO, "plans", tag)
            os.makedirs(plans_dir, exist_ok=True)
            i += 2
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _load_all()
    spark = get_spark("qtime")
    sc = spark.sparkContext

    # Same one-time staging as bench.py so the measured run times the
    # operator, not fixture/index builds.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        from trafik_etl_modular_spark.operators.bucketing import (
            ensure_bucketed_orders_lineitem,
        )
        from trafik_etl_modular_spark.queries.graph import ensure_edge_table
        from trafik_etl_modular_spark.queries.llmdata import _ivf_ensure_index
        from trafik_etl_modular_spark.queries.source_feed import ensure_feed_dir
        from trafik_etl_modular_spark.streaming.sessionize import (
            stage_time_ordered_chunks,
        )

        ensure_feed_dir(sf_dir)
        stage_time_ordered_chunks(sf_dir)
        ensure_bucketed_orders_lineitem(spark, sf_dir)
        _ivf_ensure_index(spark, sf_dir)
        ensure_edge_table(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        print(f"warmup: {type(e).__name__}: {e}", file=sys.stderr)

    def release() -> None:
        try:
            spark.catalog.clearCache()
            jmap = sc._jsc.getPersistentRDDs()
            for rid in list(jmap.keySet().toArray()):
                jmap.get(rid).unpersist(False)
        except Exception:  # noqa: BLE001
            pass

    for name in names:
        q = REGISTRY[name]
        if plans_dir is not None:
            try:
                df = q.fn(spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                    f.write(plan)
            except Exception as e:  # noqa: BLE001
                print(f"{name}: explain failed: {type(e).__name__}: {e}",
                      file=sys.stderr)
            release()
        noop_ts, pd_ts = [], []
        for _ in range(reps):
            sc.setJobDescription(f"qtime:noop:{name}")
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            noop_ts.append(time.perf_counter() - t0)
            release()
            sc.setJobDescription(f"qtime:toPandas:{name}")
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).toPandas()
            pd_ts.append(time.perf_counter() - t0)
            release()
            sc.setJobDescription(None)
        fmt = lambda ts: "/".join(f"{x:.2f}" for x in sorted(ts))  # noqa: E731
        print(f"{name:44} noop {fmt(noop_ts)}  toPandas {fmt(pd_ts)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
