"""SparkSession factory.

One place to pin every config that correctness or scale depends on:
UTC session timezone (oracle comparison, cf. reference ISO-8601-UTC
normalization at /root/reference/src/trv/transform.py:18-23), AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for the
pandas-UDF slow path, and a shuffle-partition count sized to the
local core count rather than the 200 default.

At cluster scale the same factory applies — only `master`,
`spark.sql.shuffle.partitions` and memory sizing change, and both are
env-overridable here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "trafik-etl-modular-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session with engine-pinned configs.

    ``shuffle_partitions`` defaults to the core count: at local test
    scale that avoids 200 tiny tasks per shuffle; on a real cluster
    callers pass ~2-3x total cores (or rely on AQE coalescing, which
    is enabled and will shrink oversized shuffle stages at runtime).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # Fixture `events.ts` is TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as raw nanos (long) and convert in the
        # catalog (exact integer division — no double round-trip).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.shuffle.spill.compress", "true")
        # Let the planner pick a shuffled-hash join when its build-side
        # size conditions hold instead of always sorting both legs
        # (optimization-guide §3.1/§9): the no-sort build won an
        # interleaved A/B on every SMJ-heavy query tried (9-query
        # subset 31.7 → 24.0 s at sf0.1).  Two distinct paths open up
        # (ADVICE r12 item 4): the AQE SMJ→SHJ rewrite is bounded by
        # MEASURED per-partition size (the local-map threshold below),
        # but preferSortMergeJoin=false ALSO lets static planning pick
        # SHJ from ESTIMATED stats, which has no measured-size bound
        # and no sort-merge fallback — a badly misestimated build side
        # can still OOM there.  preferSortMergeJoin=true via
        # ``extra_conf`` is the mitigation for misestimate-prone
        # cluster profiles where sort-merge's graceful spill is
        # preferred wholesale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
