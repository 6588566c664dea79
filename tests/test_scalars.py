"""Unit tests for the scalar family (SURVEY.md §2.8) — the semantics
DuckDB can't express directly are pinned here with handcrafted frames
(SURVEY.md §5 test-strategy note)."""

from __future__ import annotations

from pyspark.sql import functions as F

from trafik_etl_modular_spark.functions.scalars import (
    derive_status,
    fmt_utc_z,
    parse_iso_utc,
    status_rank,
    truncate_ellipsis,
    wkt_point_lat,
    wkt_point_lon,
)

NOW = "2024-01-16 00:00:00"


def test_parse_iso_utc_variants(spark):
    df = spark.createDataFrame(
        [("2024-01-10T08:00:00Z",), ("2024-01-10T08:00:00+00:00",), ("garbage",), (None,)],
        "s string",
    )
    out = [r[0] for r in df.select(F.expr(parse_iso_utc("s")).alias("t")).collect()]
    assert out[0] is not None and out[0].isoformat().startswith("2024-01-10T08:00")
    assert out[1] == out[0]
    assert out[2] is None  # F1: unparseable → NULL, reference returns None
    assert out[3] is None


def test_fmt_utc_z_roundtrip(spark):
    df = spark.createDataFrame([("2024-01-10T08:00:05Z",)], "s string")
    out = df.select(fmt_utc_z(F.expr(parse_iso_utc("s"))).alias("z")).collect()[0][0]
    assert out == "2024-01-10T08:00:05Z"


def test_status_derivation_cases(spark):
    # (start, end, expected) around injected now — F3 truth table
    rows = [
        ("2024-01-20 00:00:00", None, "KOMMANDE"),          # future start
        ("2024-01-10 00:00:00", "2024-01-20 00:00:00", "PÅGÅR"),  # spanning now
        ("2024-01-10 00:00:00", None, "PÅGÅR"),             # open-ended
        ("2024-01-01 00:00:00", "2024-01-02 00:00:00", None),     # expired → drop
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in rows], "s string, e string")
    out = df.select(
        F.expr(
            derive_status("CAST(s AS timestamp)", "CAST(e AS timestamp)", f"CAST('{NOW}' AS timestamp)")
        ).alias("st")
    ).collect()
    assert [r[0] for r in out] == [exp for _, _, exp in rows]


def test_status_rank(spark):
    df = spark.createDataFrame([("PÅGÅR",), ("KOMMANDE",), ("weird",), (None,)], "s string")
    out = [r[0] for r in df.select(F.expr(status_rank("s")).alias("r")).collect()]
    assert out == [0, 1, 9, 9]


def test_wkt_point_extraction(spark):
    df = spark.createDataFrame(
        [("POINT (11.97 57.70)",), ("LINESTRING (1 2, 3 4)",), (None,)], "g string"
    )
    out = df.select(
        F.expr(wkt_point_lon("g")).alias("lon"), F.expr(wkt_point_lat("g")).alias("lat")
    ).collect()
    assert (out[0]["lon"], out[0]["lat"]) == (11.97, 57.70)  # F4 swaps to (lat,lon)
    assert out[1]["lon"] is None and out[2]["lon"] is None


def test_truncate_ellipsis(spark):
    df = spark.createDataFrame([("x" * 30,), ("short",)], "s string")
    out = [r[0] for r in df.select(truncate_ellipsis("s", 24).alias("t")).collect()]
    assert out[0] == "x" * 24 + "…" and out[1] == "short"


def test_fquant_integer_round_trip(spark):
    """fquant: the emitted double is derived from an exact integer
    (round(x·10^n)::bigint/10^n) — endpoints exact, negatives and -0
    normalized, and the DuckDB SQL mirror produces the identical
    value for the same inputs."""
    import duckdb

    from pyspark.sql import functions as F

    from trafik_etl_modular_spark.functions.scalars import fquant, oracle_fquant

    vals = [0.0, 1.0, -0.25, 11.0 / 13.0, -4.0e-10, 2.0 / 3.0, 0.8461538461538461]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r[0] for r in df.select(fquant(F.col("x")).alias("q")).collect()]

    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {oracle_fquant('CAST(? AS DOUBLE)')}", [v]).fetchone()[0]
        for v in vals
    ]
    assert got == want
    # endpoints and sub-quantum values
    assert got[0] == 0.0 and got[1] == 1.0
    assert got[4] == 0.0 and repr(got[4]) == "0.0"  # -4e-10 → clean zero, not -0.0


def test_table_fingerprint_order_insensitive(spark, sf_dir):
    """The XOR fingerprint must be identical under any partitioning
    and any scan order — that is its whole point."""
    from trafik_etl_modular_spark.queries.dq import dq_table_fingerprint

    base = {
        r["event_type"]: (r["n_rows"], r["fingerprint"])
        for r in dq_table_fingerprint(spark, sf_dir).collect()
    }
    assert base and all(fp != 0 for _, fp in base.values())

    from trafik_etl_modular_spark.queries.common import t as _t

    ev = _t(spark, sf_dir, "events").repartition(64).sortWithinPartitions("value")
    ev.createOrReplaceTempView("events_shuffled")
    # recompute over the shuffled frame via the same expression path
    import trafik_etl_modular_spark.queries.dq as dq_mod
    from pyspark.sql import functions as F

    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss"),
        F.col("value").cast("decimal(18,4)").cast("string"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    re64 = {
        r["event_type"]: (r["n_rows"], r["fingerprint"])
        for r in ev.select("event_type", h.alias("__h"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr("bit_xor(__h)").alias("fingerprint"),
        )
        .collect()
    }
    assert re64 == base
