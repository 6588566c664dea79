"""Scalar function family (SURVEY.md §2.8, F1–F19).

Every reference scalar re-expressed as JVM-side Catalyst expressions
(whole-stage-codegen friendly — no Python in the hot path).  The one
genuinely Python-requiring scalar, WKT-centroid-of-arbitrary-geometry
(F5, /root/reference/src/trv/transform.py:25-47), lives in
``functions/geo.py`` as a pandas UDF with a regex fast path for
POINTs handled here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trafik_etl_modular_spark.constants import STATUS_ONGOING, STATUS_UPCOMING

# ---------------------------------------------------------------------------
# Deterministic aggregates (engine-parity helpers)
# ---------------------------------------------------------------------------


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent float sum: round each term to ``scale`` decimals
    via an exact decimal cast, sum exactly, return double.

    Double summation order differs between Spark's partial/parallel
    aggregation and a sequential engine, so raw ``sum(double)`` is not
    reproducible bit-for-bit.  Summing ``decimal(38, scale)`` is exact
    and associative — the result is identical regardless of partitioning,
    matching ``CAST(SUM(CAST(x AS DECIMAL(38,s))) AS DOUBLE)`` in any
    ANSI engine.  Cost: decimal aggregation is modestly slower than
    double, but it stays inside whole-stage codegen and partial
    aggregation still applies; at 100 TB the determinism is worth it
    (and it's how money types should be summed anyway).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(T.DecimalType(38, scale))).cast("double")


def davg(col: Column | str, scale: int = 4) -> Column:
    """Deterministic average: exact decimal sum cast to double, then a
    single IEEE double division by the count — bit-identical in any
    engine that follows the same recipe."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)


def fquant(col: Column, ndigits: int = 9) -> Column:
    """Quantize a double through an exact integer round-trip:
    ``round(x·10^n) :: bigint :: double / 10^n``.

    Both engines round the same double to the same integer and divide
    by the same power of ten, so the emitted float is DERIVED FROM
    IDENTICAL INTEGERS on both sides of an oracle comparison — immune
    to engine- or harness-side float-repr / last-ULP divergence.  Use
    on every driver-visible ratio column (m/n projections); exact at
    0.0/1.0 endpoints.  (Round-4 driver hash mismatches on two
    ratio-emitting queries were not reproducible locally; this closes
    the class.)"""
    p = float(10**ndigits)
    return F.round(col * F.lit(p)).cast("bigint").cast("double") / F.lit(p)


def oracle_fquant(expr: str, ndigits: int = 9) -> str:
    """DuckDB SQL mirror of :func:`fquant`."""
    p = f"1e{ndigits}"
    return f"(CAST(ROUND(({expr}) * {p}) AS BIGINT) / {p})"


def oracle_dsum(expr: str, scale: int = 4) -> str:
    """DuckDB SQL mirror of :func:`dsum` for oracle queries."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,{scale}))) AS DOUBLE)"


def oracle_davg(expr: str, scale: int = 4) -> str:
    """DuckDB SQL mirror of :func:`davg` (double division of the exact
    sum by the count — same IEEE operation order as the Spark side)."""
    return f"({oracle_dsum(expr, scale)} / COUNT({expr}))"


# ---------------------------------------------------------------------------
# The ingest scalars (F1, F3, F4, O1) are Spark SQL text over SQL
# operands (a column name or an expression), so a pipeline stage fuses
# them into one ``selectExpr``: one analysed projection instead of a
# py4j call per Column node.  ``F.expr`` turns one into a Column.
# ---------------------------------------------------------------------------


def parse_iso_utc(col: str) -> str:
    """F1 — ISO-8601 string (optionally 'Z'-suffixed) → UTC timestamp,
    NULL on unparseable input (reference: transform.py:18-23 returns
    None on failure). `try_to_timestamp`, because Spark 4 defaults to
    ANSI mode where a plain cast would throw on garbage."""
    return f"try_to_timestamp(regexp_replace({col}, 'Z$', '+00:00'))"


def fmt_utc_z(col: Column | str) -> Column:
    """F2 — UTC timestamp → `...Z` string at second precision
    (reference: endpoints.py:10-14)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")


def derive_status(start: str, end: str, now: str) -> str:
    """F3 — CASE WHEN over event time vs injected `now`
    (reference: transform.py:68-73):

      * start >  now                         → KOMMANDE (upcoming)
      * start <= now and (end null or > now) → PÅGÅR    (ongoing)
      * otherwise                            → NULL      (expired;
        callers drop it, mirroring the reference's P3 drop)
    """
    return (
        f"CASE WHEN ({start}) > ({now}) THEN '{STATUS_UPCOMING}' "
        f"WHEN ({start}) <= ({now}) AND (({end}) IS NULL OR ({end}) > ({now})) "
        f"THEN '{STATUS_ONGOING}' END"
    )


def status_rank(status: str) -> str:
    """O1 — custom sort key {PÅGÅR:0, KOMMANDE:1, other:9}
    (reference: transform.py:120-127)."""
    return (
        f"CASE WHEN ({status}) = '{STATUS_ONGOING}' THEN 0 "
        f"WHEN ({status}) = '{STATUS_UPCOMING}' THEN 1 ELSE 9 END"
    )


# F4 — WKT POINT fast path, pure regexp (JVM-side).  Brackets instead of
# backslashes, so the pattern reads the same under either setting of
# spark.sql.parser.escapedStringLiterals.
_WKT_POINT = "^POINT [(]([-+]?[0-9.]+) ([-+]?[0-9.]+)[)]$"


def wkt_point_lon(col: str) -> str:
    """F4 — `POINT (lon lat)` → lon double (reference: endpoints.py:16-31;
    note the source order is (lon, lat) and the reference swaps)."""
    return f"CAST(nullif(regexp_extract({col}, '{_WKT_POINT}', 1), '') AS DOUBLE)"


def wkt_point_lat(col: str) -> str:
    return f"CAST(nullif(regexp_extract({col}, '{_WKT_POINT}', 2), '') AS DOUBLE)"


# ---------------------------------------------------------------------------
# Strings (F6–F9, F15, F16)
# ---------------------------------------------------------------------------


def truncate_ellipsis(col: Column | str, n: int = 24) -> Column:
    """F9 — `s[:n] + '…'` when longer than n (reference:
    streamlit_app.py:280-282)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) > n, F.concat(F.substring(c, 1, n), F.lit("…"))).otherwise(c)


def nullif_empty(col: Column | str) -> Column:
    """F8 — empty-string → NULL (reference NA-ifies empties before
    coalesce chains, streamlit_app.py:183)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c), F.lit(""))
