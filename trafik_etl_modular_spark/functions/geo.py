"""F5 — WKT geometry → centroid (lat, lon) (SURVEY.md §2.8 F5;
reference /root/reference/src/trv/transform.py:25-47).

The reference uses shapely when available and falls back to a regex
that grabs the first two numbers.  Here:

  * POINT — handled JVM-side by regexp (functions/scalars.py F4),
    never reaches Python.
  * Other geometries — Arrow-batched **pandas UDF**.  With shapely
    present we'd use true area-weighted centroids; this container
    lacks it, so the implementation is the documented approximation:
    vertex mean for LINESTRING/MULTIPOINT/POLYGON rings (equals
    shapely's centroid only for LINESTRING with equal segment
    weights — the DEVIATION is documented here and in tests).
    Fallback on unparseable input mirrors the reference's regex
    first-two-numbers behavior.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUM = re.compile(r"[-+]?\d+(?:\.\d+)?")

try:  # pragma: no cover - environment-dependent
    import shapely.wkt  # noqa: F401

    HAVE_SHAPELY = True
except Exception:  # pragma: no cover
    HAVE_SHAPELY = False


def _centroid_py(wkt: str | None) -> tuple[float, float] | None:
    """(lat, lon) centroid of one WKT string, shapely-free."""
    if not wkt:
        return None
    if HAVE_SHAPELY:  # pragma: no cover - not in this container
        try:
            g = shapely.wkt.loads(wkt)
            c = g.centroid
            return (c.y, c.x)
        except Exception:
            pass
    nums = [float(x) for x in _NUM.findall(wkt)]
    if len(nums) < 2:
        return None
    # WKT order is (lon lat) pairs; vertex-mean centroid, swapped.
    lons = nums[0::2]
    lats = nums[1::2]
    n = min(len(lons), len(lats))
    if n == 0:
        return None
    return (sum(lats[:n]) / n, sum(lons[:n]) / n)


@F.pandas_udf(T.StructType([
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
]))
def wkt_centroid(wkt: pd.Series) -> pd.DataFrame:
    """Arrow-batched centroid: one Python call per batch, not per row."""
    out = wkt.map(_centroid_py)
    return pd.DataFrame(
        {
            "lat": out.map(lambda t: t[0] if t else None),
            "lon": out.map(lambda t: t[1] if t else None),
        }
    )


def centroid_lat_lon(geom: str) -> tuple[Column, Column]:
    """Hybrid F4/F5 over the column named ``geom``: POINTs stay JVM-side
    (regexp, codegen'd); only non-POINT geometries pay the Arrow
    round-trip."""
    from trafik_etl_modular_spark.functions.scalars import wkt_point_lat, wkt_point_lon

    c = F.col(geom)
    is_point = c.startswith("POINT ")
    cent = wkt_centroid(F.when(~is_point, c))
    lat = F.when(is_point, F.expr(wkt_point_lat(geom))).otherwise(cent.getField("lat"))
    lon = F.when(is_point, F.expr(wkt_point_lon(geom))).otherwise(cent.getField("lon"))
    return lat, lon
