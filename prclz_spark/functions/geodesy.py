"""Geodesic / projection scalar functions as Column expressions (JVM-side)
with ANSI-SQL mirrors for the DuckDB oracles.

Reference: geopy geodesic meters (/root/reference/reblock/i_topology.py:
50-55 — F17) and the EPSG:3395 reprojection for km² areas
(data_processing/process_worldpop.py:114,141,166 — F19). The haversine
is the numpy kernel functions.geom.haversine_m's formula; each function
is written op-for-op identically on both engines so results agree
bit-wise before rounding."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6_371_009.0
MERC_R = 6_378_137.0


def haversine_m_col(lon0: Column, lat0: Column, lon1: Column, lat1: Column) -> Column:
    rl0 = F.radians(lat0)
    rl1 = F.radians(lat1)
    dlat = rl1 - rl0
    dlon = F.radians(lon1) - F.radians(lon0)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rl0) * F.cos(rl1) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def haversine_m_sql(lon0: str, lat0: str, lon1: str, lat1: str) -> str:
    rl0 = f"radians({lat0})"
    rl1 = f"radians({lat1})"
    dlat = f"({rl1} - {rl0})"
    dlon = f"(radians({lon1}) - radians({lon0}))"
    a = (
        f"(sin({dlat} / 2) * sin({dlat} / 2)"
        f" + cos({rl0}) * cos({rl1}) * sin({dlon} / 2) * sin({dlon} / 2))"
    )
    return f"({2 * EARTH_RADIUS_M} * asin(sqrt({a})))"


def mercator_x_col(lon: Column) -> Column:
    return F.lit(MERC_R) * F.radians(lon)


def mercator_y_col(lat: Column) -> Column:
    import math

    return F.lit(MERC_R) * F.log(F.tan(F.lit(math.pi / 4) + F.radians(lat) / 2))


def mercator_x_sql(lon: str) -> str:
    return f"({MERC_R} * radians({lon}))"


def mercator_y_sql(lat: str) -> str:
    return f"({MERC_R} * ln(tan(pi() / 4 + radians({lat}) / 2)))"
