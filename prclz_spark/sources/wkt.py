"""CSV-with-WKT source: vectorized WKT parse/serialize + uniqueness gate.

Reference: ``csv_to_geo`` (/root/reference/prclz/utils.py:26-43) reads a
blocks CSV, asserts ``block_id`` uniqueness (:34) and parses the WKT
``geometry`` column via shapely (midway/midway_complexity.py:28 applies
``shapely.wkt.loads`` per row). Here parsing is a regex/number-scan in an
Arrow pandas UDF over string batches (S3 + F1, SURVEY.md §2.1/§2.7), and
the uniqueness assert becomes a distributed count check.

Only POLYGON/MULTIPOINT/POINT/LINESTRING single-geometry forms are needed
by the engine's tables; rings come back as the engine's canonical
``array<array<double>>``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

RING_TYPE = T.ArrayType(T.ArrayType(T.DoubleType()))

_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"
_PAIR_RE = re.compile(rf"({_NUM})\s+({_NUM})")


def parse_wkt_ring(wkt: str) -> list[list[float]]:
    """Coordinate pairs of the first ring/sequence in a WKT string.
    POLYGON ((x y, ...)) drops the closing duplicate vertex (open-ring
    convention, functions.geom)."""
    pairs = [[float(a), float(b)] for a, b in _PAIR_RE.findall(wkt)]
    if wkt.lstrip().upper().startswith("POLYGON") and len(pairs) >= 2:
        if pairs[0] == pairs[-1]:
            pairs = pairs[:-1]
    return pairs


def ring_to_wkt(ring) -> str:
    pts = [f"{float(x)} {float(y)}" for x, y in ring]
    if pts:
        pts.append(pts[0])  # close the ring
    return "POLYGON ((" + ", ".join(pts) + "))"


@pandas_udf(RING_TYPE)
def wkt_ring_udf(wkt: pd.Series) -> pd.Series:
    return wkt.map(parse_wkt_ring)


def read_wkt_csv(
    spark: SparkSession,
    path: str,
    id_col: str = "block_id",
    wkt_col: str = "geometry",
    assert_unique: bool = True,
) -> DataFrame:
    """csv_to_geo analog: CSV scan → parsed ring column; optional
    distributed uniqueness gate (prclz/utils.py:34's assert as a
    count-vs-distinct job that raises before any downstream stage runs)."""
    df = spark.read.option("header", "true").csv(path)
    if assert_unique:
        dup = (
            df.groupBy(id_col).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(f"duplicate {id_col} values in {path}")
    return df.withColumn("geometry_ring", wkt_ring_udf(F.col(wkt_col)))


def wkt_bounds_udf():
    """(x0, y0, x1, y1) struct from a WKT string — one vectorized pass,
    convenient for SQL-oracle-checkable scans."""
    schema = T.StructType(
        [
            T.StructField("x0", T.DoubleType()),
            T.StructField("y0", T.DoubleType()),
            T.StructField("x1", T.DoubleType()),
            T.StructField("y1", T.DoubleType()),
        ]
    )

    @pandas_udf(schema)
    def bounds(wkt: pd.Series) -> pd.DataFrame:
        out = np.empty((len(wkt), 4))
        for i, w in enumerate(wkt):
            ring = np.asarray(parse_wkt_ring(w), dtype=float)
            out[i] = [ring[:, 0].min(), ring[:, 1].min(),
                      ring[:, 0].max(), ring[:, 1].max()]
        return pd.DataFrame(out, columns=["x0", "y0", "x1", "y1"])

    return bounds
