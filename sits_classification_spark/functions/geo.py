"""S4 — coordinate reprojection to EPSG:3035 (ETRS89-extended / LAEA Europe).

The reference reprojects every AOI/training shapefile to EPSG:3035 before
cubing (``force/force_class_utils.py:67-83`` via geopandas ``to_crs``, and
again at ``:236-239``) and stamps predictions.shp with the same CRS
(``pytorch/predict.py:700-707``). This module re-expresses that as pure
Spark Column math: the ellipsoidal Lambert Azimuthal Equal-Area forward
mapping (Snyder 1987, "Map Projections — A Working Manual", pp. 187-188;
identically EPSG Guidance Note 7-2, method 9820) on the GRS80
ellipsoid with the EPSG:3035 defining constants (lat0=52N, lon0=10E,
FE=4321000, FN=3210000).

Scale posture: reprojection is embarrassingly parallel per row — plain
whole-stage-codegen trig, no shuffle, no UDF. The point-dependent part is
kept to five staged expressions; every point-independent constant
(q_p, sin/cos of beta_1, R_q, D) is computed once in Python ``math`` at
import and embedded as a full-precision double literal.

Forward avoids ``asin`` entirely: with sin(beta) = q/q_p and beta in
[-90, 90], cos(beta) = sqrt(1 - sin^2) — one fewer libm call whose
rounding could diverge across engines. The same staged expression TEXT is
used by the Spark query and the DuckDB oracle (the tanh-parity pattern),
so cross-engine differences are libm-ulp only; the driver compare
quantizes at centimeters, ~6 orders of magnitude above that.

Validated against the published EPSG test vector: (5E, 50N) ->
(3962799.45 E, 2999718.85 N) — see ``tests/test_shapefile.py``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# GRS80 ellipsoid + EPSG:3035 projection constants (EPSG registry values).
_A = 6378137.0
_F = 1.0 / 298.257222101
E2 = 2 * _F - _F * _F
E = math.sqrt(E2)
LAT0_DEG = 52.0
LON0_DEG = 10.0
FE = 4321000.0
FN = 3210000.0


def _q(phi: float) -> float:
    s = math.sin(phi)
    return (1 - E2) * (
        s / (1 - E2 * s * s) - (1 / (2 * E)) * math.log((1 - E * s) / (1 + E * s))
    )


QP = _q(math.pi / 2)
_lat0 = math.radians(LAT0_DEG)
_beta1 = math.asin(_q(_lat0) / QP)
SINB1 = math.sin(_beta1)
COSB1 = math.cos(_beta1)
RQ = _A * math.sqrt(QP / 2)
_m1 = math.cos(_lat0) / math.sqrt(1 - E2 * math.sin(_lat0) ** 2)
DD = _A * _m1 / (RQ * COSB1)


def laea_forward_stages(lon_sql: str, lat_sql: str) -> list[tuple[str, str]]:
    """The forward mapping as ordered (alias, expression) stages over prior
    aliases. The SAME text drives Spark (via selectExpr chain) and the
    DuckDB oracle (via CTE chain), so the two engines evaluate an identical
    operation tree."""
    return [
        ("lam", f"radians(({lon_sql}) - {LON0_DEG!r})"),
        ("sphi", f"sin(radians({lat_sql}))"),
        (
            "q",
            f"{1 - E2!r} * (sphi / (1.0 - {E2!r} * sphi * sphi)"
            f" - {1 / (2 * E)!r} * ln((1.0 - {E!r} * sphi) / (1.0 + {E!r} * sphi)))",
        ),
        ("sinb", f"q / {QP!r}"),
        ("cosb", "sqrt(1.0 - sinb * sinb)"),
        (
            "bb",
            f"{RQ!r} * sqrt(2.0 / (1.0 + {SINB1!r} * sinb"
            f" + {COSB1!r} * cosb * cos(lam)))",
        ),
        ("x3035", f"{FE!r} + bb * {DD!r} * cosb * sin(lam)"),
        (
            "y3035",
            f"{FN!r} + (bb / {DD!r}) * ({COSB1!r} * sinb"
            f" - {SINB1!r} * cosb * cos(lam))",
        ),
    ]


def laea_forward(df: DataFrame, lon_col: str, lat_col: str) -> DataFrame:
    """Append x3035/y3035 columns (meters, EPSG:3035) to ``df``; drops the
    intermediate stage aliases. Pure Column math — no shuffle, no UDF."""
    inter = {"lam", "sphi", "q", "sinb", "cosb", "bb"}
    for alias, expr in laea_forward_stages(lon_col, lat_col):
        df = df.withColumn(alias, F.expr(expr))
    return df.drop(*inter)


def laea_forward_oracle_cte(stage0: str, lon_sql: str, lat_sql: str) -> str:
    """DuckDB CTE chain mirroring :func:`laea_forward_stages` text-for-text.
    ``stage0`` is the name of an existing CTE providing ``lon_sql``/
    ``lat_sql``; returns ``, g1 AS (...), g2 AS (...) ...`` ending in a CTE
    named ``laea`` with all of stage0's columns plus x3035/y3035."""
    stages = laea_forward_stages(lon_sql, lat_sql)
    parts = []
    prev = stage0
    for i, (alias, expr) in enumerate(stages):
        name = "laea" if i == len(stages) - 1 else f"g{i + 1}"
        parts.append(f"{name} AS (SELECT *, {expr} AS {alias} FROM {prev})")
        prev = name
    return ", " + ", ".join(parts)


# Minimal WKT for the .prj sidecar (public EPSG registry text, abridged).
WKT_3035 = (
    'PROJCS["ETRS89-extended / LAEA Europe",GEOGCS["ETRS89",'
    'DATUM["European_Terrestrial_Reference_System_1989",'
    'SPHEROID["GRS 1980",6378137,298.257222101]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Lambert_Azimuthal_Equal_Area"],'
    'PARAMETER["latitude_of_center",52],PARAMETER["longitude_of_center",10],'
    'PARAMETER["false_easting",4321000],PARAMETER["false_northing",3210000],'
    'UNIT["metre",1],AUTHORITY["EPSG","3035"]]'
)
WKT_4326 = (
    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433],'
    'AUTHORITY["EPSG","4326"]]'
)
