"""S4 — shapefile source/sink + EPSG:3035 LAEA forward reprojection.

Reference behavior under test: the LAEA forward mapping of the
reproject-to-3035 step (``force/force_class_utils.py:67-83``) and the
EPSG:3035 point-shapefile prediction sink (``pytorch/predict.py:700-707``)."""

import math

import pandas as pd
import pytest


from sits_classification_spark.functions import geo
from sits_classification_spark.sources.shapefile import (
    detect_epsg,
    parse_dbf,
    parse_shp_points,
    read_point_shapefiles,
    write_point_shapefile,
)


def _fixture(tmpdir_session, name, epsg, rows):
    base = f"{tmpdir_session}/shp_{name}/pts"
    write_point_shapefile(pd.DataFrame(rows), base, epsg=epsg)
    return base


def test_epsg_published_vector(spark):
    """EPSG Guidance Note 7-2 test point for method 9820 / EPSG:3035:
    (5E, 50N) -> 3962799.45 E, 2999718.85 N; the projection center maps to
    the false origin exactly."""
    df = spark.createDataFrame(
        [(5.0, 50.0), (10.0, 52.0)], "lon double, lat double"
    )
    out = {
        (r["lon"], r["lat"]): (r["x3035"], r["y3035"])
        for r in geo.laea_forward(df, "lon", "lat").collect()
    }
    x, y = out[(5.0, 50.0)]
    assert abs(x - 3962799.45) < 0.01 and abs(y - 2999718.85) < 0.01
    x0, y0 = out[(10.0, 52.0)]
    assert abs(x0 - 4321000.0) < 1e-6 and abs(y0 - 3210000.0) < 1e-6


def test_reader_parses_points_attrs_crs(spark, tmpdir_session):
    rows = {
        "x": [10.0, 5.0, -3.5],
        "y": [52.0, 50.0, 40.125],
        "label": [3, 1, 2],
        "name": ["oak", "beech", "pine"],
    }
    base = _fixture(tmpdir_session, "read", 4326, rows)
    got = (
        read_point_shapefiles(spark, base + ".shp")
        .orderBy("fid")
        .collect()
    )
    assert [r["fid"] for r in got] == [1, 2, 3]
    assert [r["x"] for r in got] == rows["x"]
    assert all(r["epsg"] == 4326 for r in got)
    assert [r["attrs"]["name"] for r in got] == rows["name"]
    assert [int(r["attrs"]["label"]) for r in got] == rows["label"]


def test_null_shape_and_deleted_dbf_rows_skipped(tmpdir_session):
    import struct

    base = f"{tmpdir_session}/shp_null/pts"
    write_point_shapefile(
        pd.DataFrame({"x": [1.0], "y": [2.0], "a": ["k"]}), base, epsg=4326
    )
    shp = bytearray(open(base + ".shp", "rb").read())
    # append a Null-shape record (type 0, body = 4 bytes = 2 words)
    shp += struct.pack(">ii", 2, 2) + struct.pack("<i", 0)
    shp[24:28] = struct.pack(">i", len(shp) // 2)
    assert parse_shp_points(bytes(shp)) == [(1, 1.0, 2.0)]

    dbf = bytearray(open(base + ".dbf", "rb").read())
    # mark the single record deleted
    hdr_size = struct.unpack("<H", dbf[8:10])[0]
    dbf[hdr_size] = ord("*")
    assert parse_dbf(bytes(dbf)) == []


def test_detect_epsg_variants():
    assert detect_epsg(geo.WKT_3035) == 3035
    assert detect_epsg(geo.WKT_4326) == 4326
    assert detect_epsg('PROJCS["UTM 32N",AUTHORITY["EPSG","32632"]]') is None


def test_detect_epsg_wkt2_and_adversarial_cases():
    """WKT2 spellings (ID[\"EPSG\",3035], spelled-out parameter names)
    must classify as 3035; a non-European LAEA (EPSG:6931, datum
    WGS_1984) and a name merely containing '3035' must NOT classify;
    a projected CRS must never fall into the 4326 name fallback."""
    wkt2 = (
        'PROJCRS["ETRS89-extended / LAEA Europe",'
        'METHOD["Lambert Azimuthal Equal Area"],'
        'PARAMETER["Latitude of natural origin",52,ANGLEUNIT["degree",0.0174]],'
        'PARAMETER["Longitude of natural origin",10,ANGLEUNIT["degree",0.0174]],'
        'PARAMETER["False easting",4321000,LENGTHUNIT["metre",1]],'
        'ID["EPSG",3035]]'
    )
    assert detect_epsg(wkt2) == 3035
    assert detect_epsg(wkt2.replace(',ID["EPSG",3035]]', "]")) == 3035
    ease = (
        'PROJCS["WGS 84 / NSIDC EASE-Grid 2.0 North",'
        'GEOGCS["WGS 84",DATUM["WGS_1984"]],'
        'PROJECTION["Lambert_Azimuthal_Equal_Area"],'
        'PARAMETER["latitude_of_center",90],'
        'PARAMETER["longitude_of_center",0],'
        'PARAMETER["false_easting",0],AUTHORITY["EPSG","6931"]]'
    )
    assert detect_epsg(ease) is None
    assert detect_epsg('PROJCS["Custom 3035-like name"]') is None
    assert (
        detect_epsg('GEOGCRS["WGS 84",DATUM["WGS 1984"],ID["EPSG",4326]]')
        == 4326
    )


def test_python_vs_spark_forward_agree(spark):
    """The Python math-module reference (full-precision constants) and the
    staged Spark expression agree to < 1e-6 m across the AOI envelope."""
    def py_fwd(lon, lat):
        lam = math.radians(lon - geo.LON0_DEG)
        sphi = math.sin(math.radians(lat))
        q = (1 - geo.E2) * (
            sphi / (1 - geo.E2 * sphi * sphi)
            - (1 / (2 * geo.E))
            * math.log((1 - geo.E * sphi) / (1 + geo.E * sphi))
        )
        sinb = q / geo.QP
        cosb = math.sqrt(1 - sinb * sinb)
        b = geo.RQ * math.sqrt(
            2 / (1 + geo.SINB1 * sinb + geo.COSB1 * cosb * math.cos(lam))
        )
        return (
            geo.FE + b * geo.DD * cosb * math.sin(lam),
            geo.FN + (b / geo.DD) * (geo.COSB1 * sinb - geo.SINB1 * cosb * math.cos(lam)),
        )

    pts = [(-10.0 + 2.37 * i, 35.0 + 1.71 * i) for i in range(18)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    for r in geo.laea_forward(df, "lon", "lat").collect():
        ex, ey = py_fwd(r["lon"], r["lat"])
        assert abs(r["x3035"] - ex) < 1e-6 and abs(r["y3035"] - ey) < 1e-6
