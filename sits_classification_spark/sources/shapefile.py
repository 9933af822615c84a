"""S4/S11 — ESRI point-shapefile source + sink, dependency-free.

The reference reads AOI/training-point shapefiles with geopandas, checks
the CRS and reprojects to EPSG:3035 (``force/force_class_utils.py:67-83``,
``:236-239``), and writes predictions as a point shapefile stamped
EPSG:3035 (``pytorch/predict.py:700-707``). No geo stack exists in this
sandbox, so this module parses the three public binary sidecars directly
(ESRI Shapefile Technical Description, 1998; dBase III DBF layout):

- ``.shp``  — 100-byte header (int32 BE magic 9994 @0, shape type LE @32),
  then records of (recnum BE, length BE, type LE, x LE f64, y LE f64) for
  shape type 1 (Point; PointZ=11/PointM=21 accepted, extra ordinates
  ignored; Null=0 skipped).
- ``.dbf``  — attribute table: 32-byte header (uint32 LE record count @4,
  uint16 LE header/record sizes @8/@10), 32-byte field descriptors to
  0x0D, fixed-width ASCII records with a deletion flag byte.
- ``.prj``  — WKT CRS text; matched for EPSG 3035 vs 4326.

Spark-first shape: the reader loads sibling files via ONE ``binaryFile``
scan and parses each shapefile inside ``applyInPandas`` keyed by the path
stem — shapefiles parse in parallel across the cluster, one task per
file-set (AOI shapefiles are small dimension inputs; a directory of
thousands parallelizes per file). Attributes land in a
``map<string,string>`` column so one fixed schema covers any field list;
callers cast per-field (``attrs['label']``).

The sink is a driver-side writer used for the small predictions.shp
artifact and test fixtures — the distributed path for bulk points remains
parquet (S8); the reference's shapefile output is likewise a final small
per-AOI artifact written by geopandas on the driver.
"""

from __future__ import annotations

import os
import struct

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geo import WKT_3035, WKT_4326

POINT_SCHEMA = T.StructType(
    [
        T.StructField("base", T.StringType()),
        T.StructField("fid", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("epsg", T.IntegerType()),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    ]
)


def parse_shp_points(data: bytes) -> list[tuple[int, float, float]]:
    """(fid, x, y) per non-null record; fid is the 1-based record number."""
    if len(data) < 100 or struct.unpack(">i", data[0:4])[0] != 9994:
        raise ValueError("not a .shp file (bad magic)")
    out = []
    pos = 100
    n = len(data)
    while pos + 8 <= n:
        recnum, contlen = struct.unpack(">ii", data[pos : pos + 8])
        body = data[pos + 8 : pos + 8 + contlen * 2]
        pos += 8 + contlen * 2
        if len(body) < 4:
            break
        (shp_type,) = struct.unpack("<i", body[0:4])
        if shp_type in (1, 11, 21) and len(body) >= 20:
            x, y = struct.unpack("<dd", body[4:20])
            out.append((recnum, x, y))
        # shp_type 0 (Null) and non-point types: skipped
    return out


def parse_dbf(data: bytes) -> list[dict[str, str]]:
    """Attribute rows as {field: trimmed string}; deleted rows skipped."""
    if len(data) < 32:
        return []
    n_rec, hdr_size, rec_size = struct.unpack("<IHH", data[4:12])
    fields = []
    pos = 32
    while pos + 32 <= hdr_size and data[pos] != 0x0D:
        name = data[pos : pos + 11].split(b"\x00")[0].decode("latin-1")
        length = data[pos + 16]
        fields.append((name, length))
        pos += 32
    rows = []
    pos = hdr_size
    for _ in range(n_rec):
        if pos + rec_size > len(data):
            break
        rec = data[pos : pos + rec_size]
        pos += rec_size
        if rec[0:1] == b"*":  # deleted
            continue
        row, off = {}, 1
        for name, length in fields:
            row[name] = rec[off : off + length].decode("latin-1").strip()
            off += length
        rows.append(row)
    return rows


def detect_epsg(prj_text: str) -> int | None:
    """Classify a .prj WKT as 3035 / 4326 / unknown. 3035 requires REAL
    evidence — the AUTHORITY code or the full ETRS89-LAEA defining
    parameter set (lat0=52, lon0=10, FE=4321000) — because a
    check-and-reproject step passes 3035-tagged rows through UNMODIFIED: a
    non-European LAEA CRS (e.g. EPSG:6931) or an unrelated WKT merely
    containing the digits 3035 must return None (treated as
    geographic-in-doubt), not silently skip reprojection with wrong
    coordinates. The reference does a true CRS equality check before
    skipping (force_class_utils.py:67-83); this mirrors it for the WKT
    fields a dependency-free parser can see. Both WKT1 (AUTHORITY[...],
    underscore parameter keywords) and WKT2 (ID["EPSG",3035], spelled-out
    'Latitude of natural origin' parameter names) spellings are
    recognized — a WKT2 EPSG:3035 .prj carries projected meters, and
    failing to tag it would push 4.3e6-scale eastings through the
    lon/lat->LAEA forward map."""
    t = prj_text.upper()
    import re

    # authority id: WKT1 AUTHORITY["EPSG","3035"] or WKT2 ID["EPSG",3035]
    def has_code(code: str) -> bool:
        return bool(
            re.search(rf'AUTHORITY\s*\[\s*"EPSG"\s*,\s*"?{code}"?\s*\]', t)
            or re.search(rf'\bID\s*\[\s*"EPSG"\s*,\s*"?{code}"?\s*\]', t)
        )

    # parameter match in WKT1 ("LATITUDE_OF_CENTER",52]) or WKT2
    # ("Latitude of natural origin",52,ANGLEUNIT[...]]) spellings
    def param(names: str, value: str) -> bool:
        return bool(
            re.search(rf'"({names})"\s*,\s*{value}(\.0*)?\s*[\],]', t)
        )

    if has_code("3035") or (
        ("LAEA" in t or "AZIMUTHAL_EQUAL_AREA" in t or "LAMBERT_AZIMUTHAL" in t
         or "LAMBERT AZIMUTHAL" in t)
        and param("LATITUDE_OF_(CENTER|ORIGIN)|LATITUDE OF NATURAL ORIGIN", "52")
        and param(
            "LONGITUDE_OF_CENTER|CENTRAL_MERIDIAN|LONGITUDE OF NATURAL ORIGIN",
            "10",
        )
        and param("FALSE_EASTING|FALSE EASTING", "4321000")
    ):
        return 3035
    # name-based WGS84 fallback ONLY for a geographic root: a PROJCS in
    # meters (e.g. EPSG:6931 EASE-Grid, datum WGS_1984) must NOT classify
    # as lon/lat 4326
    is_projected = t.lstrip().startswith(("PROJCS", "PROJCRS"))
    if has_code("4326") or (
        not is_projected
        and ("WGS_1984" in t or "WGS 84" in t or "GCS_WGS" in t)
    ):
        return 4326
    return None


def read_point_shapefiles(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed point-shapefile reader: ``path_glob`` names the .shp
    files (e.g. ``/aois/*.shp``); sibling .dbf/.prj are picked up from the
    same binaryFile scan. One output row per point:
    (base, fid, x, y, epsg, attrs map<string,string>)."""
    stem = path_glob[:-4] if path_glob.endswith(".shp") else path_glob
    files = spark.read.format("binaryFile").load(f"{stem}.{{shp,dbf,prj}}")
    files = files.select(
        F.regexp_replace("path", r"\.(shp|dbf|prj)$", "").alias("base"),
        F.regexp_extract("path", r"\.(shp|dbf|prj)$", 1).alias("ext"),
        "content",
    )

    def parse_group(pdf: pd.DataFrame) -> pd.DataFrame:
        by_ext = {r.ext: bytes(r.content) for r in pdf.itertuples()}
        base = pdf["base"].iloc[0]
        if "shp" not in by_ext:
            return pd.DataFrame(columns=[f.name for f in POINT_SCHEMA.fields])
        pts = parse_shp_points(by_ext["shp"])
        attrs = parse_dbf(by_ext["dbf"]) if "dbf" in by_ext else []
        epsg = (
            detect_epsg(by_ext["prj"].decode("latin-1")) if "prj" in by_ext else None
        )
        rows = [
            {
                "base": base,
                "fid": fid,
                "x": x,
                "y": y,
                "epsg": epsg,
                "attrs": attrs[i] if i < len(attrs) else {},
            }
            for i, (fid, x, y) in enumerate(pts)
        ]
        return pd.DataFrame(rows, columns=[f.name for f in POINT_SCHEMA.fields])

    return files.groupBy("base").applyInPandas(parse_group, POINT_SCHEMA)


def _dbf_fields(pdf: pd.DataFrame, cols: list[str]) -> list[tuple[str, str, int, int]]:
    """(name, type, length, decimals): N 19.6 for floats, N 19.0 for ints,
    C max-width for strings (width 1 for a zero-row layer — max() of an
    empty series is NaN, which is truthy, so the guard is explicit)."""
    out = []
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            out.append((c[:10], "N", 19, 6))
        elif pd.api.types.is_integer_dtype(s):
            out.append((c[:10], "N", 19, 0))
        else:
            width = (
                max(1, min(254, int(s.astype(str).str.len().max())))
                if len(s)
                else 1
            )
            out.append((c[:10], "C", width, 0))
    return out


def write_point_shapefile(
    pdf: pd.DataFrame,
    base_path: str,
    x_col: str = "x",
    y_col: str = "y",
    epsg: int = 3035,
) -> None:
    """Driver-side .shp/.shx/.dbf/.prj writer for point layers (the
    predictions.shp artifact, predict.py:700-707). Attribute columns =
    every column except x/y."""
    os.makedirs(os.path.dirname(base_path) or ".", exist_ok=True)
    xs = pdf[x_col].astype(float).tolist()
    ys = pdf[y_col].astype(float).tolist()
    n = len(xs)
    attrs_cols = [c for c in pdf.columns if c not in (x_col, y_col)]

    # .shp + .shx — point record body is 20 bytes = 10 sixteen-bit words.
    bbox = (
        (min(xs), min(ys), max(xs), max(ys)) if n else (0.0, 0.0, 0.0, 0.0)
    )
    shp_len_words = 50 + n * (4 + 10)  # header + n * (rec header + body)
    shx_len_words = 50 + n * 4

    def header(total_words: int) -> bytes:
        return (
            struct.pack(">i", 9994)
            + b"\x00" * 20
            + struct.pack(">i", total_words)
            + struct.pack("<ii", 1000, 1)
            + struct.pack("<4d", *bbox)
            + struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)
        )

    with open(base_path + ".shp", "wb") as fshp, open(
        base_path + ".shx", "wb"
    ) as fshx:
        fshp.write(header(shp_len_words))
        fshx.write(header(shx_len_words))
        offset = 50
        for i in range(n):
            body = struct.pack("<idd", 1, xs[i], ys[i])
            fshp.write(struct.pack(">ii", i + 1, 10) + body)
            fshx.write(struct.pack(">ii", offset, 10))
            offset += 14

    # .dbf
    fields = _dbf_fields(pdf, attrs_cols)
    rec_size = 1 + sum(fl for _, _, fl, _ in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    with open(base_path + ".dbf", "wb") as f:
        f.write(
            struct.pack(
                "<BBBBIHH", 0x03, 26, 8, 18, n, hdr_size, rec_size
            )
            + b"\x00" * 20
        )
        for name, ftype, flen, fdec in fields:
            f.write(
                name.encode("latin-1").ljust(11, b"\x00")
                + ftype.encode()
                + b"\x00" * 4
                + struct.pack("<BB", flen, fdec)
                + b"\x00" * 14
            )
        f.write(b"\x0d")
        for i in range(n):
            f.write(b" ")
            for (name, ftype, flen, fdec), col in zip(fields, attrs_cols):
                v = pdf[col].iloc[i]
                if ftype == "N":
                    txt = (
                        f"{float(v):.{fdec}f}" if fdec else str(int(v))
                    ).rjust(flen)[:flen]
                else:
                    txt = str(v).ljust(flen)[:flen]
                f.write(txt.encode("latin-1", "replace"))
        f.write(b"\x1a")

    with open(base_path + ".prj", "w") as f:
        f.write(WKT_3035 if epsg == 3035 else WKT_4326)
