"""Geographic scalar functions: DMS coordinates and WKT shapes.

Behavioral spec (reference, NOT code): Utils/MetadataUtils.php:299-359
(coordinateToDecimal — MARC 034-style values like 'E0793235' → decimal
degrees via a cascade of format attempts) and :987-1054
(getCenterCoordinates / getGeoDisplayField — ENVELOPE handled by regex,
other WKT via centroid).

Spark-first: the DMS cascade is a pure CASE chain of regexp_extracts, fully
JVM; its input is bound once through a lambda, so it runs interpreted
(higher-order functions are ``CodegenFallback`` in Spark 4.1). WKT
centroids for POINT/ENVELOPE are JVM regex; only POLYGON/LINESTRING
centroids drop to an Arrow UDF (a tiny pure-Python
geometry reader — no external geo lib required in this container).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import StringType

from . import keys as K


def coordinate_to_decimal(col: Column) -> Column:
    """MetadataUtils::coordinateToDecimal as a JVM expression cascade.

    The cleaned input is bound once (``keys.let1``): the cascade reads it
    ~25 times (5 rlike probes + 15 regexp_extracts + fallbacks), and
    inlined, every 034 coordinate carried ~25 copies of its source
    subtree."""
    return K.let1(F.regexp_replace(col, " ", ""), _coordinate_cascade)


def _coordinate_cascade(v: Column) -> Column:
    def sign(hemi: Column, dec: Column) -> Column:
        return F.when(F.upper(hemi).isin("W", "S") | (hemi == "-"), -dec).otherwise(dec)

    # 1: hemisphere + DDDMMSS[.sss]
    p1 = "^([eEwWnNsS])(\\d{3})(\\d{2})((\\d{2})(\\.(\\d{3}))?)"
    c1 = (
        F.regexp_extract(v, p1, 2).cast("double")
        + F.regexp_extract(v, p1, 3).cast("double") / 60
        + F.regexp_extract(v, p1, 4).cast("double") / 3600
    )
    # 2: [hemi|sign] DDD.ddd
    p2 = "^([eEwWnNsS+-])?(\\d{3}\\.\\d+)"
    c2 = F.regexp_extract(v, p2, 2).cast("double")
    # 3: [hemi] DDDMM.mmm
    p3 = "^([eEwWnNsS])?(\\d{3})(\\d{2}\\.\\d+)"
    c3 = (
        F.regexp_extract(v, p3, 2).cast("double")
        + F.regexp_extract(v, p3, 3).cast("double") / 60
    )
    # 4: [hemi|sign] D.d (any digit count)
    p4 = "^([eEwWnNsS+-])?(\\d+\\.\\d+)"
    c4 = F.regexp_extract(v, p4, 2).cast("double")
    # 5: hemisphere + loose DDMMSS missing leading zeros (anchored to end)
    p5 = "^([eEwWnNsS])(\\d+)(\\d{2})((\\d{2})(\\.(\\d{3}))?)$"
    c5 = (
        F.regexp_extract(v, p5, 2).cast("double")
        + F.regexp_extract(v, p5, 3).cast("double") / 60
        + F.regexp_extract(v, p5, 4).cast("double") / 3600
    )
    return (
        F.when(v.isNull() | (v == ""), F.lit(float("nan")))
        .when(v.rlike(p1), sign(F.regexp_extract(v, p1, 1), c1))
        .when(v.rlike(p2), sign(F.regexp_extract(v, p2, 1), c2))
        .when(v.rlike(p3), sign(F.regexp_extract(v, p3, 1), c3))
        .when(v.rlike(p4), sign(F.regexp_extract(v, p4, 1), c4))
        .when(v.rlike(p5), sign(F.regexp_extract(v, p5, 1), c5))
        .otherwise(F.coalesce(v.try_cast("double"), F.lit(0.0)))
    )


_ENV_RE = "ENVELOPE\\s*\\((-?[\\d\\.]+),\\s*(-?[\\d\\.]+),\\s*(-?[\\d\\.]+),\\s*(-?[\\d\\.]+)\\)"
_POINT_RE = "(?i)^POINT\\s*\\(\\s*(-?[\\d\\.]+)\\s+(-?[\\d\\.]+)\\s*\\)"


def _fmt(c: Column) -> Column:
    # PHP float-to-string: precision=14 significant digits (ini default),
    # integral floats print without a trailing .0. Coordinates are bounded
    # by ±180, so 14 significant digits = 11-13 decimal places by integer
    # width (60.666666666666664 prints as '60.666666666667' in PHP).
    a = F.abs(c)
    r = (
        F.when(a >= 100, F.round(c, 11))
        .when(a >= 10, F.round(c, 12))
        .otherwise(F.round(c, 13))
    )
    return F.when(
        r == r.cast("long"), r.cast("long").cast("string")
    ).otherwise(r.cast("string"))


def _poly_centroid(wkt: str) -> str:
    """Area centroid of the first POLYGON ring / midpoint of a LINESTRING."""
    m = re.match(r"(?is)^\s*POLYGON\s*\(\(\s*(.*?)\s*\)", wkt or "")
    if m:
        pts = [
            (float(a), float(b))
            for a, b in re.findall(r"(-?[\d.]+)\s+(-?[\d.]+)", m.group(1))
        ]
        if len(pts) < 3:
            return ""
        a = cx = cy = 0.0
        for (x1, y1), (x2, y2) in zip(pts, pts[1:] + pts[:1]):
            cross = x1 * y2 - x2 * y1
            a += cross
            cx += (x1 + x2) * cross
            cy += (y1 + y2) * cross
        if a == 0:
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            return f"{sum(xs) / len(xs):g} {sum(ys) / len(ys):g}"
        a *= 0.5
        return f"{cx / (6 * a):g} {cy / (6 * a):g}"
    m = re.match(r"(?is)^\s*LINESTRING\s*\(\s*(.*?)\s*\)", wkt or "")
    if m:
        pts = [
            (float(a), float(b))
            for a, b in re.findall(r"(-?[\d.]+)\s+(-?[\d.]+)", m.group(1))
        ]
        if not pts:
            return ""
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        return f"{sum(xs) / len(xs):g} {sum(ys) / len(ys):g}"
    return ""


@pandas_udf(StringType())
def _poly_centroid_udf(wkt: pd.Series) -> pd.Series:
    return wkt.map(lambda v: _poly_centroid(v) if v else "")


def center_coordinates(col: Column) -> Column:
    """getCenterCoordinates: 'x y' center of a WKT shape ('' if unparseable)."""
    env_mid_x = (
        F.regexp_extract(col, _ENV_RE, 1).cast("double")
        + F.regexp_extract(col, _ENV_RE, 2).cast("double")
    ) / 2
    env_mid_y = (
        F.regexp_extract(col, _ENV_RE, 3).cast("double")
        + F.regexp_extract(col, _ENV_RE, 4).cast("double")
    ) / 2
    point_x = F.regexp_extract(col, _POINT_RE, 1).cast("double")
    point_y = F.regexp_extract(col, _POINT_RE, 2).cast("double")
    return (
        F.when(col.isNull() | (col == ""), F.lit(""))
        .when(col.rlike(_ENV_RE), F.concat(_fmt(env_mid_x), F.lit(" "), _fmt(env_mid_y)))
        .when(col.rlike(_POINT_RE), F.concat(_fmt(point_x), F.lit(" "), _fmt(point_y)))
        .otherwise(_poly_centroid_udf(col))
    )


def geo_display_field(col: Column) -> Column:
    """getGeoDisplayField: ENVELOPE corners verbatim, else the center."""
    env = F.concat_ws(
        " ",
        F.regexp_extract(col, _ENV_RE, 1),
        F.regexp_extract(col, _ENV_RE, 2),
        F.regexp_extract(col, _ENV_RE, 3),
        F.regexp_extract(col, _ENV_RE, 4),
    )
    return (
        F.when(col.isNull() | (col == ""), F.lit(""))
        .when(col.rlike(_ENV_RE), env)
        .otherwise(center_coordinates(col))
    )
