"""Spark UDF layer over the pure-Python geometry kernel.

Defines the ``__geo_*`` dispatcher UDFs that the sqlgen macros expand
``st_*`` calls into (reference surface:
``src/query/functions/src/scalars/geographic/src/geometry.rs``). All
geometry values are EWKB binary; inputs arrive hex()-ed so one UDF
signature serves string, binary and variant callers.

These are row Python UDFs — acceptable because the geometry surface is
exercised by the SLT correctness corpus, not the bench hot path; a
vectorized pandas-UDF port is mechanical if geometry ever becomes a
throughput path.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
)

from databend_spark.functions import geom_kernel as K


def _decode_hexed(hexed):
    """hex()-wrapped input -> (srid, kind, coords) or None."""
    if hexed is None:
        return None
    raw = bytes.fromhex(hexed)
    if not raw:
        return None
    if raw[0] in (0, 1) and len(raw) >= 5:
        try:
            return K.parse_wkb(raw)
        except Exception:
            # fall through to the text path (e.g. a string starting
            # with \x00/\x01 — not possible for WKT, so re-raise)
            raise
    text = raw.decode("utf-8")
    return K.parse_any(text)


def _geo_parse(hexed, srid, tryf):
    try:
        g = _decode_hexed(hexed)
        if g is None:
            return None
        s, k, c = g
        if srid is not None:
            s = int(srid)
        return K.to_ewkb(s, k, c)
    except Exception:
        if tryf:
            return None
        raise


def _load(b):
    if b is None:
        return None
    return K.parse_wkb(bytes(b))


def _geo_g1(name, b):
    g = _load(b)
    if g is None:
        return None
    s, k, c = g
    if name == "centroid":
        out = ("POINT", K.centroid(k, c))
    elif name == "envelope":
        out = K.envelope(k, c)
    elif name == "convexhull":
        out = K.convex_hull(k, c)
    elif name == "startpoint":
        if k != "LINESTRING":
            raise K.GeometryError("st_startpoint expects a LineString")
        out = ("POINT", list(c[0]))
    elif name == "endpoint":
        if k != "LINESTRING":
            raise K.GeometryError("st_endpoint expects a LineString")
        out = ("POINT", list(c[-1]))
    elif name == "makepolygon":
        out = K.make_polygon(k, c, oriented=False)
    elif name == "makepolygonoriented":
        out = K.make_polygon(k, c, oriented=True)
    else:
        raise K.GeometryError(f"unknown unary op {name}")
    return K.to_ewkb(s, out[0], out[1])


def _geo_g2(name, b1, b2):
    g1, g2 = _load(b1), _load(b2)
    if g1 is None or g2 is None:
        return None
    s1, k1, c1 = g1
    s2, k2, c2 = g2
    if name == "union":
        out = K.geom_union(k1, c1, k2, c2)
    elif name == "intersection":
        out = K.geom_intersection(k1, c1, k2, c2)
    elif name == "difference":
        out = K.geom_difference(k1, c1, k2, c2)
    elif name == "symdifference":
        out = K.geom_symdifference(k1, c1, k2, c2)
    elif name == "makeline":
        out = K.make_line(k1, c1, k2, c2)
    else:
        raise K.GeometryError(f"unknown binary op {name}")
    return K.to_ewkb(s1 if s1 is not None else s2, out[0], out[1])


def _geo_gd(name, b, d):
    g = _load(b)
    if g is None:
        return None
    s, k, c = g
    if name == "buffer":
        if d is None:
            return None
        out = K.buffer(k, c, float(d))
        if out is None:
            return None
    elif name == "simplify":
        out = K.simplify(k, c, float(d))
    elif name == "pointn":
        out = K.point_n(k, c, int(d))
    elif name == "setsrid":
        return K.to_ewkb(int(d), k, c)
    else:
        raise K.GeometryError(f"unknown op {name}")
    return K.to_ewkb(s, out[0], out[1])


def _geo_num(name, b1, b2, d):
    g1 = _load(b1)
    if g1 is None:
        return None
    s1, k1, c1 = g1
    if name in ("x", "y"):
        if k1 != "POINT":
            raise K.GeometryError(f"st_{name} expects a Point")
        if c1 is None:
            return None
        return float(c1[0] if name == "x" else c1[1])
    if name in ("xmin", "ymin", "xmax", "ymax"):
        bb = K.bbox(k1, c1)
        if bb is None:
            return None
        return float(
            {"xmin": bb[0], "ymin": bb[1], "xmax": bb[2], "ymax": bb[3]}[name]
        )
    geog = s1 == 4326  # SRID 4326 values use spherical semantics
    if name == "area":
        return K.geog_area(k1, c1) if geog else K.area(k1, c1)
    if name == "perimeter":
        return K.perimeter(k1, c1)
    if name == "length":
        return K.geog_length(k1, c1) if geog else K.length(k1, c1)
    g2 = _load(b2)
    if g2 is None:
        return None
    _, k2, c2 = g2
    if name == "distance":
        if geog:
            return K.geog_distance(k1, c1, k2, c2)
        return K.distance(k1, c1, k2, c2)
    if name == "hausdorff":
        return K.hausdorff(k1, c1, k2, c2)
    if name == "azimuth":
        return K.azimuth(k1, c1, k2, c2)
    raise K.GeometryError(f"unknown measure {name}")


def _geo_bool(name, b1, b2, d):
    g1 = _load(b1)
    if g1 is None:
        return None
    _, k1, c1 = g1
    if name == "isvalid":
        return K.is_valid(k1, c1)
    g2 = _load(b2)
    if g2 is None:
        return None
    s1 = g1[0]
    s2, k2, c2 = g2
    # binary predicates require matching SRIDs (reference spatial
    # predicates; query/index/10_spatial_index/10_0001: "Incompatible
    # SRID" error 1090 rather than a wrong answer). An unset SRID (0)
    # matches anything.
    if s1 and s2 and s1 != s2:
        raise K.GeometryError(
            f"[1090] Incompatible SRID: {s1} vs {s2}"
        )
    if name == "contains":
        return K.contains(k1, c1, k2, c2)
    if name == "covers":
        return K.covers(k1, c1, k2, c2)
    if name == "coveredby":
        return K.covers(k2, c2, k1, c1)
    if name == "within":
        return K.contains(k2, c2, k1, c1)
    if name == "intersects":
        return K.intersects(k1, c1, k2, c2)
    if name == "disjoint":
        return not K.intersects(k1, c1, k2, c2)
    if name == "equals":
        return K.equals(k1, c1, k2, c2)
    if name == "dwithin":
        if d is None:
            return None
        return K.distance(k1, c1, k2, c2) <= float(d)
    raise K.GeometryError(f"unknown predicate {name}")


def _geo_int(name, b):
    g = _load(b)
    if g is None:
        return None
    s, k, c = g
    if name == "srid":
        return int(s or 0)
    if name == "npoints":
        return K.n_points(k, c)
    if name == "dimension":
        return K.dimension(k, c)
    if name == "hilbert":
        # geography (SRID 4326) maps onto world bounds; plain geometry
        # uses the f32 bit mapping (reference geography.rs vs spatial.rs)
        if s == 4326:
            return K.hilbert_index(k, c, [-180.0, -90.0, 180.0, 90.0])
        return K.hilbert_index(k, c)
    raise K.GeometryError(f"unknown int op {name}")


def _geo_hilbert_b(b, bounds_csv):
    g = _load(b)
    if g is None:
        return None
    _, k, c = g
    bounds = [float(x) for x in str(bounds_csv).split(",")] if bounds_csv else None
    return K.hilbert_index(k, c, bounds)


def _geo_str(name, b, arg):
    g = _load(b)
    if g is None:
        return None
    s, k, c = g
    if name == "wkt":
        return K.wkt_body(k, c)
    if name == "ewkt":
        return K.to_ewkt(s, k, c)
    if name == "asgeojson":
        return K.to_geojson_compact(k, c)
    if name == "geohash":
        if k != "POINT" or c is None:
            raise K.GeometryError("st_geohash expects a Point")
        prec = int(arg) if arg else 12
        return K.geohash_encode(c[0], c[1], prec)
    if name == "to_string":
        fmt = (arg or "GeoJSON").lower()
        if fmt == "wkt":
            return K.wkt_body(k, c)
        if fmt == "ewkt":
            return K.to_ewkt(s, k, c)
        if fmt == "geojson":
            return K.to_geojson_pretty(k, c)
        if fmt == "wkb":
            return K.to_ewkb(None, k, c).hex().upper()
        if fmt == "ewkb":
            return K.to_ewkb(s, k, c).hex().upper()
        raise K.GeometryError(f"unknown geometry_output_format {arg}")
    raise K.GeometryError(f"unknown string op {name}")


def _geo_wkb(name, b):
    g = _load(b)
    if g is None:
        return None
    s, k, c = g
    if name == "wkb":
        return K.to_ewkb(None, k, c)
    return K.to_ewkb(s, k, c)  # ewkb keeps the SRID flag (srid 0 included)


def _geo_transform(b, from_srid, to_srid):
    g = _load(b)
    if g is None:
        return None
    s, k, c = g
    src = int(from_srid) if from_srid is not None else s
    if src is None:
        raise K.GeometryError("st_transform: source geometry has no SRID")
    k2, c2 = K.transform(k, c, src, int(to_srid))
    return K.to_ewkb(int(to_srid), k2, c2)


def _geo_fromgeohash(gh, mode):
    if gh is None:
        return None
    if mode == "point":
        k, c = K.geohash_center_point(str(gh))
    else:
        k, c = K.geohash_cell_polygon(str(gh))
    return K.to_ewkb(None, k, c)


def _geo_makepoint(x, y):
    if x is None or y is None:
        return None
    return K.to_ewkb(None, "POINT", [float(x), float(y)])


def _geo_point_geog(lon, lat):
    """st_point(lon, lat): GEOGRAPHY point, SRID 4326, range-checked
    (reference geography.rs: error 1090 outside lon/lat bounds)."""
    if lon is None or lat is None:
        return None
    if not (-180.0 <= float(lon) <= 180.0 and -90.0 <= float(lat) <= 90.0):
        raise K.GeometryError(
            f"[1090] geography point ({lon}, {lat}) is out of range"
        )
    return K.to_ewkb(4326, "POINT", [float(lon), float(lat)])


def _geo_parse_geog(hexed, tryf):
    """GEOGRAPHY constructors: parse any input, bind SRID 4326."""
    try:
        g = _decode_hexed(hexed)
        if g is None:
            return None
        _, k, c = g
        for p in K._all_points(k, c):
            if not (-180.0 <= p[0] <= 180.0 and -90.0 <= p[1] <= 90.0):
                raise K.GeometryError(
                    f"[1090] geography point ({p[0]}, {p[1]}) out of range"
                )
        return K.to_ewkb(4326, k, c)
    except Exception:
        if tryf:
            return None
        raise


def _geo_agg(name, arr):
    if arr is None:
        return None
    geoms = [_load(bytes(b)) for b in arr if b is not None]
    geoms = [g for g in geoms if g is not None]
    if not geoms:
        return None
    if name == "collect":
        return K.to_ewkb(
            geoms[0][0], "GEOMETRYCOLLECTION", [(k, c) for _, k, c in geoms]
        )
    if name == "envelope_agg":
        bbs = [K.bbox(k, c) for _, k, c in geoms]
        bbs = [b for b in bbs if b]
        x0 = min(b[0] for b in bbs)
        y0 = min(b[1] for b in bbs)
        x1 = max(b[2] for b in bbs)
        y1 = max(b[3] for b in bbs)
        return K.to_ewkb(
            geoms[0][0],
            "POLYGON",
            [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]],
        )
    acc_k, acc_c = geoms[0][1], geoms[0][2]
    for _, k, c in geoms[1:]:
        if name == "union_agg":
            acc_k, acc_c = K.geom_union(acc_k, acc_c, k, c)
        else:  # intersection_agg
            acc_k, acc_c = K.geom_intersection(acc_k, acc_c, k, c)
    return K.to_ewkb(geoms[0][0], acc_k, acc_c)


_B, _S, _D, _L, _BO = (
    BinaryType(),
    StringType(),
    DoubleType(),
    LongType(),
    BooleanType(),
)

# name → (function, return type); part of variant_runtime.HELPERS
GEOMETRY_UDFS = {
    "__geo_parse": (_geo_parse, _B),
    "__geo_g1": (_geo_g1, _B),
    "__geo_g2": (_geo_g2, _B),
    "__geo_gd": (_geo_gd, _B),
    "__geo_num": (_geo_num, _D),
    "__geo_bool": (_geo_bool, _BO),
    "__geo_int": (_geo_int, _L),
    "__geo_hilbert_b": (_geo_hilbert_b, _L),
    "__geo_str": (_geo_str, _S),
    "__geo_wkb": (_geo_wkb, _B),
    "__geo_transform": (_geo_transform, _B),
    "__geo_fromgeohash": (_geo_fromgeohash, _B),
    "__geo_makepoint": (_geo_makepoint, _B),
    "__geo_point_geog": (_geo_point_geog, _B),
    "__geo_parse_geog": (_geo_parse_geog, _B),
    "__geo_agg": (_geo_agg, _B),
}
