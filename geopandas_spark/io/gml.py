"""GML source/sink (reference: geopandas read_file/to_file with the GML
OGR driver, geopandas/io/file.py:197-339 — clean-room stdlib ``xml.etree``
implementation, no OGR).

Covers the GML 3.2 simple-features profile most WFS exports use:
``gml:Point/pos``, ``gml:LineString/posList``, ``gml:Polygon`` with
``exterior``/``interior`` LinearRings, ``gml:MultiPoint/pointMember``,
``gml:MultiCurve/curveMember``, ``gml:MultiSurface/surfaceMember``,
``gml:MultiGeometry/geometryMember``, plus the GML 2 spellings
(``coordinates`` with comma tuples, ``outerBoundaryIs``). Features are
``featureMember``/``member`` children; every simple child element with
text becomes a property.

Same distribution contract as the KML driver: file = parse unit
(binaryFile scan + mapInArrow), fragments rendered distributed on write,
driver streams the single document."""

from __future__ import annotations

import xml.etree.ElementTree as ET

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from geopandas_spark.geom import wkb
from geopandas_spark.geom.array import (GT_LINESTRING, GT_MULTILINESTRING,
                                        GT_MULTIPOINT, GT_MULTIPOLYGON,
                                        GT_POINT, GT_POLYGON,
                                        GeometryBuilder)
from geopandas_spark.io._arrow import (MAX_DOCUMENT_BYTES, read_documents,
                                        write_document)
from geopandas_spark.io.kml import _local, _xml_escape

_GEOM_TAGS = frozenset({"Point", "LineString", "Polygon", "MultiPoint",
                        "MultiCurve", "MultiLineString", "MultiSurface",
                        "MultiPolygon", "MultiGeometry", "Curve",
                        "Surface"})


def _pos_coords(text: str, dim: int = 2) -> np.ndarray:
    """gml:posList / gml:pos: whitespace-separated ordinates."""
    vals = [float(v) for v in (text or "").split()]
    if not vals:
        return np.empty((0, 2), dtype=np.float64)
    return np.array(vals, dtype=np.float64).reshape(-1, dim)


def _gml2_coords(text: str) -> np.ndarray:
    """GML 2 gml:coordinates: 'x,y x,y ...'."""
    rows = [[float(v) for v in tok.split(",")[:2]]
            for tok in (text or "").split()]
    return (np.array(rows, dtype=np.float64)
            if rows else np.empty((0, 2), dtype=np.float64))


def _ring_coords(lr) -> np.ndarray:
    for c in lr.iter():
        lt = _local(c.tag)
        if lt == "posList":
            dim = int(c.get("srsDimension") or 2)
            return _pos_coords(c.text, dim)[:, :2]
        if lt == "coordinates":
            return _gml2_coords(c.text)
    # GML LinearRing may also enumerate gml:pos elements
    poss = [p for p in lr.iter() if _local(p.tag) == "pos"]
    if poss:
        return np.array([[float(v) for v in p.text.split()[:2]]
                         for p in poss], dtype=np.float64)
    return np.empty((0, 2), dtype=np.float64)


def _parse_gml_geom(el):
    """GML geometry element → list of (type, parts, zm) leaves."""
    t = _local(el.tag)
    if t == "Point":
        for c in el:
            lt = _local(c.tag)
            if lt == "pos":
                dim = int(c.get("srsDimension") or
                          (3 if len(c.text.split()) == 3 else 2))
                arr = _pos_coords(c.text, dim)
                return [(GT_POINT, [[arr[:, :2]]], "")] if dim == 2 else \
                    [(GT_POINT, [[arr]], "z")]
            if lt == "coordinates":
                return [(GT_POINT, [[_gml2_coords(c.text)]], "")]
        return []
    if t in ("LineString", "Curve"):
        if t == "Curve":   # segments/LineStringSegment
            segs = [s for s in el.iter()
                    if _local(s.tag) == "LineStringSegment"]
            coords = [_ring_coords(s) for s in segs]
            arr = (np.concatenate(coords) if coords
                   else np.empty((0, 2), dtype=np.float64))
            return [(GT_LINESTRING, [[arr]], "")]
        return [(GT_LINESTRING, [[_ring_coords(el)]], "")]
    if t in ("Polygon", "Surface"):
        rings = []
        for bnd in el:
            lt = _local(bnd.tag)
            if lt in ("exterior", "outerBoundaryIs"):
                rings.insert(0, _ring_coords(bnd))
            elif lt in ("interior", "innerBoundaryIs"):
                rings.append(_ring_coords(bnd))
            elif lt == "patches":   # Surface/patches/PolygonPatch
                for patch in bnd:
                    for bb in patch:
                        blt = _local(bb.tag)
                        if blt == "exterior":
                            rings.insert(0, _ring_coords(bb))
                        elif blt == "interior":
                            rings.append(_ring_coords(bb))
        return [(GT_POLYGON, [rings], "")] if rings else []
    if t in ("MultiPoint", "MultiCurve", "MultiLineString", "MultiSurface",
             "MultiPolygon", "MultiGeometry"):
        out = []
        for m in el:  # *Member / *Members wrappers
            for g in ([m] if _local(m.tag) in _GEOM_TAGS else list(m)):
                if _local(g.tag) in _GEOM_TAGS:
                    out.extend(_parse_gml_geom(g))
        return out
    return []


def _parse_gml_bytes(data: bytes):
    import json

    from geopandas_spark.io.kml import _append_geoms

    root = ET.fromstring(data)
    rows = []
    members = [m for m in root.iter()
               if _local(m.tag) in ("featureMember", "member",
                                    "featureMembers")]
    for m in members:
        for feat in m:
            props = {}
            geoms = []
            for c in feat:
                lt = _local(c.tag)
                kids = list(c)
                if kids and _local(kids[0].tag) in _GEOM_TAGS:
                    geoms.extend(_parse_gml_geom(kids[0]))
                elif lt in _GEOM_TAGS:
                    geoms.extend(_parse_gml_geom(c))
                elif not kids:
                    props[lt] = c.text
            b = GeometryBuilder()
            _append_geoms(b, geoms)
            enc = wkb.encode(b.finish())[0]
            rows.append((json.dumps(props) if props else None, enc))
    return rows


def read_gml(spark: SparkSession, path: str, *, geom: str = "geom",
             expand_properties: bool = True,
             max_file_bytes: int = MAX_DOCUMENT_BYTES) -> DataFrame:
    """Read GML featureMembers into ([property cols], geom). Parallelism
    unit = file; properties expand via the sampled from_json pass."""
    return read_documents(spark, path, _parse_gml_bytes, [], geom,
                          expand_properties, max_file_bytes, "GML")


def _pos_str(ring) -> str:
    return " ".join(f"{x:.10g} {y:.10g}" for x, y in ring)


def _gml_geom(ga, i: int) -> str:
    from geopandas_spark.geom.array import (GT_GEOMETRYCOLLECTION,
                                            SINGLE_OF)

    t = int(ga.types[i])
    parts = ga.geom_slices(i)

    def one(t1, prt):
        if t1 == GT_POINT:
            return (f"<gml:Point><gml:pos>{_pos_str(prt[0])}</gml:pos>"
                    "</gml:Point>")
        if t1 == GT_LINESTRING:
            return (f"<gml:LineString><gml:posList>{_pos_str(prt[0])}"
                    "</gml:posList></gml:LineString>")
        s = ["<gml:Polygon>"]
        for k, r in enumerate(prt):
            tag = "exterior" if k == 0 else "interior"
            s.append(f"<gml:{tag}><gml:LinearRing><gml:posList>"
                     f"{_pos_str(r)}</gml:posList></gml:LinearRing>"
                     f"</gml:{tag}>")
        s.append("</gml:Polygon>")
        return "".join(s)

    wrap = {GT_MULTIPOINT: ("MultiPoint", "pointMember"),
            GT_MULTILINESTRING: ("MultiCurve", "curveMember"),
            GT_MULTIPOLYGON: ("MultiSurface", "surfaceMember")}
    if t == GT_GEOMETRYCOLLECTION:
        frags = [f"<gml:geometryMember>{one(ct, part)}</gml:geometryMember>"
                 for ct, cparts in ga.children_of(i) for part in cparts]
        return ("<gml:MultiGeometry>" + "".join(frags)
                + "</gml:MultiGeometry>")
    if t in wrap:
        outer, member = wrap[t]
        base = SINGLE_OF[t]
        frags = [f"<gml:{member}>{one(base, prt)}</gml:{member}>"
                 for prt in parts]
        return f"<gml:{outer}>" + "".join(frags) + f"</gml:{outer}>"
    return one(t, parts[0]) if parts else ""


def to_gml(df: DataFrame, path: str, *, geom: str = "geom",
           feature_name: str = "feature"):
    """Write a single GML FeatureCollection document (distributed fragment
    render + driver-streamed assembly, like to_kml)."""

    def feature(ga, i, row):
        s = [f"<gml:featureMember><{feature_name}>"]
        s.extend(f"<{c}>{_xml_escape(str(v))}</{c}>" for c, v in row.items())
        if int(ga.types[i]) != 0:
            s.append(f"<the_geom>{_gml_geom(ga, i)}</the_geom>")
        s.append(f"</{feature_name}></gml:featureMember>")
        return "".join(s)

    write_document(df, geom, path,
                   '<?xml version="1.0" encoding="UTF-8"?>\n'
                   '<gml:FeatureCollection '
                   'xmlns:gml="http://www.opengis.net/gml/3.2">',
                   feature, "</gml:FeatureCollection>\n")
