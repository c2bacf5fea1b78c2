"""KML source/sink (reference: geopandas read_file/to_file with the
LIBKML/KML OGR driver, geopandas/io/file.py:197-339, 614-795 — here a
clean-room stdlib ``xml.etree`` implementation, no OGR).

Read: KML files are single XML documents, so the parse unit is a file —
``spark.read.format("binaryFile")`` distributes the file list across
executors and each file's Placemarks are parsed in a ``mapInArrow`` batch
(namespace-agnostic local-name matching; Point / LineString / Polygon with
holes / MultiGeometry; ``lon,lat[,alt]`` coordinate tuples, altitude → Z).
Many small files parallelize perfectly; one giant file is bounded by the
same driver-style ceiling as a GeoJSON FeatureCollection and is guarded.

Write: Placemark fragments are rendered *distributed* (one mapInArrow
batch pass: WKB decode → KML geometry XML); the driver only streams the
fragments into the single output document via ``toLocalIterator`` (one
partition in memory at a time) — a single .kml file is inherently one
document, same single-writer shape as the reference."""

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


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _parse_coords(text: str) -> np.ndarray:
    """KML coordinates: whitespace-separated ``lon,lat[,alt]`` tuples →
    (n, 2 or 3) float array."""
    rows = []
    width = 2
    for tok in (text or "").split():
        parts = tok.split(",")
        x, y = float(parts[0]), float(parts[1])
        if len(parts) >= 3:
            rows.append((x, y, float(parts[2])))
            width = 3
        else:
            rows.append((x, y, np.nan))
    if not rows:
        return np.empty((0, 2), dtype=np.float64)
    arr = np.array(rows, dtype=np.float64)
    return arr if width == 3 else arr[:, :2]


def _child(el, name):
    for c in el:
        if _local(c.tag) == name:
            return c
    return None


def _children(el, name):
    return [c for c in el if _local(c.tag) == name]


def _parse_geom_el(el):
    """KML geometry element → (type_code, parts, zm) or list of such for
    MultiGeometry (parts in GeometryBuilder format)."""
    t = _local(el.tag)
    if t == "Point":
        c = _parse_coords(getattr(_child(el, "coordinates"), "text", ""))
        zm = "z" if c.shape[1] == 3 else ""
        return [(GT_POINT, [[c]], zm)]
    if t == "LineString":
        c = _parse_coords(getattr(_child(el, "coordinates"), "text", ""))
        zm = "z" if c.shape[1] == 3 else ""
        return [(GT_LINESTRING, [[c]], zm)]
    if t == "Polygon":
        rings = []
        width = 2
        ob = _child(el, "outerBoundaryIs")
        if ob is not None:
            lr = _child(ob, "LinearRing")
            r = _parse_coords(getattr(_child(lr, "coordinates"), "text", ""))
            width = max(width, r.shape[1])
            rings.append(r)
        for ib in _children(el, "innerBoundaryIs"):
            lr = _child(ib, "LinearRing")
            r = _parse_coords(getattr(_child(lr, "coordinates"), "text", ""))
            width = max(width, r.shape[1])
            rings.append(r)
        rings = [r if r.shape[1] == width else
                 np.column_stack([r, np.full(len(r), np.nan)])
                 for r in rings]
        return [(GT_POLYGON, [rings], "z" if width == 3 else "")]
    if t == "MultiGeometry":
        out = []
        for c in el:
            out.extend(_parse_geom_el(c))
        return out
    return []


_MULTI = {GT_POINT: GT_MULTIPOINT, GT_LINESTRING: GT_MULTILINESTRING,
          GT_POLYGON: GT_MULTIPOLYGON}


def _append_geoms(b: GeometryBuilder, geoms):
    """0/1/n parsed leaf geometries → one builder row (multi-promotion for
    same-type MultiGeometry, GC for mixed)."""
    if not geoms:
        b.append_null()
    elif len(geoms) == 1:
        t, parts, zm = geoms[0]
        b.append(t, parts, zm=zm)
    elif len({g[0] for g in geoms}) == 1:
        t = geoms[0][0]
        zm = "z" if any(g[2] for g in geoms) else ""
        parts = []
        for _, p, gzm in geoms:
            for part in p:
                parts.append([
                    r if (("z" in zm) == ("z" in gzm)) else (
                        np.column_stack([r, np.full(len(r), np.nan)])
                        if "z" in zm else r[:, :2])
                    for r in part])
        b.append(_MULTI[t], parts, zm=zm)
    else:
        b.append_collection(
            [(t, [[r[:, :2] for r in part] for part in parts])
             for t, parts, _ in geoms])


def _parse_kml_bytes(data: bytes):
    """One KML document → list of (name, description, props_json, wkb)."""
    import json

    root = ET.fromstring(data)
    rows = []
    for pm in root.iter():
        if _local(pm.tag) != "Placemark":
            continue
        name = getattr(_child(pm, "name"), "text", None)
        desc = getattr(_child(pm, "description"), "text", None)
        props = {}
        for ed in _children(pm, "ExtendedData"):
            for d in ed.iter():
                lt = _local(d.tag)
                if lt == "Data":
                    v = _child(d, "value")
                    props[d.get("name")] = v.text if v is not None else None
                elif lt == "SimpleData":
                    props[d.get("name")] = d.text
        geoms = []
        for c in pm:
            if _local(c.tag) in ("Point", "LineString", "Polygon",
                                 "MultiGeometry"):
                geoms.extend(_parse_geom_el(c))
        b = GeometryBuilder()
        _append_geoms(b, geoms)
        enc = wkb.encode(b.finish())[0]
        rows.append((name, desc,
                     json.dumps(props) if props else None, enc))
    return rows


def read_kml(spark: SparkSession, path: str, *, geom: str = "geom",
             expand_properties: bool = True,
             max_file_bytes: int = MAX_DOCUMENT_BYTES) -> DataFrame:
    """Read KML Placemarks into (name, description, [property cols], geom).

    Parallelism unit = file; ExtendedData fields expand into typed columns
    via the same sampled-schema from_json pass as the GeoJSON reader."""
    return read_documents(spark, path, _parse_kml_bytes,
                          ["name", "description"], geom, expand_properties,
                          max_file_bytes, "KML")


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
             .replace(">", "&gt;"))


def _coords_str(ring, zs=None) -> str:
    if zs is not None:
        return " ".join(f"{x:.10g},{y:.10g},{z:.10g}"
                        for (x, y), z in zip(ring, zs))
    return " ".join(f"{x:.10g},{y:.10g}" for x, y in ring)


def _kml_geom(ga, i: int) -> str:
    """Row i of a GeometryArray → KML geometry XML."""
    t = int(ga.types[i])
    zbuf = ga.dim_slice(ga.z, i)
    parts = ga.geom_slices(i)
    pos = [0]

    def nxt(ring):
        if zbuf is None:
            return None
        s = zbuf[pos[0]:pos[0] + len(ring)]
        pos[0] += len(ring)
        return s

    def one(t1, prt):
        if t1 == GT_POINT:
            r = prt[0]
            return (f"<Point><coordinates>{_coords_str(r, nxt(r))}"
                    "</coordinates></Point>")
        if t1 == GT_LINESTRING:
            r = prt[0]
            return (f"<LineString><coordinates>{_coords_str(r, nxt(r))}"
                    "</coordinates></LineString>")
        s = ["<Polygon>"]
        for k, r in enumerate(prt):
            tag = "outerBoundaryIs" if k == 0 else "innerBoundaryIs"
            s.append(f"<{tag}><LinearRing><coordinates>"
                     f"{_coords_str(r, nxt(r))}"
                     f"</coordinates></LinearRing></{tag}>")
        s.append("</Polygon>")
        return "".join(s)

    from geopandas_spark.geom.array import (GT_GEOMETRYCOLLECTION,
                                            SINGLE_OF)
    if t == GT_GEOMETRYCOLLECTION:
        frags = [one(ct, part) for ct, cparts in ga.children_of(i)
                 for part in cparts]
        return "<MultiGeometry>" + "".join(frags) + "</MultiGeometry>"
    base = SINGLE_OF.get(t, t)
    frags = [one(base, prt) for prt in parts]
    if len(frags) == 1 and t == base:
        return frags[0]
    return "<MultiGeometry>" + "".join(frags) + "</MultiGeometry>"


def to_kml(df: DataFrame, path: str, *, geom: str = "geom",
           name_col: str = None, document_name: str = None):
    """Write a single KML document. Fragment rendering (WKB → Placemark
    XML) runs distributed in one mapInArrow pass; the driver streams the
    fragments into the file via toLocalIterator (bounded by one partition
    of rendered strings, not the dataset)."""
    if name_col is None and "name" in df.columns and geom != "name":
        name_col = "name"

    def placemark(ga, i, row):
        s = ["<Placemark>"]
        if name_col in row:
            s.append(f"<name>{_xml_escape(str(row[name_col]))}</name>")
        ext = [f'<Data name="{_xml_escape(c)}"><value>'
               f"{_xml_escape(str(v))}</value></Data>"
               for c, v in row.items() if c != name_col]
        if ext:
            s.append("<ExtendedData>" + "".join(ext) + "</ExtendedData>")
        if int(ga.types[i]) != 0:
            s.append(_kml_geom(ga, i))
        s.append("</Placemark>")
        return "".join(s)

    head = ('<?xml version="1.0" encoding="UTF-8"?>\n'
            '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>')
    if document_name:
        head += f"<name>{_xml_escape(document_name)}</name>"
    write_document(df, geom, path, head, placemark, "</Document></kml>\n")
