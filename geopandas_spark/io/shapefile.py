"""ESRI Shapefile source/sink — pure stdlib, no OGR.

Implements the public ESRI Shapefile Technical Description (July 1998) and
dBase III (.dbf) layouts directly (reference reads these through
pyogrio/fiona — geopandas/io/file.py:197-339 — which are absent here; the
format itself is public and simple).

Scale shape: the read is DISTRIBUTED — the driver only reads the .shx
index (8 bytes/record) and the .dbf header, splits the record space into
ranges, and each task seeks into .shp/.dbf independently (sidecar files
must be on a shared filesystem, the usual cluster arrangement for
single-file sidecar formats). The write serializes through the driver via
``toLocalIterator`` (record numbers and offsets are inherently global in
this format — same single-writer constraint the reference has).

Geometry mapping (shape type <-> kernel):
  0 null -> missing · 1 Point · 8 MultiPoint · 3 PolyLine ->
  LineString/MultiLineString · 5 Polygon -> Polygon/MultiPolygon with
  ring-winding disambiguation (CW shells, CCW holes, holes assigned by
  containment — the spec's convention).
"""

from __future__ import annotations

import os
import struct
from typing import Optional

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType, LongType,
                               StringType, StructField, StructType)

from geopandas_spark.geom import algos, wkb as _wkb
from geopandas_spark.geom.array import (GT_LINESTRING, GT_MISSING,
                                        GT_MULTILINESTRING, GT_MULTIPOINT,
                                        GT_MULTIPOLYGON, GT_POINT, GT_POLYGON,
                                        GeometryArray, GeometryBuilder)
from geopandas_spark.io._arrow import local_chunks, ranges, scan

SHP_NULL, SHP_POINT, SHP_POLYLINE, SHP_POLYGON, SHP_MULTIPOINT = 0, 1, 3, 5, 8


# ---------------------------------------------------------------------------
# low-level record parsing
# ---------------------------------------------------------------------------

def _ring_signed_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def _parse_shp_record(content: bytes, bb: GeometryBuilder) -> None:
    (stype,) = struct.unpack_from("<i", content, 0)
    if stype == SHP_NULL:
        bb.append_null()
    elif stype == SHP_POINT:
        x, y = struct.unpack_from("<2d", content, 4)
        bb.append_point(x, y)
    elif stype == SHP_MULTIPOINT:
        (n,) = struct.unpack_from("<i", content, 36)
        pts = np.frombuffer(content, "<f8", n * 2, 40).reshape(-1, 2)
        bb.append(GT_MULTIPOINT, [[p.reshape(1, 2)] for p in pts])
    elif stype in (SHP_POLYLINE, SHP_POLYGON):
        nparts, npts = struct.unpack_from("<2i", content, 36)
        parts = np.frombuffer(content, "<i4", nparts, 44)
        pts = np.frombuffer(content, "<f8", npts * 2,
                            44 + 4 * nparts).reshape(-1, 2)
        bounds = np.append(parts, npts)
        rings = [pts[bounds[i]:bounds[i + 1]].copy() for i in range(nparts)]
        if stype == SHP_POLYLINE:
            if len(rings) == 1:
                bb.append(GT_LINESTRING, [[rings[0]]])
            else:
                bb.append(GT_MULTILINESTRING, [[r] for r in rings])
        else:
            # winding: CW (negative signed area) = shell, CCW = hole
            shells = [r for r in rings if _ring_signed_area(r) <= 0]
            holes = [r for r in rings if _ring_signed_area(r) > 0]
            if not shells:          # degenerate: treat every ring as a shell
                shells, holes = holes, []
            polys = [[s[::-1].copy()] for s in shells]  # kernel shells CCW
            for h in holes:
                for k, s in enumerate(shells):
                    if algos.points_in_rings(h[:1, 0], h[:1, 1], [s])[0]:
                        polys[k].append(h[::-1].copy())
                        break
                else:
                    polys[0].append(h[::-1].copy())
            if len(polys) == 1:
                bb.append(GT_POLYGON, [polys[0]])
            else:
                bb.append(GT_MULTIPOLYGON, polys)
    else:
        raise NotImplementedError(f"shapefile shape type {stype} "
                                  "(Z/M variants are not supported)")


def _index_shp(path: str) -> list:
    """(offset, content_length) per record, from .shx if present else by
    scanning .shp record headers (headers only — content is seeked over)."""
    shx = os.path.splitext(path)[0] + ".shx"
    if os.path.exists(shx):
        with open(shx, "rb") as f:
            data = f.read()
        n = (len(data) - 100) // 8
        out = []
        for i in range(n):
            off, length = struct.unpack_from(">2i", data, 100 + 8 * i)
            out.append((off * 2 + 8, length * 2))   # skip record header
        return out
    out = []
    with open(path, "rb") as f:
        f.seek(24)
        (flen,) = struct.unpack(">i", f.read(4))
        flen *= 2
        pos = 100
        while pos < flen:
            f.seek(pos)
            _, clen = struct.unpack(">2i", f.read(8))
            out.append((pos + 8, clen * 2))
            pos += 8 + clen * 2
    return out


# ---------------------------------------------------------------------------
# dBase III (.dbf)
# ---------------------------------------------------------------------------

def _read_dbf_header(path: str):
    with open(path, "rb") as f:
        head = f.read(32)
        n_rec, hsize, rsize = struct.unpack_from("<IHH", head, 4)
        fields = []
        pos = 32
        f.seek(32)
        while True:
            fd = f.read(32)
            if fd[0:1] == b"\r" or len(fd) < 32:
                break
            name = fd[0:11].split(b"\x00")[0].decode("ascii", "replace")
            ftype = fd[11:12].decode("ascii")
            flen, fdec = fd[16], fd[17]
            fields.append((name, ftype, flen, fdec))
            pos += 32
    return n_rec, hsize, rsize, fields


def _dbf_spark_type(ftype: str, fdec: int):
    if ftype == "N":
        return LongType() if fdec == 0 else DoubleType()
    if ftype == "F":
        return DoubleType()
    if ftype == "L":
        return BooleanType()
    return StringType()      # C, D, and anything exotic stay text


def _parse_dbf_records(path: str, hsize: int, rsize: int, fields,
                       start: int, stop: int) -> dict:
    cols = {name: [] for name, *_ in fields}
    with open(path, "rb") as f:
        f.seek(hsize + start * rsize)
        blob = f.read((stop - start) * rsize)
    for r in range(stop - start):
        rec = blob[r * rsize:(r + 1) * rsize]
        pos = 1                                   # deletion flag
        for name, ftype, flen, fdec in fields:
            raw = rec[pos:pos + flen].decode("ascii", "replace").strip()
            pos += flen
            if ftype in ("N", "F"):
                if not raw or raw == "*" * len(raw):
                    cols[name].append(None)
                elif ftype == "N" and fdec == 0:
                    cols[name].append(int(raw))
                else:
                    cols[name].append(float(raw))
            elif ftype == "L":
                cols[name].append(None if raw in ("", "?") else
                                  raw in ("Y", "y", "T", "t"))
            else:
                cols[name].append(raw or None)
    return cols


# ---------------------------------------------------------------------------
# read
# ---------------------------------------------------------------------------

def read_shapefile(spark: SparkSession, path: str, *, geom: str = "geom",
                   num_partitions: Optional[int] = None) -> DataFrame:
    """Distributed shapefile read: driver touches only the tiny .shx/.dbf
    headers; record ranges fan out and every task seeks independently."""
    dbf_path = os.path.splitext(path)[0] + ".dbf"
    idx = _index_shp(path)
    n = len(idx)
    have_dbf = os.path.exists(dbf_path)
    if have_dbf:
        n_rec, hsize, rsize, fields = _read_dbf_header(dbf_path)
        n = min(n, n_rec)
    else:
        hsize = rsize = 0
        fields = []

    out_fields = [StructField(name, _dbf_spark_type(ftype, fdec), True)
                  for name, ftype, flen, fdec in fields]
    out_schema = StructType(out_fields + [StructField(geom, BinaryType())])

    if num_partitions is None:
        num_partitions = max(1, min(32, n // 4096 or 1))

    def read_range(part):
        start, stop = part
        bb = GeometryBuilder()
        with open(path, "rb") as f:
            for off, clen in idx[start:stop]:
                f.seek(off)
                _parse_shp_record(f.read(clen), bb)
        cols = (_parse_dbf_records(dbf_path, hsize, rsize, fields,
                                   start, stop) if have_dbf else {})
        cols[geom] = _wkb.encode_arrow(bb.finish())
        return cols

    return scan(spark, ranges(0, n, num_partitions), read_range, out_schema)


# ---------------------------------------------------------------------------
# write
# ---------------------------------------------------------------------------

def _shape_record(ga: GeometryArray, i: int) -> tuple:
    """(shape_type, payload bytes) for row i."""
    t = int(ga.types[i])
    parts = [] if t == GT_MISSING else ga.geom_slices(i)
    if not any(len(r) for p in parts for r in p):
        # NULL and EMPTY rows are both the null shape (as OGR writes them)
        return SHP_NULL, struct.pack("<i", SHP_NULL)
    if t == GT_POINT:
        p = parts[0][0][0]
        return SHP_POINT, struct.pack("<i2d", SHP_POINT, p[0], p[1])
    if t == GT_MULTIPOINT:
        pts = np.concatenate([pt[0] for pt in parts])
        return SHP_MULTIPOINT, (
            struct.pack("<i4d i", SHP_MULTIPOINT,
                        pts[:, 0].min(), pts[:, 1].min(),
                        pts[:, 0].max(), pts[:, 1].max(), len(pts))
            + pts.astype("<f8").tobytes())
    if t in (GT_LINESTRING, GT_MULTILINESTRING):
        rings = [p[0] for p in parts] if t == GT_MULTILINESTRING \
            else [parts[0][0]]
        stype = SHP_POLYLINE
    else:                                   # polygon / multipolygon
        rings = []
        for poly in (parts if t == GT_MULTIPOLYGON else [parts[0]]):
            for k, r in enumerate(poly):
                want_cw = (k == 0)
                a = _ring_signed_area(np.asarray(r))
                flip = (a > 0) if want_cw else (a < 0)
                rings.append(np.asarray(r)[::-1] if flip else np.asarray(r))
        stype = SHP_POLYGON
    pts = np.concatenate(rings)
    offs, acc = [], 0
    for r in rings:
        offs.append(acc)
        acc += len(r)
    return stype, (
        struct.pack("<i4d 2i", stype,
                    pts[:, 0].min(), pts[:, 1].min(),
                    pts[:, 0].max(), pts[:, 1].max(), len(rings), len(pts))
        + np.asarray(offs, "<i4").tobytes() + pts.astype("<f8").tobytes())


def _dbf_field_spec(field: StructField):
    t = field.dataType
    if isinstance(t, (LongType,)) or t.typeName() in ("integer", "long",
                                                      "short", "byte"):
        return ("N", 18, 0)
    if isinstance(t, DoubleType) or t.typeName() in ("double", "float",
                                                     "decimal"):
        return ("N", 24, 15)
    if isinstance(t, BooleanType):
        return ("L", 1, 0)
    return ("C", 80, 0)


def _dbf_format(value, ftype: str, flen: int, fdec: int) -> bytes:
    if value is None:
        return b" " * flen if ftype != "L" else b"?"
    if ftype == "N" and fdec == 0:
        s = str(int(value)).rjust(flen)
    elif ftype == "N":
        s = f"{float(value):.{fdec}f}".rjust(flen)
    elif ftype == "L":
        s = "T" if value else "F"
    else:
        s = str(value)[:flen].ljust(flen)
    b = s.encode("ascii", "replace")
    return b[-flen:] if ftype == "N" else b[:flen]


def to_shapefile(df: DataFrame, path: str, *, geom: str = "geom") -> int:
    """Write .shp/.shx/.dbf. Streams through the driver via
    ``toLocalIterator`` (bounded memory); returns the record count.

    Throughput ceiling: single-writer by format (one .shp file, global
    record offsets) — practical up to ~10M rows / the 2 GiB .shp format
    cap, whichever comes first. At scale write GeoParquet or GeoJSONSeq
    (distributed sinks) and export a shapefile extract at the edge."""
    base = os.path.splitext(path)[0]
    attrs = [f for f in df.schema.fields if f.name != geom]
    specs = [(f.name, *_dbf_field_spec(f)) for f in attrs]

    records, dbf_rows = [], []
    stype_seen = SHP_NULL
    minx = miny = np.inf
    maxx = maxy = -np.inf
    for chunk, ga in local_chunks(df, geom):
        for i, row in enumerate(chunk):
            st_, payload = _shape_record(ga, i)
            if st_ != SHP_NULL:
                stype_seen = st_
                b = payload
                if st_ == SHP_POINT:
                    x, y = struct.unpack_from("<2d", b, 4)
                    x0, y0, x1, y1 = x, y, x, y
                else:
                    x0, y0, x1, y1 = struct.unpack_from("<4d", b, 4)
                minx, miny = min(minx, x0), min(miny, y0)
                maxx, maxy = max(maxx, x1), max(maxy, y1)
            records.append(payload)
            dbf_rows.append(b" " + b"".join(
                _dbf_format(row[name], ft, fl, fd)
                for name, ft, fl, fd in specs))

    if not np.isfinite(minx):
        minx = miny = maxx = maxy = 0.0
    n = len(records)

    def header(total_words: int) -> bytes:
        return (struct.pack(">i20xi", 9994, total_words)
                + struct.pack("<2i8d", 1000, stype_seen,
                              minx, miny, maxx, maxy, 0, 0, 0, 0))

    shp_words = 50 + sum(4 + len(r) // 2 for r in records)
    with open(base + ".shp", "wb") as f:
        f.write(header(shp_words))
        offs = []
        pos = 50
        for i, rec in enumerate(records):
            offs.append((pos, len(rec) // 2))
            f.write(struct.pack(">2i", i + 1, len(rec) // 2))
            f.write(rec)
            pos += 4 + len(rec) // 2
    with open(base + ".shx", "wb") as f:
        f.write(header(50 + 4 * n))
        for off, ln in offs:
            f.write(struct.pack(">2i", off, ln))

    rsize = 1 + sum(fl for _, _, fl, _ in specs)
    hsize = 32 + 32 * len(specs) + 1
    with open(base + ".dbf", "wb") as f:
        f.write(struct.pack("<4B I 2H 20x", 3, 26, 8, 13, n, hsize, rsize))
        for name, ft, fl, fd in specs:
            f.write(struct.pack("<11s s 4x 2B 14x",
                                name.encode("ascii", "replace")[:10],
                                ft.encode(), fl, fd))
        f.write(b"\r")
        for r in dbf_rows:
            f.write(r)
        f.write(b"\x1a")
    return n
