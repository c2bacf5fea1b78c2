"""FlatGeobuf source & sink (clean-room, stdlib-only).

The reference reads/writes FlatGeobuf through OGR (pyogrio/fiona,
geopandas/io/file.py:197-339); this driver implements the public
FlatGeobuf 3.x container format directly:

    magic (8 bytes: 0x66 0x67 0x62 0x03 0x66 0x67 0x62 0x00)
    u32-size-prefixed FlatBuffers ``Header`` table
    optional packed Hilbert R-tree index (40-byte nodes)
    u32-size-prefixed FlatBuffers ``Feature`` records

The FlatBuffers wire format (little-endian tables with vtables, forward
uoffsets, length-prefixed vectors/strings) is implemented from the public
FlatBuffers binary-format documentation in ~150 lines below — enough for
the three FlatGeobuf tables — rather than depending on the flatbuffers
package (not in this environment). Honesty note: no external FlatGeobuf
implementation exists in this sandbox, so cross-implementation interop is
untested; compliance rests on the spec-derived codec plus property-fuzzed
self round trips (tests/test_properties.py, tests/test_io.py).

Scale design:
- **read** is distributed exactly like the shapefile driver: the driver
  touches only the header and the feature *offsets* (from the index's
  leaf level when present, else a seek-scan of the u32 size prefixes);
  (offset, length) ranges fan out and every task reads its byte range
  independently. ``bbox=`` pushes down into the packed R-tree so only
  intersecting features are ever assigned to tasks.
- **write** renders each feature's FlatBuffer *on executors* in one
  mapInArrow pass (Hilbert-ordered via the engine's spatial key so the
  index is valid); the driver streams fragments into the single output
  file. Single-file formats are inherently single-writer — the driver
  holds fragment (bbox, size) metadata per feature for the index, so the
  practical ceiling is tens of millions of features (documented, same
  class as the shapefile/GPKG sinks). For datasets beyond that, write
  GeoParquet.
"""

from __future__ import annotations

import json
import os
import struct
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, DateType, DoubleType, FloatType, IntegerType,
    LongType, StringType, StructField, StructType, TimestampType,
)

from geopandas_spark.geom import wkb as _wkb
from geopandas_spark.geom.array import (
    GT_GEOMETRYCOLLECTION, GT_LINESTRING, GT_MISSING, GT_MULTILINESTRING,
    GT_MULTIPOINT, GT_MULTIPOLYGON, GT_POINT, GT_POLYGON, GeometryArray,
    GeometryBuilder,
)
from geopandas_spark.io._arrow import missing, ranges, scan, values

MAGIC = bytes([0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x00])

# FlatGeobuf ColumnType enum (header.fbs, public spec)
CT_BYTE, CT_UBYTE, CT_BOOL, CT_SHORT, CT_USHORT, CT_INT, CT_UINT, \
    CT_LONG, CT_ULONG, CT_FLOAT, CT_DOUBLE, CT_STRING, CT_JSON, \
    CT_DATETIME, CT_BINARY = range(15)

_CT_FMT = {CT_BYTE: "<b", CT_UBYTE: "<B", CT_BOOL: "<?", CT_SHORT: "<h",
           CT_USHORT: "<H", CT_INT: "<i", CT_UINT: "<I", CT_LONG: "<q",
           CT_ULONG: "<Q", CT_FLOAT: "<f", CT_DOUBLE: "<d"}

_NODE = struct.Struct("<4dQ")     # minx miny maxx maxy, offset — 40 bytes


# ---------------------------------------------------------------------------
# minimal FlatBuffers builder / reader
# ---------------------------------------------------------------------------

class _FB:
    """Back-to-front FlatBuffers builder (public wire-format spec): data
    grows at the buffer front; uoffsets point from the referencing field
    toward higher addresses; tables carry an soffset to a vtable of u16
    field offsets."""

    __slots__ = ("buf", "minalign", "_fields")

    def __init__(self):
        self.buf = bytearray()
        self.minalign = 1
        self._fields = None

    @property
    def size(self) -> int:
        return len(self.buf)

    def _prepend(self, data) -> None:
        self.buf[:0] = data

    def prep(self, align: int, extra: int) -> None:
        if align > self.minalign:
            self.minalign = align
        pad = (-(self.size + extra)) % align
        if pad:
            self._prepend(b"\x00" * pad)

    def push(self, fmt: str, v) -> int:
        sz = struct.calcsize(fmt)
        self.prep(sz, 0)
        self._prepend(struct.pack(fmt, v))
        return self.size

    def push_uoffset(self, target: int) -> int:
        self.prep(4, 0)
        self._prepend(struct.pack("<I", self.size + 4 - target))
        return self.size

    def create_string(self, s: str) -> int:
        data = s.encode("utf-8") + b"\x00"
        self.prep(4, len(data))
        self._prepend(data)
        self._prepend(struct.pack("<I", len(data) - 1))
        return self.size

    def create_bytes_vector(self, data: bytes) -> int:
        self.prep(4, len(data))
        self._prepend(bytes(data))
        self._prepend(struct.pack("<I", len(data)))
        return self.size

    def create_f64_vector(self, values) -> int:
        a = np.ascontiguousarray(values, dtype="<f8")
        self.prep(4, 8 * len(a))
        self.prep(8, 8 * len(a))
        self._prepend(a.tobytes())
        self._prepend(struct.pack("<I", len(a)))
        return self.size

    def create_u32_vector(self, values) -> int:
        a = np.ascontiguousarray(values, dtype="<u4")
        self.prep(4, 4 * len(a))
        self._prepend(a.tobytes())
        self._prepend(struct.pack("<I", len(a)))
        return self.size

    def create_offset_vector(self, offs) -> int:
        self.prep(4, 4 * len(offs))
        for o in reversed(offs):
            self.push_uoffset(o)
        self._prepend(struct.pack("<I", len(offs)))
        return self.size

    # -- tables -----------------------------------------------------------
    def start_table(self) -> None:
        self._fields = []            # (field_id, off_from_end, byte_size)

    def add_scalar(self, fid: int, fmt: str, v, default=0) -> None:
        if v is None or v == default:
            return
        off = self.push(fmt, v)
        self._fields.append((fid, off, struct.calcsize(fmt)))

    def add_offset(self, fid: int, target: Optional[int]) -> None:
        if target is None:
            return
        off = self.push_uoffset(target)
        self._fields.append((fid, off, 4))

    def end_table(self) -> int:
        self.prep(4, 0)
        self._prepend(b"\x00\x00\x00\x00")             # soffset placeholder
        table_off = self.size
        fields = self._fields
        self._fields = None
        max_id = max((f for f, _, _ in fields), default=-1)
        tbl_size = max([table_off - off + sz for _, off, sz in fields],
                       default=4)
        vt = bytearray(struct.pack("<HH", 4 + 2 * (max_id + 1), tbl_size))
        slot = {fid: table_off - off for fid, off, _ in fields}
        for fid in range(max_id + 1):
            vt += struct.pack("<H", slot.get(fid, 0))
        self.prep(2, len(vt))
        self._prepend(bytes(vt))
        vt_off = self.size
        struct.pack_into("<i", self.buf, len(self.buf) - table_off,
                         vt_off - table_off)
        return table_off

    def finish(self, root: int) -> bytes:
        self.prep(self.minalign, 4)
        self.push_uoffset(root)
        return bytes(self.buf)


def _tbl_field(buf, tpos: int, fid: int) -> int:
    """Absolute position of field `fid` in the table at `tpos`, or 0."""
    vt = tpos - struct.unpack_from("<i", buf, tpos)[0]
    vtlen = struct.unpack_from("<H", buf, vt)[0]
    slot = 4 + 2 * fid
    if slot + 2 > vtlen:
        return 0
    rel = struct.unpack_from("<H", buf, vt + slot)[0]
    return tpos + rel if rel else 0


def _indirect(buf, pos: int) -> int:
    return pos + struct.unpack_from("<I", buf, pos)[0]


def _read_scalar(buf, tpos, fid, fmt, default=0):
    p = _tbl_field(buf, tpos, fid)
    return struct.unpack_from(fmt, buf, p)[0] if p else default


def _read_string(buf, tpos, fid) -> Optional[str]:
    p = _tbl_field(buf, tpos, fid)
    if not p:
        return None
    sp = _indirect(buf, p)
    n = struct.unpack_from("<I", buf, sp)[0]
    return bytes(buf[sp + 4:sp + 4 + n]).decode("utf-8")


def _read_vector(buf, tpos, fid):
    """(data_pos, count) of a vector field, or (0, 0)."""
    p = _tbl_field(buf, tpos, fid)
    if not p:
        return 0, 0
    vp = _indirect(buf, p)
    return vp + 4, struct.unpack_from("<I", buf, vp)[0]


def _read_f64_vector(buf, tpos, fid) -> np.ndarray:
    dp, n = _read_vector(buf, tpos, fid)
    if not n:
        return np.empty(0, dtype=np.float64)
    return np.frombuffer(buf, dtype="<f8", count=n, offset=dp).astype(
        np.float64)


def _read_u32_vector(buf, tpos, fid) -> np.ndarray:
    dp, n = _read_vector(buf, tpos, fid)
    if not n:
        return np.empty(0, dtype=np.int64)
    return np.frombuffer(buf, dtype="<u4", count=n, offset=dp).astype(
        np.int64)


# ---------------------------------------------------------------------------
# Geometry table <-> GeometryArray row
# ---------------------------------------------------------------------------

def _rings_flat(parts):
    """parts (geom_slices format) -> (xy flat, ends per ring in coords)."""
    rings = [r for p in parts for r in p]
    if not rings:
        return np.empty((0, 2)), []
    ends = np.cumsum([len(r) for r in rings]).tolist()
    return np.concatenate(rings, axis=0), ends


def _build_geometry(b: _FB, gtype: int, parts, zs=None,
                    write_type: bool = True, children=None) -> int:
    """Build one Geometry table. `children` (for MultiPolygon / GC) is a
    list of (child_type, child_parts, child_z) built as nested parts."""
    part_offs = None
    xy_off = ends_off = z_off = None
    if children is not None:
        part_offs = [
            _build_geometry(b, ct, cp, zs=cz,
                            write_type=(gtype == GT_GEOMETRYCOLLECTION))
            for ct, cp, cz in children]
        part_vec = b.create_offset_vector(part_offs)
    else:
        xy, ends = _rings_flat(parts)
        if len(xy):
            xy_off = b.create_f64_vector(xy[:, :2].reshape(-1))
        if len(ends) > 1 and gtype in (GT_POLYGON, GT_MULTILINESTRING):
            ends_off = b.create_u32_vector(ends)
        if zs is not None and len(zs):
            z_off = b.create_f64_vector(zs)
        part_vec = None
    b.start_table()
    b.add_offset(0, ends_off)          # ends: [uint]
    b.add_offset(1, xy_off)            # xy: [double]
    b.add_offset(2, z_off)             # z: [double]
    if write_type:
        b.add_scalar(6, "<B", gtype)   # type: GeometryType
    b.add_offset(7, part_vec)          # parts: [Geometry]
    return b.end_table()


def _geometry_for_row(b: _FB, ga: GeometryArray, i: int,
                      write_type: bool) -> Optional[int]:
    t = int(ga.types[i])
    if t == GT_MISSING:
        return None
    parts = ga.geom_slices(i)
    zs = ga.dim_slice(ga.z, i)
    if t == GT_MULTIPOLYGON:
        # parts vector of Polygon geometries, each with its own xy/ends
        children, pos = [], 0
        for rings in parts:
            k = sum(len(r) for r in rings)
            cz = zs[pos:pos + k] if zs is not None else None
            children.append((GT_POLYGON, [rings], cz))
            pos += k
        return _build_geometry(b, t, None, write_type=write_type,
                               children=children)
    if t == GT_GEOMETRYCOLLECTION:
        children, pos = [], 0
        for ct, cparts in ga.children_of(i):
            k = sum(len(r) for p in cparts for r in p)
            cz = zs[pos:pos + k] if zs is not None else None
            children.append((ct, cparts, cz))
            pos += k
        return _build_geometry(b, t, None, write_type=write_type,
                               children=children)
    return _build_geometry(b, t, parts, zs=zs, write_type=write_type)


def _split_by_ends(xy: np.ndarray, ends: np.ndarray):
    if len(ends) == 0:
        return [xy] if len(xy) else []
    out, prev = [], 0
    for e in ends:
        out.append(xy[prev:int(e)])
        prev = int(e)
    return out


def _embed_z(parts, z):
    """Append a flat z buffer as a third column across parts' rings."""
    if z is None:
        return parts, ""
    out, pos = [], 0
    for rings in parts:
        nr = []
        for r in rings:
            nr.append(np.column_stack([r, z[pos:pos + len(r)]]))
            pos += len(r)
        out.append(nr)
    return out, "z"


def _decode_geometry(buf, gpos: int, default_type: int, bb: GeometryBuilder,
                     as_child: bool = False):
    """Decode one Geometry table. With as_child=True, returns
    (type, parts_2col, z_or_None) — or a list of such tuples for a nested
    GEOMETRYCOLLECTION (flattened one level, the engine's documented GC
    deviation, geom/array.py docstring)."""
    gtype = int(_read_scalar(buf, gpos, 6, "<B", 0)) or default_type
    xy = _read_f64_vector(buf, gpos, 1).reshape(-1, 2)
    ends = _read_u32_vector(buf, gpos, 0)
    zv = _read_f64_vector(buf, gpos, 2)
    pp, pn = _read_vector(buf, gpos, 7)

    if pn or gtype == GT_GEOMETRYCOLLECTION:   # parts-based: MPoly / GC
        cdefault = GT_POLYGON if gtype == GT_MULTIPOLYGON else 0
        children = []
        for k in range(pn):
            cpos = _indirect(buf, pp + 4 * k)
            res = _decode_geometry(buf, cpos, cdefault, bb, as_child=True)
            children.extend(res if isinstance(res, list) else [res])
        if gtype == GT_MULTIPOLYGON:
            parts = [rings for _, ps, _ in children for rings in ps]
            has_z = any(z is not None for _, _, z in children)
            zcat = None
            if has_z:
                zcat = np.concatenate(
                    [z if z is not None else
                     np.full(sum(len(r) for p in ps for r in p), np.nan)
                     for _, ps, z in children]) if children else None
            if as_child:
                return gtype, parts, zcat
            if not parts:
                bb.append_empty(gtype)
            else:
                eparts, zm = _embed_z(parts, zcat)
                bb.append(gtype, eparts, zm=zm)
            return None
        # GEOMETRYCOLLECTION (GC children are 2-D in the engine's model)
        flat = [(ct, ps) for ct, ps, _z in children]
        if as_child:
            return children
        if not flat:
            bb.append_empty(gtype)
        else:
            bb.append_collection(flat)
        return None

    if gtype == GT_POINT:
        parts = [[xy[:1]]] if len(xy) else []
    elif gtype == GT_LINESTRING:
        parts = [[xy]] if len(xy) else []
    elif gtype == GT_POLYGON:
        rings = _split_by_ends(xy, ends)
        parts = [rings] if rings else []
    elif gtype == GT_MULTIPOINT:
        parts = [[xy[k:k + 1]] for k in range(len(xy))]
    elif gtype == GT_MULTILINESTRING:
        parts = [[ln] for ln in _split_by_ends(xy, ends)]
    else:
        raise ValueError(f"unsupported FlatGeobuf geometry type {gtype}")
    z = zv if (len(zv) == len(xy) and len(xy)) else None
    if as_child:
        return gtype, parts, z
    if not parts:
        bb.append_empty(gtype)
    else:
        eparts, zm = _embed_z(parts, z)
        bb.append(gtype, eparts, zm=zm)
    return None


# ---------------------------------------------------------------------------
# properties codec
# ---------------------------------------------------------------------------

def _column_type(field: StructField) -> int:
    dt = field.dataType
    if isinstance(dt, BooleanType):
        return CT_BOOL
    if isinstance(dt, IntegerType):
        return CT_INT
    if isinstance(dt, LongType):
        return CT_LONG
    if isinstance(dt, FloatType):
        return CT_FLOAT
    if isinstance(dt, DoubleType):
        return CT_DOUBLE
    if isinstance(dt, StringType):
        return CT_STRING
    if isinstance(dt, BinaryType):
        return CT_BINARY
    if isinstance(dt, (TimestampType, DateType)):
        return CT_DATETIME
    return CT_JSON


def _spark_type(ct: int):
    if ct in (CT_BYTE, CT_UBYTE, CT_SHORT, CT_USHORT, CT_INT):
        return IntegerType()
    if ct in (CT_UINT, CT_LONG, CT_ULONG):
        return LongType()
    if ct == CT_BOOL:
        return BooleanType()
    if ct == CT_FLOAT:
        return FloatType()
    if ct == CT_DOUBLE:
        return DoubleType()
    if ct == CT_BINARY:
        return BinaryType()
    return StringType()     # String / Json / DateTime stay text


def _pack_properties(cols, row: int) -> bytes:
    """cols: list of (index, ColumnType, values)."""
    out = bytearray()
    for idx, ct, vals in cols:
        v = vals[row]
        if missing(v):
            continue
        out += struct.pack("<H", idx)
        if ct in _CT_FMT:
            if ct == CT_BOOL:
                out += struct.pack("<?", bool(v))
            elif ct in (CT_FLOAT, CT_DOUBLE):
                out += struct.pack(_CT_FMT[ct], float(v))
            else:
                out += struct.pack(_CT_FMT[ct], int(v))
        elif ct == CT_BINARY:
            data = bytes(v)
            out += struct.pack("<I", len(data)) + data
        else:                          # String / Json / DateTime
            if ct == CT_JSON:
                s = json.dumps(v, default=str)
            else:
                s = v if isinstance(v, str) else str(v)
            data = s.encode("utf-8")
            out += struct.pack("<I", len(data)) + data
    return bytes(out)


def _unpack_properties(data: bytes, col_types) -> dict:
    out = {}
    pos = 0
    n = len(data)
    while pos + 2 <= n:
        (idx,) = struct.unpack_from("<H", data, pos)
        pos += 2
        ct = col_types[idx]
        if ct in _CT_FMT:
            fmt = _CT_FMT[ct]
            (v,) = struct.unpack_from(fmt, data, pos)
            pos += struct.calcsize(fmt)
        else:
            (ln,) = struct.unpack_from("<I", data, pos)
            pos += 4
            raw = data[pos:pos + ln]
            pos += ln
            v = bytes(raw) if ct == CT_BINARY else raw.decode("utf-8")
        out[idx] = v
    return out


# ---------------------------------------------------------------------------
# packed Hilbert R-tree (index section)
# ---------------------------------------------------------------------------

def _tree_level_sizes(n: int, node_size: int):
    """[leaf..root] level sizes and root-first start indices."""
    sizes = [n]
    while sizes[-1] > 1:
        sizes.append(-(-sizes[-1] // node_size))
    root_first = list(reversed(sizes))
    starts, acc = [], 0
    for s in root_first:
        starts.append(acc)
        acc += s
    return root_first, starts, acc


def index_size(n: int, node_size: int) -> int:
    if n == 0 or node_size == 0:
        return 0
    _, _, total = _tree_level_sizes(n, node_size)
    return total * _NODE.size


_NODE_DT = np.dtype([("minx", "<f8"), ("miny", "<f8"), ("maxx", "<f8"),
                     ("maxy", "<f8"), ("off", "<u8")])


def _build_index(bboxes: np.ndarray, offsets, node_size: int) -> bytes:
    """bboxes float64[n,4] in file feature order (must be Hilbert-sorted
    by the writer), offsets = feature byte offsets in the data section.
    Fully vectorized (a per-node Python pack loop cost seconds per
    million features on the driver)."""
    n = len(bboxes)
    sizes, starts, total = _tree_level_sizes(n, node_size)
    nodes = np.empty(total, dtype=_NODE_DT)
    leaf_start = total - n
    for k, fld in enumerate(("minx", "miny", "maxx", "maxy")):
        nodes[fld][leaf_start:] = bboxes[:, k]
    nodes["off"][leaf_start:] = np.asarray(offsets, dtype=np.uint64)
    for lvl in range(len(sizes) - 2, -1, -1):
        cs, cn = starts[lvl + 1], sizes[lvl + 1]
        pn = sizes[lvl]
        # pad the child level to a multiple of node_size, reduce per group
        pad = pn * node_size
        for fld, red, fill in (("minx", np.minimum, np.inf),
                               ("miny", np.minimum, np.inf),
                               ("maxx", np.maximum, -np.inf),
                               ("maxy", np.maximum, -np.inf)):
            buf = np.full(pad, fill)
            buf[:cn] = nodes[fld][cs:cs + cn]
            nodes[fld][starts[lvl]:starts[lvl] + pn] = \
                red.reduce(buf.reshape(pn, node_size), axis=1)
        nodes["off"][starts[lvl]:starts[lvl] + pn] = (
            (cs + np.arange(pn, dtype=np.uint64) * node_size)
            * _NODE.size)
    return nodes.tobytes()


def _leaf_offsets(index: bytes, n: int, node_size: int) -> list:
    _, _, total = _tree_level_sizes(n, node_size)
    leaf_start = total - n
    return [_NODE.unpack_from(index, (leaf_start + k) * _NODE.size)[4]
            for k in range(n)]


def _search_index(index: bytes, n: int, node_size: int, bbox) -> list:
    """Feature byte offsets whose node bbox intersects `bbox` (sorted)."""
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    sizes, starts, total = _tree_level_sizes(n, node_size)
    nlev = len(sizes)
    out = []
    stack = [(0, 0)]
    while stack:
        lvl, idx = stack.pop()
        bx0, by0, bx1, by1, off = _NODE.unpack_from(index,
                                                    idx * _NODE.size)
        if bx0 > xmax or bx1 < xmin or by0 > ymax or by1 < ymin:
            continue
        if lvl == nlev - 1:
            out.append(off)
        else:
            c0 = off // _NODE.size
            c1 = min(c0 + node_size, starts[lvl + 1] + sizes[lvl + 1])
            stack.extend((lvl + 1, c) for c in range(int(c0), int(c1)))
    return sorted(out)


# ---------------------------------------------------------------------------
# header
# ---------------------------------------------------------------------------

def _build_header(name: str, envelope, gtype: int, has_z: bool,
                  fields, n_features: int, node_size: int,
                  crs: Optional[str]) -> bytes:
    b = _FB()
    crs_off = None
    if crs:
        s = str(crs)
        org, _, c = s.partition(":")
        authority = bool(c) and c.isdigit()
        org_off = b.create_string(org) if authority else None
        cs_off = None if authority else b.create_string(s)
        b.start_table()
        b.add_offset(0, org_off)                      # org
        b.add_scalar(1, "<i", int(c) if authority else 0, 0)   # code
        b.add_offset(5, cs_off)                       # code_string
        crs_off = b.end_table()
    col_offs = []
    for f in fields:
        nm = b.create_string(f.name)
        b.start_table()
        b.add_offset(0, nm)
        b.add_scalar(1, "<B", _column_type(f), 255)   # always write type
        col_offs.append(b.end_table())
    cols_vec = b.create_offset_vector(col_offs) if col_offs else None
    env_off = (b.create_f64_vector(envelope)
               if envelope is not None else None)
    name_off = b.create_string(name or "layer")
    b.start_table()
    b.add_offset(0, name_off)
    b.add_offset(1, env_off)
    b.add_scalar(2, "<B", gtype, 255)                 # always write type
    b.add_scalar(3, "<?", bool(has_z), False)
    b.add_offset(7, cols_vec)
    b.add_scalar(8, "<Q", n_features, -1)             # always write count
    b.add_scalar(9, "<H", node_size, 16)
    b.add_offset(10, crs_off)
    root = b.end_table()
    return b.finish(root)


def _parse_header(buf):
    tpos = _indirect(buf, 0)
    gtype = int(_read_scalar(buf, tpos, 2, "<B", 0))
    has_z = bool(_read_scalar(buf, tpos, 3, "<?", False))
    n_features = int(_read_scalar(buf, tpos, 8, "<Q", 0))
    node_size = int(_read_scalar(buf, tpos, 9, "<H", 16))
    cols = []
    vp, vn = _read_vector(buf, tpos, 7)
    for k in range(vn):
        cpos = _indirect(buf, vp + 4 * k)
        cname = _read_string(buf, cpos, 0) or f"col{k}"
        ctype = int(_read_scalar(buf, cpos, 1, "<B", 0))
        cols.append((cname, ctype))
    crs = None
    cp = _tbl_field(buf, tpos, 10)
    if cp:
        cpos = _indirect(buf, cp)
        org = _read_string(buf, cpos, 0)
        code = int(_read_scalar(buf, cpos, 1, "<i", 0))
        cs = _read_string(buf, cpos, 5)
        if org and code:
            crs = f"{org}:{code}"
        elif cs:
            crs = cs
    return {"geometry_type": gtype, "has_z": has_z,
            "features_count": n_features, "index_node_size": node_size,
            "columns": cols, "crs": crs}


# ---------------------------------------------------------------------------
# read
# ---------------------------------------------------------------------------

def read_fgb(spark: SparkSession, path: str, *, geom: str = "geom",
             bbox=None, num_partitions: Optional[int] = None) -> DataFrame:
    """Distributed FlatGeobuf read. The driver reads the header + index
    only; ``bbox=`` prunes through the packed Hilbert R-tree before any
    task is scheduled, so the cluster never touches non-matching feature
    bytes (the format's designed access path — reference readers do the
    same through OGR)."""
    with open(path, "rb") as f:
        magic = f.read(8)
        if magic[:3] != MAGIC[:3] or magic[4:7] != MAGIC[4:7]:
            raise ValueError(f"{path}: not a FlatGeobuf file")
        (hsize,) = struct.unpack("<I", f.read(4))
        header = f.read(hsize)
        meta = _parse_header(header)
        n = meta["features_count"]
        node_size = meta["index_node_size"]
        isz = index_size(n, node_size)
        index = f.read(isz) if isz else b""
        data_start = 8 + 4 + hsize + isz
        envelope_filter = None
        if bbox is not None and isz:
            offsets = _search_index(index, n, node_size, bbox)
        elif isz:
            offsets = _leaf_offsets(index, n, node_size)
        else:
            if bbox is not None:
                # no spatial index (written with index=False): fall back
                # to an envelope filter over the scanned DataFrame so
                # bbox= keeps its candidates-by-bbox-intersection
                # semantics instead of being silently ignored.
                envelope_filter = tuple(float(v) for v in bbox)
            # no index: seek-scan the u32 size prefixes (headers only)
            offsets = []
            f.seek(0, os.SEEK_END)
            end = f.tell()
            pos = data_start
            while pos < end:
                f.seek(pos)
                (sz,) = struct.unpack("<I", f.read(4))
                offsets.append(pos - data_start)
                pos += 4 + sz

    col_types = [ct for _, ct in meta["columns"]]
    out_fields = [StructField(nm, _spark_type(ct), True)
                  for nm, ct in meta["columns"]]
    out_schema = StructType(out_fields + [StructField(geom, BinaryType())])
    nfeat = len(offsets)
    if num_partitions is None:
        num_partitions = max(1, min(32, nfeat // 4096 or 1))
    default_type = meta["geometry_type"]
    names = [nm for nm, _ in meta["columns"]]

    def read_range(part):
        start, stop = part
        bb = GeometryBuilder()
        rows = {nm: [] for nm in names}
        with open(path, "rb") as fh:
            for off in offsets[start:stop]:
                fh.seek(data_start + off)
                (sz,) = struct.unpack("<I", fh.read(4))
                fbuf = fh.read(sz)
                tpos = _indirect(fbuf, 0)
                gp = _tbl_field(fbuf, tpos, 0)
                if gp:
                    _decode_geometry(fbuf, _indirect(fbuf, gp),
                                     default_type, bb)
                else:
                    bb.append_null()
                pp, pn = _read_vector(fbuf, tpos, 1)
                props = (_unpack_properties(fbuf[pp:pp + pn], col_types)
                         if pn else {})
                for k, nm in enumerate(names):
                    rows[nm].append(props.get(k))
        rows[geom] = _wkb.encode_arrow(bb.finish())
        return rows

    out = scan(spark, ranges(0, nfeat, num_partitions), read_range,
               out_schema)
    if envelope_filter is not None:
        from geopandas_spark.functions import st
        xmin, ymin, xmax, ymax = envelope_filter
        b = st.bounds(geom)
        out = out.filter((b["xmin"] <= xmax) & (b["xmax"] >= xmin) &
                         (b["ymin"] <= ymax) & (b["ymax"] >= ymin))
    return out


# ---------------------------------------------------------------------------
# write
# ---------------------------------------------------------------------------

def to_fgb(df: DataFrame, path: str, *, geom: str = "geom",
           crs: Optional[str] = None, index: bool = True,
           node_size: int = 16, name: Optional[str] = None) -> int:
    """Write a single FlatGeobuf file. Per-feature FlatBuffer rendering is
    distributed (one mapInArrow pass over Hilbert-ordered input so the
    packed R-tree is valid); the driver gathers the fragments as one Arrow
    table and writes them into the file.
    Driver memory holds the rendered byte stream + one 40-byte node per
    feature — ceiling is tens of millions of features; use GeoParquet
    beyond that."""
    from geopandas_spark.functions import st

    fields = [f for f in df.schema.fields if f.name != geom]
    gfield = df.schema[geom]
    crs = crs or (gfield.metadata or {}).get("crs")

    if index:
        tb = df.select(st.bounds(geom).alias("b")).agg(
            F.min("b.xmin").alias("xmin"), F.min("b.ymin").alias("ymin"),
            F.max("b.xmax").alias("xmax"), F.max("b.ymax").alias("ymax"),
        ).collect()[0]
        if tb["xmin"] is None:
            index = False
        else:
            df = df.orderBy(st.hilbert(geom, float(tb["xmin"]),
                                       float(tb["ymin"]), float(tb["xmax"]),
                                       float(tb["ymax"])))

    col_specs = [(k, _column_type(f), f.name)
                 for k, f in enumerate(fields)]
    frag_names = ["frag", "gt", "hz", "xmin", "ymin", "xmax", "ymax"]

    def render(batches):
        from geopandas_spark.geom import algos

        # template fast path for 2-D point features: the FlatBuffer layout
        # of a point Feature is fixed for a given properties length, so
        # the builder runs once per distinct length and each row is two
        # in-place copies (xy doubles + props blob). ~20x faster than the
        # generic per-row builder on point-heavy exports.
        _SX, _SY = 1.23456789e300, 2.3456789e301
        templates = {}

        def _point_template(plen: int):
            t = templates.get(plen)
            if t is not None:
                return t
            b = _FB()
            g_off = _build_geometry(
                b, GT_POINT, [[np.array([[_SX, _SY]])]], write_type=True)
            p_off = (b.create_bytes_vector(b"\xa5" * plen) if plen
                     else None)
            b.start_table()
            b.add_offset(0, g_off)
            b.add_offset(1, p_off)
            body = b.finish(b.end_table())
            xy_off = body.index(struct.pack("<2d", _SX, _SY))
            pr_off = body.index(b"\xa5" * plen) if plen else 0
            t = (bytearray(struct.pack("<I", len(body)) + body),
                 4 + xy_off, 4 + pr_off)
            templates[plen] = t
            return t

        for batch in batches:
            ga = _wkb.decode(batch.column(geom))
            bb = algos.bounds(ga)
            cols = [(idx, ct, values(batch.column(nm)))
                    for idx, ct, nm in col_specs]
            frags, gts, hzs = [], [], []
            hasz = ga.row_has_z()
            co = ga.coord_offsets_per_geom()
            simple_pt = (ga.types == GT_POINT) & ~hasz & \
                (np.diff(co) == 1)
            for i in range(len(ga)):
                if simple_pt[i]:
                    props = _pack_properties(cols, i)
                    tmpl, xy_off, pr_off = _point_template(len(props))
                    buf = bytearray(tmpl)
                    struct.pack_into("<2d", buf, xy_off,
                                     ga.coords[co[i], 0],
                                     ga.coords[co[i], 1])
                    if props:
                        buf[pr_off:pr_off + len(props)] = props
                    frags.append(bytes(buf))
                    gts.append(GT_POINT)
                    hzs.append(False)
                    continue
                b = _FB()
                g_off = _geometry_for_row(b, ga, i, write_type=True)
                props = _pack_properties(cols, i)
                p_off = b.create_bytes_vector(props) if props else None
                b.start_table()
                b.add_offset(0, g_off)
                b.add_offset(1, p_off)
                body = b.finish(b.end_table())
                frags.append(struct.pack("<I", len(body)) + body)
                gts.append(int(ga.types[i]))
                hzs.append(bool(hasz[i]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(frags, pa.binary()), pa.array(gts, pa.int32()),
                 pa.array(hzs, pa.bool_())]
                + [pa.array(bb[:, k]) for k in range(4)], frag_names)

    # one parallel job + Arrow-batched transfer, not toLocalIterator():
    # the driver buffers every fragment for the index pass anyway, and
    # toLocalIterator executes one sequential job per partition — it
    # serialized the whole distributed render (115 s -> ~15 s on a
    # 1.5M-feature write)
    parts = df.mapInArrow(render, "frag binary, gt int, hz boolean, "
                          "xmin double, ymin double, xmax double, "
                          "ymax double").toArrow()
    frags = parts.column("frag").to_pylist()
    gtypes = set(parts.column("gt").to_pylist()) - {0}
    has_z = bool(pc.any(parts.column("hz")).as_py())
    bb = np.column_stack([parts.column(c).to_numpy()
                          for c in frag_names[3:]]).reshape(-1, 4)
    n = len(frags)
    gtype = gtypes.pop() if len(gtypes) == 1 else 0    # Unknown when mixed
    sizes = np.array([len(fr) for fr in frags], dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(sizes)[:-1]]) if n else []
    finite = bb[np.isfinite(bb[:, 0])] if n else bb
    envelope = ([float(finite[:, 0].min()), float(finite[:, 1].min()),
                 float(finite[:, 2].max()), float(finite[:, 3].max())]
                if len(finite) else None)
    use_index = index and n > 0
    header = _build_header(
        name or os.path.splitext(os.path.basename(path))[0], envelope,
        gtype, has_z, fields, n, node_size if use_index else 0, crs)
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(struct.pack("<I", len(header)))
        f.write(header)
        if use_index:
            # NULL / non-finite geometry rows get an inverted-infinite
            # sentinel bbox that intersects no query window (and cannot
            # widen parent nodes — the reducer fills are the same infs),
            # instead of (0,0,0,0) which spuriously matched any window
            # containing the origin.
            safe = np.where(np.isfinite(bb), bb, 0.0)
            # ANY non-finite component poisons the row (a partially-NaN
            # bbox zero-filled would spuriously match windows near the
            # origin — the exact bug the sentinel exists to prevent)
            nullrow = ~np.isfinite(bb).all(axis=1)
            if nullrow.any():
                safe[nullrow, 0] = np.inf
                safe[nullrow, 1] = np.inf
                safe[nullrow, 2] = -np.inf
                safe[nullrow, 3] = -np.inf
            f.write(_build_index(safe, offsets, node_size))
        # one bulk write per 64k fragments (1.5M individual f.write calls
        # measured seconds of driver time)
        for s0 in range(0, n, 65536):
            f.write(b"".join(frags[s0:s0 + 65536]))
    return n
