"""st_* column functions: the engine's scalar-function surface.

Every elementwise operator of the reference's GeoSeries API (SURVEY.md
§2.2-2.3) is exposed here twice:

- as a Python column function: ``st.area(col)``
- as a Spark SQL function: ``SELECT st_area(geom) ...`` (via
  :func:`register_sql`)

All geometry columns are WKB ``BinaryType``. Each function is an Arrow
UDF (``arrow_udf``: ``pa.Array`` in, ``pa.Array`` out) built by
:func:`_udf`, the one boundary helper: it decodes geometry arguments
straight from the Arrow batch into the columnar kernel representation,
reads literal arguments from the first row, runs a numpy kernel from
:mod:`geopandas_spark.geom.algos`, and converts the result to Arrow in
one place (geometry is encoded into a single flat binary buffer). This is
the engine's equivalent of the reference's thin delegation layer
(geopandas/base.py:27-131 → shapely ufuncs): same shape — a batch-level
C-speed kernel behind a per-operator registration.

NULL/NaN contract (explicit here, not a side effect of a pandas
conversion): NaN float results are SQL NULL; bounds of a NULL or EMPTY
geometry are a struct of NULL fields; predicates on a missing geometry
are False; a NULL or NaN coordinate makes a NULL point.

Every ``st.*`` UDF has the same eval type, so co-located calls share one
ArrowEvalPython node (mixing eval types in one projection splits it into
several nodes, each a separate set of Python tasks).

Scale notes (100 TB design): every function here is stateless and
elementwise — it parallelizes trivially across partitions, survives AQE
re-planning, and composes with Structured Streaming. The UDF boundary is
the JVM→Python Arrow hop; batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DoubleType, LongType, StringType,
    StructField, StructType,
)

from geopandas_spark.geom import algos, wkb
from geopandas_spark.geom import crs as crsmod
from geopandas_spark.geom import geojson as gjmod
from geopandas_spark.geom import wkt as wktmod
from geopandas_spark.geom.array import (
    GT_LINESTRING, GeometryArray, GeometryBuilder, boxes_from_bounds,
    points_from_xy,
)

__all__ = ["register_sql"]

_REGISTRY: dict = {}


def _col(c):
    """pyspark convention: strings are column names, other scalars literals."""
    if isinstance(c, Column):
        return c
    if isinstance(c, str):
        return F.col(c)
    return F.lit(c)


# ---------------------------------------------------------------------------
# the Arrow boundary
# ---------------------------------------------------------------------------

_DECODED: dict = {}     # buffers key -> (pa.Array, GeometryArray)
_DECODED_MAX = 4        # about one batch's geometry columns


def _decode(arr: pa.Array, dedup: bool = False) -> GeometryArray:
    """Decode a WKB column once per batch across co-located UDFs.

    One ArrowEvalPython node hands each of its UDFs a fresh ``pa.Array``
    wrapper of the same batch column (the predicates query runs six over
    the same two columns), so the memo keys on the buffers' addresses,
    offset and length rather than on the wrapper. An entry holds its
    array: those buffers cannot be freed, and their addresses reused,
    while the entry lives. Only the last ``_DECODED_MAX`` columns stay.

    ``dedup`` is for join refines, which feed the same geometry many
    times per batch (one polygon × many points sharing a grid cell): when
    at most half the rows are distinct, each distinct buffer decodes once
    and the rows gather from it."""
    key = (tuple(0 if b is None else b.address for b in arr.buffers()),
           arr.offset, len(arr))
    hit = _DECODED.get(key)
    if hit is not None:
        return hit[1]
    ga = None
    if dedup:
        enc = arr.dictionary_encode(null_encoding="encode")
        if 2 * len(enc.dictionary) <= len(arr):
            ga = wkb.decode(enc.dictionary).take(enc.indices.to_numpy())
    if ga is None:
        ga = wkb.decode(arr)
    if len(_DECODED) >= _DECODED_MAX:
        del _DECODED[next(iter(_DECODED))]
    _DECODED[key] = (arr, ga)
    return ga


# what the kernel receives for each SQL argument, by kind letter
_ARG = {
    "g": _decode,                                     # geometry
    "G": lambda a: _decode(a, dedup=True),            # geometry, join refine
    "f": lambda a: a.cast(pa.float64()).to_numpy(     # per-row doubles,
        zero_copy_only=False, writable=True),         # NULL -> NaN
    "i": lambda a: a.cast(pa.int64()).to_numpy(),     # per-row integers
    "l": lambda a: a[0].as_py(),                      # literal
    "p": lambda a: a.to_pylist(),                     # Python values
    "a": lambda a: a,                                 # the Arrow array
}
_NP_OUT = {"boolean": bool, "bigint": np.int64, "double": np.float64}


def _to_arrow(v, t) -> pa.Array:
    """A kernel result as an Arrow array of Spark type ``t``. Geometry
    encodes to binary; a struct takes one result per field; NaN in any
    float result becomes NULL; booleans have no NULL (missing → False)."""
    if isinstance(v, pa.Array):
        return v
    if isinstance(v, GeometryArray):
        return wkb.encode_arrow(v)
    if isinstance(t, StructType):
        return pa.StructArray.from_arrays(
            [_to_arrow(c, f.dataType) for c, f in zip(v, t.fields)],
            names=t.names)
    if t.simpleString() in _NP_OUT:
        v = np.asarray(v, dtype=_NP_OUT[t.simpleString()])
    return pa.array(v, type=to_arrow_type(t), from_pandas=True)


def _udf(name, out, *kinds, agg=False):
    """Decorator: a kernel over decoded arguments → an Arrow UDF returning
    Spark type ``out``, registered for SQL as ``name`` (when given).

    ``kinds`` has one letter per SQL argument (see ``_ARG``). With
    ``agg`` the UDF is a grouped aggregate returning one value per group
    (a geometry result is encoded to its WKB). The UDF keeps the
    kernel's function name, which is what plans show."""
    def deco(fn):
        if agg:
            def f(*cols: pa.Array) -> object:
                v = fn(*(_ARG[k](c) for k, c in zip(kinds, cols)))
                return wkb.encode(v)[0] if isinstance(v, GeometryArray) else v
        else:
            def f(*cols: pa.Array) -> pa.Array:
                if len(cols[0]) == 0:
                    return pa.array([], to_arrow_type(out))
                return _to_arrow(
                    fn(*(_ARG[k](c) for k, c in zip(kinds, cols))), out)
        f.__name__ = f.__qualname__ = fn.__name__
        udf = arrow_udf(f, out)
        if name:
            _REGISTRY[name] = udf
        return udf
    return deco


def _null_where(arr: pa.Array, mask) -> pa.Array:
    return pc.if_else(pa.array(mask, pa.bool_()), pa.scalar(None, arr.type),
                      arr)


def _grid(g):
    """A literal size/tolerance: positive, or None for 'not given'."""
    return float(g) if g and g > 0 else None


# ---------------------------------------------------------------------------
# constructors / codecs
# ---------------------------------------------------------------------------

@_udf("st_point", BinaryType(), "f", "f")
def _point(x, y):
    # a NULL coordinate arrives as NaN: either makes a NULL point
    return _null_where(wkb.encode_arrow(points_from_xy(x, y)),
                       np.isnan(x) | np.isnan(y))


@_udf("st_makebox", BinaryType(), "f", "f", "f", "f")
def _makebox(xmin, ymin, xmax, ymax):
    return boxes_from_bounds(xmin, ymin, xmax, ymax)


@_udf("st_geomfromtext", BinaryType(), "p")
def _geomfromtext(s):
    return wktmod.parse_array(s)


@_udf("st_length_of_wkt", DoubleType(), "p")
def _length_of_wkt(s):
    """Fused parse→length kernel (r13, guide §4.2): same parse_array and
    same length kernel as the st_geomfromtext → st_length chain, minus
    the per-row WKB encode → decode round trip between the two UDFs
    (wkb.decode(wkb.encode(ga)) is the identity on every parse_array
    output, so the values are unchanged by construction). Selected by
    ``length()`` when its argument is a Column that ``geom_from_text()``
    returned in this session — see ``_FROMTEXT_ARG_ATTR``."""
    return algos.length(wktmod.parse_array(s))


@_udf("st_astext", StringType(), "g")
def _astext(ga):
    return wktmod.format_array(ga)


@_udf("st_geomfromwkb", BinaryType(), "g")
def _geomfromwkb(ga):
    # validation round-trip (normalizes endianness / EWKB flags)
    return ga


@_udf("st_aswkb", BinaryType(), "a")
def _aswkb(s):
    return s


@_udf("st_geomfromgeojson", BinaryType(), "p")
def _geomfromgeojson(s):
    return gjmod.parse_array(s)


@_udf("st_asgeojson", StringType(), "g")
def _asgeojson(ga):
    return gjmod.format_array(ga)


# ---------------------------------------------------------------------------
# measures
# ---------------------------------------------------------------------------

def _unary(out, name, kernel):
    @_udf(name, out, "g")
    def f(ga):
        return kernel(ga)
    return f


_unary_double = functools.partial(_unary, DoubleType())
_unary_long = functools.partial(_unary, LongType())
_unary_bool = functools.partial(_unary, BooleanType())
_unary_geom = functools.partial(_unary, BinaryType())


_unary_double("st_area", algos.area)
_unary_double("st_length", algos.length)
_unary_double("st_perimeter", algos.length)
_unary_double("st_x", algos.get_x)
_unary_double("st_y", algos.get_y)
_unary_double("st_z", algos.get_z)
_unary_double("st_m", algos.get_m)

_unary_long("st_npoints", algos.count_coordinates)
_unary_long("st_ngeometries", algos.count_geometries)
_unary_long("st_ninteriorrings", algos.count_interior_rings)

_unary_bool("st_isempty", lambda ga: ga.is_empty() | ga.is_missing())
_unary_bool("st_isvalid", algos.is_valid)
_unary_bool("st_issimple", algos.is_simple)
_unary_bool("st_isring", algos.is_ring)
_unary_bool("st_isclosed", algos.is_closed)
_unary_bool("st_isccw", algos.is_ccw)


@_udf("st_geometrytype", StringType(), "g")
def _geometrytype(ga):
    return algos.geom_type_name(ga)


_BOUNDS_SCHEMA = StructType([
    StructField("xmin", DoubleType()), StructField("ymin", DoubleType()),
    StructField("xmax", DoubleType()), StructField("ymax", DoubleType()),
])


@_udf("st_bounds", _BOUNDS_SCHEMA, "g")
def _bounds(ga):
    return np.ascontiguousarray(algos.bounds(ga).T)


for _nm, _ix in (("st_xmin", 0), ("st_ymin", 1), ("st_xmax", 2), ("st_ymax", 3)):
    _unary_double(_nm, lambda ga, ix=_ix: algos.bounds(ga)[:, ix])


@_udf("st_hilbert", LongType(), "g", "l", "l", "l", "l")
def _hilbert(ga, xmin, ymin, xmax, ymax):
    """Hilbert-curve key of the bbox midpoint within the given total bounds —
    the spatial partitioning key (SURVEY §2.6)."""
    return algos.hilbert_distance(
        ga, [float(v) for v in (xmin, ymin, xmax, ymax)], level=15)


# ---------------------------------------------------------------------------
# binary predicates / measures
# ---------------------------------------------------------------------------

def _binary_bool(name, kernel):
    @_udf(name, BooleanType(), "G", "G")
    def f(ga, gb):
        return kernel(ga, gb)
    return f


_binary_bool("st_intersects", algos.intersects)
_binary_bool("st_disjoint", algos.disjoint)
_binary_bool("st_contains", algos.contains)
_binary_bool("st_within", algos.within)
_binary_bool("st_covers", algos.covers)
_binary_bool("st_coveredby", algos.covered_by)
_binary_bool("st_touches", algos.touches)
_binary_bool("st_crosses", algos.crosses)
_binary_bool("st_overlaps", algos.overlaps)
_binary_bool("st_equals", algos.geom_equals)
_binary_bool("st_containsproperly", algos.contains_properly)


@_udf("st_distance", DoubleType(), "G", "G")
def _distance(ga, gb):
    return algos.distance(ga, gb)


@_udf("st_dwithin", BooleanType(), "G", "G", "f")
def _dwithin(ga, gb, d):
    return algos.distance(ga, gb) <= d


# ---------------------------------------------------------------------------
# constructive (geometry → geometry)
# ---------------------------------------------------------------------------

_unary_geom("st_centroid", algos.centroid)
_unary_geom("st_envelope", algos.envelope)
_unary_geom("st_boundary", algos.boundary)
_unary_geom("st_convexhull", algos.convex_hull)
_unary_geom("st_reverse", algos.reverse)
_unary_geom("st_exterior", algos.exterior)
_unary_geom("st_force2d", algos.force_2d)
_unary_bool("st_hasz", lambda ga: ga.row_has_z())
_unary_bool("st_hasm", lambda ga: ga.row_has_m())


@_udf("st_force3d", BinaryType(), "g", "l")
def _force3d(ga, zfill):
    """force_3d (reference base.py:2332): keep existing Z, fill 2-D rows."""
    return algos.force_3d(ga, float(zfill))


@_udf("st_collectionextract", BinaryType(), "g", "l")
def _collectionextract(ga, gtype):
    """Parts of one dimension (reference overlay keep_geom_type explode,
    geopandas/tools/overlay.py:395-454)."""
    return algos.collection_extract(ga, gtype)


_unary_geom("st_normalize", algos.normalize)
_unary_geom("st_orientpolygons", algos.orient_polygons)
_unary_geom("st_points", algos.extract_unique_points)
_unary_geom("st_minimumboundingcircle", algos.minimum_bounding_circle)
_unary_geom("st_orientedenvelope", algos.minimum_rotated_rectangle)
_unary_geom("st_pointonsurface", algos.representative_point)
_unary_double("st_minimumboundingradius", algos.minimum_bounding_radius)
_unary_geom("st_minimumclearanceline", algos.minimum_clearance_line)
_unary_geom("st_constraineddelaunaytriangles",
            algos.constrained_delaunay_triangles)


@_udf("st_maximuminscribedcircle", BinaryType(), "g", "l")
def _maxinscribedcircle(ga, tol):
    return algos.maximum_inscribed_circle(ga, _grid(tol))


@_udf("st_makevalid", BinaryType(), "g", "l")
def _makevalid(ga, method):
    return algos.make_valid(ga, method=method)


@_udf("st_linemerge", BinaryType(), "g", "l")
def _linemerge(ga, directed):
    return algos.line_merge(ga, directed=bool(directed))


@_udf("st_delaunaytriangles", BinaryType(), "g", "l", "l")
def _delaunaytriangles(ga, tolerance, only_edges):
    return algos.delaunay_triangles(ga, float(tolerance), bool(only_edges))


@_udf("st_voronoipolygons", BinaryType(), "g", "l", "l")
def _voronoipolygons(ga, tolerance, only_edges):
    return algos.voronoi_polygons(ga, tolerance=float(tolerance),
                                  only_edges=bool(only_edges))


_unary_double("st_minimumclearance", algos.minimum_clearance)
_unary_double("st_precision", algos.get_precision)


@_udf("st_offsetcurve", BinaryType(), "g", "f")
def _offsetcurve(ga, d):
    return algos.offset_curve(ga, d)


@_udf("st_isvalidcoverage_agg", BooleanType(), "a", agg=True)
def _isvalidcoverage_agg(s):
    """Whole-group coverage validity (GROUPED_AGG; reference base.py:378):
    polygon interiors pairwise disjoint."""
    return bool(algos.is_valid_coverage(wkb.decode(s)))


@_udf("st_skew", BinaryType(), "g", "l", "l")
def _skew(ga, xs_deg, ys_deg):
    return algos.skew(ga, float(xs_deg), float(ys_deg))


@_udf("st_interiorrings", ArrayType(BinaryType()), "g")
def _interiorrings(ga):
    return algos.interiors(ga)


@_udf("st_relate", StringType(), "g", "g")
def _relate(ga, gb):
    return algos.relate(ga, gb)


@_udf("st_relatematch", BooleanType(), "g", "g", "l")
def _relatematch(ga, gb, pat):
    return algos.relate_pattern(ga, gb, pat)


@_udf("st_concavehull", BinaryType(), "g", "l", "l")
def _concavehull(ga, ratio, allow_holes):
    return algos.concave_hull(ga, float(ratio), bool(allow_holes))


@_udf("st_isvalidreason", StringType(), "g")
def _isvalidreason(ga):
    return algos.is_valid_reason(ga)


@_udf("st_segmentize", BinaryType(), "g", "f")
def _segmentize(ga, max_len):
    return algos.segmentize(ga, max_len)


@_udf("st_removerepeatedpoints", BinaryType(), "g", "f")
def _removerepeatedpoints(ga, tol):
    return algos.remove_repeated_points(ga, tol)


@_udf("st_setprecision", BinaryType(), "g", "f")
def _setprecision(ga, grid):
    return algos.set_precision(ga, grid)


@_udf("st_snap", BinaryType(), "g", "g", "f")
def _snap(ga, gb, tol):
    return algos.snap(ga, gb, tol)


@_udf("st_shortestline", BinaryType(), "g", "g")
def _shortestline(ga, gb):
    return algos.shortest_line(ga, gb)


@_udf("st_hausdorffdistance", DoubleType(), "g", "g")
def _hausdorff(ga, gb):
    return algos.hausdorff_distance(ga, gb)


@_udf("st_frechetdistance", DoubleType(), "g", "g")
def _frechet(ga, gb):
    return algos.frechet_distance(ga, gb)


@_udf("st_hausdorffdistance_densify", DoubleType(), "g", "g", "l")
def _hausdorff_densify(ga, gb, dens):
    return algos.hausdorff_distance(ga, gb, densify=float(dens))


@_udf("st_frechetdistance_densify", DoubleType(), "g", "g", "l")
def _frechet_densify(ga, gb, dens):
    return algos.frechet_distance(ga, gb, densify=float(dens))


@_udf("st_equalsexact", BooleanType(), "g", "g", "f")
def _equalsexact(ga, gb, tol):
    return algos.geom_equals_exact(ga, gb, tol)


@_udf("st_buffer", BinaryType(), "g", "f", "l", "l", "l", "l", "l")
def _buffer(ga, d, quad_segs, cap_style, join_style, mitre_limit,
            single_sided):
    return algos.buffer(ga, d, int(quad_segs), cap_style=cap_style,
                        join_style=join_style, mitre_limit=float(mitre_limit),
                        single_sided=bool(single_sided))


@_udf("st_simplify", BinaryType(), "g", "f", "l")
def _simplify(ga, tol, preserve):
    return algos.simplify(ga, tol, preserve_topology=bool(preserve))


@_udf("st_clipbyrect", BinaryType(), "g", "l", "l", "l", "l")
def _clipbyrect(ga, xmin, ymin, xmax, ymax):
    return algos.clip_by_rect(ga, float(xmin), float(ymin), float(xmax),
                              float(ymax))


@_udf("st_intersection", BinaryType(), "g", "g", "l", "l")
def _intersection(ga, gb, grid_size, mixed):
    return algos.intersection(ga, gb, grid_size=_grid(grid_size),
                              mixed=bool(mixed))


@_udf("st_difference", BinaryType(), "g", "g", "l")
def _difference(ga, gb, grid_size):
    return algos.difference(ga, gb, grid_size=_grid(grid_size))


def _geom_class_np(names) -> np.ndarray:
    """Geometry-class labels (area/line/point) matching overlay's
    _geom_class SQL expression — vectorized for the fused kernels."""
    names = np.asarray(list(names), dtype=object)
    cls = np.full(len(names), "point", dtype=object)
    cls[np.isin(names, ("Polygon", "MultiPolygon"))] = "area"
    cls[np.isin(names, ("LineString", "MultiLineString"))] = "line"
    return cls


@_udf("st_intersection_overlay", BinaryType(), "G", "G", "l", "l")
def _intersection_overlay(ga, gb, mixed, keep):
    """Fused overlay-intersection kernel: a ∩ b, returned as NULL when
    empty or (keep_geom_type) when the piece's geometry class differs
    from a's — ONE Arrow round trip where the unfused plan paid four
    (class probe, intersection, emptiness filter, class filter). The
    caller filters isNotNull natively (overlay.py)."""
    out = algos.intersection(ga, gb, mixed=bool(mixed))
    dead = out.is_empty() | out.is_missing()
    if keep:
        dead |= (_geom_class_np(algos.geom_type_name(ga)) !=
                 _geom_class_np(algos.geom_type_name(out)))
    return _null_where(wkb.encode_arrow(out), dead)


@_udf("st_difference_residue", BinaryType(), "G", "G")
def _difference_residue(ga, gb):
    """Fused overlay-residue kernel: a − b with NULL b meaning "nothing
    to subtract" (a passes through) and empty results returned as NULL —
    the caller's native isNotNull filter replaces a per-row when() plus
    a second is_empty Arrow round trip (overlay.py residue branches)."""
    miss_b = gb.is_missing()
    d = algos.difference(ga, gb)
    vals = pc.if_else(pa.array(miss_b), wkb.encode_arrow(ga),
                      wkb.encode_arrow(d))
    dead = np.where(miss_b, ga.is_empty() | ga.is_missing(),
                    d.is_empty() | d.is_missing())
    return _null_where(vals, dead)


@_udf("st_union", BinaryType(), "g", "g", "l")
def _union(ga, gb, grid_size):
    return algos.union(ga, gb, grid_size=_grid(grid_size))


@_udf("st_symdifference", BinaryType(), "g", "g", "l")
def _symdifference(ga, gb, grid_size):
    return algos.symmetric_difference(ga, gb, grid_size=_grid(grid_size))


@_udf("st_translate", BinaryType(), "g", "f", "f", "l")
def _translate(ga, xoff, yoff, zoff):
    ci = ga.coord_geom_index()
    return algos.translate(ga, xoff[ci] if len(ga.coords) else 0.0,
                           yoff[ci] if len(ga.coords) else 0.0,
                           zoff=float(zoff))


@_udf("st_scale", BinaryType(), "g", "l", "l", "l")
def _scale(ga, xfact, yfact, zfact):
    return algos.scale(ga, float(xfact), float(yfact), zfact=float(zfact),
                       origin=(0.0, 0.0, 0.0))


@_udf("st_rotate", BinaryType(), "g", "l")
def _rotate(ga, angle_deg):
    return algos.rotate(ga, float(angle_deg), origin=(0.0, 0.0))


@_udf("st_affine", BinaryType(), "g", "l", "l", "l", "l", "l", "l")
def _affine(ga, a, b, d, e, xoff, yoff):
    return algos.affine_transform(ga, *(float(v) for v in
                                        (a, b, d, e, xoff, yoff)))


@_udf("st_affine3d", BinaryType(), "g", "l")
def _affine3d(ga, m):
    """12-term 3-D affine; m is an array column [a b c d e f g h i
    xoff yoff zoff] (shapely matrix order, reference base.py:5970)."""
    return algos.affine_transform12(ga, *(float(v) for v in m))


@_udf("st_interpolate", BinaryType(), "g", "f", "l")
def _interpolate(ga, d, normalized):
    return algos.interpolate(ga, d, normalized=bool(normalized))


@_udf("st_lineinterpolatepoint", BinaryType(), "g", "f")
def _lineinterpolate_norm(ga, frac):
    return algos.interpolate(ga, frac, normalized=True)


@_udf("st_project", DoubleType(), "g", "g", "l")
def _project(ga, gb, normalized):
    return algos.project(ga, gb, normalized=bool(normalized))


# ---------------------------------------------------------------------------
# parts / coordinates
# ---------------------------------------------------------------------------

def _per_row(n, parent, items, missing) -> list:
    """Children grouped by their parent row; missing rows are NULL."""
    out = [[] for _ in range(n)]
    for p, v in zip(parent, items):
        out[p].append(v)
    return [None if missing[i] else out[i] for i in range(n)]


@_udf("st_dump", ArrayType(BinaryType()), "g")
def _dump(ga):
    """Multi-part → array of single-part WKB; pair with posexplode for the
    reference's explode (geopandas/geoseries.py:1017)."""
    parts, parent, _ = algos.get_parts(ga)
    return _per_row(len(ga), parent, wkb.encode(parts), ga.is_missing())


_COORD_SCHEMA = ArrayType(StructType(
    [StructField("x", DoubleType()), StructField("y", DoubleType())]))


@_udf("st_dumpcoordinates", _COORD_SCHEMA, "g")
def _dumpcoords(ga):
    """get_coordinates analogue (reference: base.py:6242) — explode after."""
    coords, parent = algos.get_coordinates(ga)
    return _per_row(len(ga), parent,
                    ({"x": x, "y": y} for x, y in coords.tolist()),
                    ga.is_missing())


@_udf("st_geometryn", BinaryType(), "g", "i")
def _geometryn(ga, want):
    parts, parent, ordinal = algos.get_parts(ga)
    blobs = wkb.encode(parts)
    out = [None] * len(ga)
    for k in range(len(parent)):
        if ordinal[k] == want[parent[k]]:
            out[parent[k]] = blobs[k]
    return out


@_udf("st_startpoint", BinaryType(), "g")
def _startpoint(ga):
    return algos.interpolate(ga, 0.0)


@_udf("st_endpoint", BinaryType(), "g")
def _endpoint(ga):
    return algos.interpolate(ga, 1.0, normalized=True)


# ---------------------------------------------------------------------------
# grouped aggregates (dissolve/union_all building blocks, SURVEY §2.5)
# ---------------------------------------------------------------------------

@_udf("st_union_agg_grid", BinaryType(), "a", "l", agg=True)
def _union_agg_grid(s, grid):
    """union_all with the grid_size robustness knob (base.py:2500,
    array.py:1002-1019): operands and result snapped to the grid."""
    return algos.union_all(wkb.decode(s), grid_size=_grid(grid))


@_udf("st_union_agg", BinaryType(), "a", agg=True)
def _union_agg(s):
    """Geometric union of a group (GROUPED_AGG). Point sets dedupe;
    disjoint polygons collect; overlapping polygons are unioned in one
    Martinez–Rueda noding sweep (geom/clipping.py ``union_many``). For
    scale, prefer operators.dissolve which runs a two-phase partial
    union."""
    return algos.union_all(wkb.decode(s))


@_udf("st_union_agg_coverage", BinaryType(), "a", agg=True)
def _union_agg_coverage(s):
    """union_all(method="coverage") as a GROUPED_AGG: edge-cancellation
    fast path for edge-matched polygon groups (reference
    array.py:1002-1019; GEOS CoverageUnion). Detectable violations fall
    back to the full union; crossing overlaps that share no edge are
    undefined input, per the GEOS contract."""
    return algos.union_all(wkb.decode(s), method="coverage")


@_udf("st_intersection_all_agg", BinaryType(), "a", agg=True)
def _intersection_all_agg(s):
    """Reduction by intersection (GROUPED_AGG; reference base.py:2554).
    Associative — safe under Spark's partial aggregation."""
    return algos.intersection_all(wkb.decode(s))


_SHAREDPATHS_T = StructType([
    StructField("same_direction", BinaryType()),
    StructField("opposite_direction", BinaryType()),
])


@_udf("st_sharedpaths", _SHAREDPATHS_T, "g", "g")
def _sharedpaths(ga, gb):
    """Collinear shared portions of two lines (reference base.py:5152).
    GEOS wraps the two direction classes in a GEOMETRYCOLLECTION; we
    return a struct<same_direction, opposite_direction> of WKB instead
    (no collection type in the kernel — documented deviation)."""
    return algos.shared_paths(ga, gb)


@_udf("st_union_array", BinaryType(), "p")
def _union_array(s):
    """Union an array<binary> of WKB per row. The streaming-safe union
    path: Structured Streaming cannot run GROUPED_AGG UDFs, so windowed
    aggregation collects natively (collect_list, partial-agg'd and
    state-store-backed) and reduces here with one scalar UDF."""
    return [wkb.encode(algos.union_all(wkb.decode(lst)))[0] if lst else None
            for lst in s]


@_udf("st_transform", BinaryType(), "g", "l", "l")
def _transform(ga, src, dst):
    """Reproject (reference to_crs, geopandas/array.py:1098-1187). One
    vectorized pass over the batch's flat coordinate buffer."""
    return crsmod.transform(ga, src, dst)


@_udf("st_makeline_array", BinaryType(), "p")
def _makeline_array(s):
    """array<binary> of WKB points (pre-ordered by the caller — e.g.
    sort_array over struct(ts, key, geom)) → one LINESTRING per row.
    The trajectory-assembly pattern: ordering and grouping stay native
    (collect_list is partial-aggregated and state-store-safe in
    streaming); only the final vertex stitch crosses into Python."""
    b = GeometryBuilder()
    for lst in s:
        if not lst:
            b.append_null()
            continue
        c = wkb.decode(lst).coords
        if len(c) == 0:
            b.append_empty(GT_LINESTRING)
        elif len(c) == 1:
            b.append(GT_LINESTRING, [[np.repeat(c, 2, axis=0)]])
        else:
            b.append(GT_LINESTRING, [[c]])
    return b.finish()


@_udf("st_subdivide", ArrayType(BinaryType()), "g", "l")
def _subdivide_udf(ga, mv):
    """PostGIS-style ST_Subdivide (engine-added): pieces with bounded
    vertex counts, as array<binary> for posexplode — the scale pattern
    for monster polygons (see algos.subdivide)."""
    parts, parent = algos.subdivide(ga, int(mv))
    enc = wkb.encode(parts)
    keep = [k for k, b in enumerate(enc) if b is not None]
    return _per_row(len(ga), [parent[k] for k in keep],
                    [enc[k] for k in keep], ga.is_missing())


@_udf("st_samplepoints", BinaryType(), "g", "i", "l")
def _samplepoints(ga, size, seed):
    return algos.sample_points(ga, size, int(seed))


@_udf("st_samplepoints_cluster", BinaryType(), "g", "i", "l", "l", "l")
def _samplepoints_cluster(ga, size, seed, n_parents, radius):
    return algos.sample_points(
        ga, size, int(seed), method="cluster_poisson",
        n_parents=int(n_parents) if n_parents > 0 else None,
        cluster_radius=float(radius) if radius > 0 else None)


@_udf("st_polygonize_agg", BinaryType(), "a", agg=True)
def _polygonize_agg(s):
    """Faces enclosed by the group's linework, as one MULTIPOLYGON
    (GROUPED_AGG; reference base.py:6545). Whole-group semantics — lines
    must be grouped so related linework lands in one group (document scale
    limit, SURVEY §2.8); explode with st_dump."""
    faces = algos.polygonize(wkb.decode(s))
    return algos.collect(faces) if len(faces) else None


@_udf("st_polygonize_full_agg", ArrayType(BinaryType()), "a", agg=True)
def _polygonize_full_agg(s):
    """polygonize(full=True) over the group's linework (reference
    base.py:6545): 4-element array of WKB collections — [polygons,
    cut edges (connected both ends, bounding nothing), dangles
    (free-ended after iterative pruning), invalid rings]. Elements are
    NULL when that class is empty. Input is always noded first
    (reference node=True default), so `invalid` is rarely non-empty.
    Access with element_at(col, 1..4)."""
    return [wkb.encode(algos.collect(g))[0] if len(g) else None
            for g in algos.polygonize_full(wkb.decode(s))]


@_udf("st_buildarea_agg", BinaryType(), "a", agg=True)
def _buildarea_agg(s):
    """Areal geometry from the group's linework (GROUPED_AGG; reference
    base.py:6484): enclosed faces nested by parity into shells + holes."""
    return algos.build_area(wkb.decode(s))


@_udf("st_buildarea", BinaryType(), "g")
def _buildarea(ga):
    """Per-row build_area: each row's own linework assembled independently
    (scalar twin of st_buildarea_agg; reference base.py:6484)."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == 0:
            b.append_null()
        else:
            b.append_from(algos.build_area(ga.take([i])), 0)
    return b.finish()


@_udf("st_collect_agg", BinaryType(), "a", agg=True)
def _collect_agg(s):
    return algos.collect(wkb.decode(s))


# ---------------------------------------------------------------------------
# Python column API (what `from geopandas_spark import st` exposes)
# ---------------------------------------------------------------------------

# Expression-level peephole (r12, re-keyed r13): Columns produced by
# st.point carry their coordinate expressions as an attribute on the
# exact Column instance returned (``_gps_point_args``), so a later
# st.distance over two remembered points can rewrite to pure codegen
# arithmetic (the PostGIS ST_Distance(ST_MakePoint(..),
# ST_MakePoint(..)) pattern) instead of encode → Arrow hop → decode →
# sqrt. Identity-keyed on purpose: the r12 string key (str(_jc)) used
# Spark's pretty-printed expression, which strips AttributeReference
# exprIds — in a self-join st.point(a.x, a.y) and st.point(b.x, b.y)
# printed identically and the rewrite collapsed both sides to one pair
# (distance 0.0 everywhere). Attaching to the instance makes the
# rewrite fire only for the Columns point() actually returned.
_POINT_ARGS_ATTR = "_gps_point_args"


def point(x, y) -> Column:
    """WKB point constructor (Arrow-batched UDF). A NULL or NaN coordinate
    gives a NULL geometry."""
    xc, yc = _col(x), _col(y)
    out = _REGISTRY["st_point"](xc, yc)
    try:
        out.__dict__[_POINT_ARGS_ATTR] = (xc, yc)
    except Exception:
        pass
    return out


def makebox(xmin, ymin, xmax, ymax) -> Column:
    """WKB axis-aligned box constructor (Arrow-batched UDF)."""
    return _REGISTRY["st_makebox"](_col(xmin), _col(ymin),
                                   _col(xmax), _col(ymax))


# Identity-attached source expression for WKT-parse fusion, same
# mechanism (and same self-join-safety rationale) as _POINT_ARGS_ATTR:
# the marker lives only on the exact Column instance geom_from_text
# returned, so a measure over that instance can fuse parse+measure into
# one kernel call instead of parse → WKB round trip → decode → measure.
_FROMTEXT_ARG_ATTR = "_gps_fromtext_arg"

# Identity-attached coordinate Columns of a 2-point-LINESTRING WKT
# template (``wkt_linestring2``): measures over the parse of such a
# template have closed forms in the coordinates themselves, so a later
# ``length(geom_from_text(tmpl))`` can strength-reduce to codegen'd
# sqrt instead of build-string → Arrow hop → parse → length.
_LINESTRING2_ARGS_ATTR = "_gps_linestring2_args"


def wkt_linestring2(x1, y1, x2, y2) -> Column:
    """2-point LINESTRING WKT builder: ``LINESTRING (x1 y1, x2 y2)``
    with every coordinate cast to double before string-ization, and
    non-finite coordinates NULLed (WKT has no NaN/Infinity token — both
    parse paths reject them, per GEOS-reader parity — so the template
    only ever emits parseable strings or SQL NULL).

    Why this exists (r13, guide §1.2/§4.2): string-built WKT fed to
    ``geom_from_text`` is the standard Spark-SQL idiom for constructing
    line geometries from coordinate columns, and measures over the
    result pay build-string + Arrow transfer + parse per row. Because
    this template fixes the grammar (exactly two points, canonical
    separators) and the coordinate *values* (each token is Spark's
    string-ization of a double — Java's shortest round-trippable repr —
    and both the cursor and vectorized WKT parsers convert number
    tokens with correctly-rounded string→double — Arrow fast_float /
    strtod — the parsed coordinate is bit-identical to the double the
    token was printed from), downstream measures over the exact
    returned Column instance can strength-reduce to closed forms:
    ``st.length`` becomes codegen'd sqrt((x1-x2)²+(y1-y2)²) with no
    Python evaluation anywhere (see ``length``). NULL parity is exact
    on both paths — a NULL / NaN / ±Infinity / unparseable-to-double
    coordinate NULLs the concat (→ NULL string → NULL geometry → NULL
    measure) exactly as it NULLs the closed form (pinned by
    tests/test_length_linestring2_peephole.py)."""
    _inf = F.lit(float("inf"))
    xs = []
    for v in (x1, y1, x2, y2):
        c = _col(v).cast("double")
        xs.append(F.when(F.isnan(c) | (F.abs(c) == _inf),
                         F.lit(None).cast("double")).otherwise(c))
    xs = tuple(xs)
    out = F.concat(F.lit("LINESTRING ("), xs[0], F.lit(" "), xs[1],
                   F.lit(", "), xs[2], F.lit(" "), xs[3], F.lit(")"))
    try:
        out.__dict__[_LINESTRING2_ARGS_ATTR] = xs
    except Exception:
        pass
    return out


def geom_from_text(c) -> Column:
    cc = _col(c)
    out = _REGISTRY["st_geomfromtext"](cc)
    try:
        out.__dict__[_FROMTEXT_ARG_ATTR] = cc
    except Exception:
        pass
    return out


def as_text(c) -> Column:
    return _REGISTRY["st_astext"](_col(c))


def geom_from_geojson(c) -> Column:
    return _REGISTRY["st_geomfromgeojson"](_col(c))


def as_geojson(c) -> Column:
    return _REGISTRY["st_asgeojson"](_col(c))


def geom_from_wkb(c) -> Column:
    return _REGISTRY["st_geomfromwkb"](_col(c))


def area(c) -> Column:
    return _REGISTRY["st_area"](_col(c))


def length(c) -> Column:
    cc = _col(c)
    if isinstance(cc, Column):
        # __dict__ read on purpose — see the NOTE in distance()
        src = cc.__dict__.get(_FROMTEXT_ARG_ATTR)
        if src is not None:
            args = src.__dict__.get(_LINESTRING2_ARGS_ATTR)
            if args is not None:
                # strength-reduce length∘parse∘wkt_linestring2 to the
                # closed form (r13): one segment's length is
                # sqrt(dx·dx + dy·dy) — the literal expression the
                # vectorized length kernel evaluates (algos.length
                # deliberately avoids np.hypot for SQL-parity), over
                # coordinates that round-trip bit-exactly through the
                # template's string-ization (see wkt_linestring2). No
                # NaN guard needed: the template's coordinates are
                # finite-or-NULL by construction, finite−finite cannot
                # be NaN (overflow goes to ±inf, and sqrt(inf)=inf on
                # the kernel path too), and NULL propagates through
                # the arithmetic exactly as a NULL WKT string NULLs
                # the parsed geometry and its length.
                dx = args[0] - args[2]
                dy = args[1] - args[3]
                return F.sqrt(dx * dx + dy * dy)
            return _REGISTRY["st_length_of_wkt"](src)
    return _REGISTRY["st_length"](cc)


def x(c) -> Column:
    return _REGISTRY["st_x"](_col(c))


def y(c) -> Column:
    return _REGISTRY["st_y"](_col(c))


def bounds(c) -> Column:
    return _REGISTRY["st_bounds"](_col(c))


# Optimizer-fenced bounds (r13, guide §4.4): identical values, but the
# expression is marked non-deterministic so Catalyst may not duplicate
# it below an inferred filter. The grid sjoin's cell-emission columns
# feed equi-join keys; constraint propagation pushes IsNotNull(key)
# down through the explode into a filter on the bounds fields, and the
# pushed copy re-evaluates the whole _point→_bounds UDF chain — every
# input row paid geometry construction + bounds TWICE per side
# (measured: two ArrowEvalPython nodes in the r13 sjoin_grid 'before'
# plan). The fence costs nothing here: the rows the pushed filter
# would have dropped are dropped by the explode anyway (a NULL bounds
# makes sequence() NULL and Generate emits no row).
_BOUNDS_ND = None


def bounds_fenced(c) -> Column:
    global _BOUNDS_ND
    if _BOUNDS_ND is None:
        _BOUNDS_ND = _REGISTRY["st_bounds"].asNondeterministic()
    return _BOUNDS_ND(_col(c))


def npoints(c) -> Column:
    return _REGISTRY["st_npoints"](_col(c))


def ngeometries(c) -> Column:
    return _REGISTRY["st_ngeometries"](_col(c))


def geometry_type(c) -> Column:
    return _REGISTRY["st_geometrytype"](_col(c))


def is_empty(c) -> Column:
    return _REGISTRY["st_isempty"](_col(c))


def is_valid(c) -> Column:
    return _REGISTRY["st_isvalid"](_col(c))


def is_simple(c) -> Column:
    return _REGISTRY["st_issimple"](_col(c))


def is_ring(c) -> Column:
    return _REGISTRY["st_isring"](_col(c))


def is_closed(c) -> Column:
    return _REGISTRY["st_isclosed"](_col(c))


def is_ccw(c) -> Column:
    return _REGISTRY["st_isccw"](_col(c))


def n_interior_rings(c) -> Column:
    return _REGISTRY["st_ninteriorrings"](_col(c))


def exterior(c) -> Column:
    return _REGISTRY["st_exterior"](_col(c))


def has_z(c) -> Column:
    """Per-row Z presence (reference geopandas/base.py:812). Z rides the
    kernel's optional parallel buffer; planar ops ignore it."""
    return _REGISTRY["st_hasz"](_col(c))


def has_m(c) -> Column:
    """Per-row M presence (reference geopandas/base.py:843)."""
    return _REGISTRY["st_hasm"](_col(c))


def z(c) -> Column:
    """Z of point rows (reference geoseries.py:251); NaN when 2-D."""
    return _REGISTRY["st_z"](_col(c))


def m(c) -> Column:
    """M of point rows (reference geoseries.py:340)."""
    return _REGISTRY["st_m"](_col(c))


def force_2d(c) -> Column:
    return _REGISTRY["st_force2d"](_col(c))


def force_3d(c, z=0.0) -> Column:
    return _REGISTRY["st_force3d"](_col(c), F.lit(float(z)))


def collection_extract(c, geom_type) -> Column:
    return _REGISTRY["st_collectionextract"](_col(c), F.lit(str(geom_type)))


def geom_equals_identical(a, b) -> Column:
    """Exact coordinate-by-coordinate, order-sensitive equality
    (reference geopandas/base.py:3108). Native byte comparison: the
    kernel's WKB encoding is canonical (little-endian, fixed layout), so
    identical geometry <=> identical bytes — zero-UDF, codegen'd."""
    a, b = _col(a), _col(b)
    return F.when(a.isNull() | b.isNull(), F.lit(None).cast("boolean")
                  ).otherwise(a == b)


def distance(a, b) -> Column:
    """Distance between geometry columns (Arrow-batched kernel).

    Peephole (r12, hardened r13): when BOTH arguments are the exact
    Column instances ``st.point(x, y)`` returned in this session
    (identity-attached args — see ``_POINT_ARGS_ATTR``), rewrite to
    codegen'd ``sqrt((x1-x2)² + (y1-y2)²)`` — identical values (the
    kernel's all-points path computes the same sqrt(dx·dx + dy·dy)
    expressly for SQL parity) and identical NULL propagation, but the
    plan stays whole-stage JVM with no WKB encode/Arrow hop/decode
    round trip. The lon/lat → point → distance pattern is the dominant
    pointwise workload (PostGIS: ST_Distance(ST_MakePoint(..), ..)).

    Degenerate input matches the Arrow kernel exactly: NaN coordinates
    yield NULL on both paths (the UDF boundary returns every NaN float
    result as NULL — docs/geopandas-mapping.md — so the rewrite wraps
    the sqrt in an isnan→NULL guard to keep st.distance deterministic
    regardless of which path a plan takes)."""
    a, b = _col(a), _col(b)
    # NOTE: must read __dict__ directly — Column.__getattr__ turns any
    # unknown attribute into a field-access Column, so getattr() with a
    # default would "find" the attr on every Column.
    pa_ = a.__dict__.get(_POINT_ARGS_ATTR)
    pb_ = b.__dict__.get(_POINT_ARGS_ATTR)
    if pa_ is not None and pb_ is not None:
        dx = pa_[0].cast("double") - pb_[0].cast("double")
        dy = pa_[1].cast("double") - pb_[1].cast("double")
        d = F.sqrt(dx * dx + dy * dy)
        return F.when(F.isnan(d), F.lit(None).cast("double")).otherwise(d)
    return _REGISTRY["st_distance"](a, b)


def dwithin(a, b, d) -> Column:
    return _REGISTRY["st_dwithin"](_col(a), _col(b), _col(d))


def intersects(a, b) -> Column:
    return _REGISTRY["st_intersects"](_col(a), _col(b))


def contains(a, b) -> Column:
    return _REGISTRY["st_contains"](_col(a), _col(b))


def within(a, b) -> Column:
    return _REGISTRY["st_within"](_col(a), _col(b))


def covers(a, b) -> Column:
    return _REGISTRY["st_covers"](_col(a), _col(b))


def covered_by(a, b) -> Column:
    return _REGISTRY["st_coveredby"](_col(a), _col(b))


def touches(a, b) -> Column:
    return _REGISTRY["st_touches"](_col(a), _col(b))


def crosses(a, b) -> Column:
    return _REGISTRY["st_crosses"](_col(a), _col(b))


def overlaps(a, b) -> Column:
    return _REGISTRY["st_overlaps"](_col(a), _col(b))


def geom_equals(a, b) -> Column:
    return _REGISTRY["st_equals"](_col(a), _col(b))


def disjoint(a, b) -> Column:
    return _REGISTRY["st_disjoint"](_col(a), _col(b))


def centroid(c) -> Column:
    return _REGISTRY["st_centroid"](_col(c))


def envelope(c) -> Column:
    return _REGISTRY["st_envelope"](_col(c))


def boundary(c) -> Column:
    return _REGISTRY["st_boundary"](_col(c))


def convex_hull(c) -> Column:
    return _REGISTRY["st_convexhull"](_col(c))


def buffer(c, dist, quad_segs: int = 16, cap_style: str = "round",
           join_style: str = "round", mitre_limit: float = 5.0,
           single_sided: bool = False) -> Column:
    """quad_segs default 16 matches the reference's buffer default; the
    full cap_style/join_style/mitre_limit/single_sided kwarg matrix
    mirrors geopandas/array.py:916-943."""
    return _REGISTRY["st_buffer"](
        _col(c), _col(dist), F.lit(quad_segs), F.lit(str(cap_style)),
        F.lit(str(join_style)), F.lit(float(mitre_limit)),
        F.lit(bool(single_sided)))


def simplify(c, tol, preserve_topology=True) -> Column:
    """Douglas-Peucker simplification. Default preserve_topology=True
    matches the reference (base.py:5475); pass False for the cheap
    non-preserving DP (see algos.simplify for the guard semantics)."""
    return _REGISTRY["st_simplify"](_col(c), _col(tol),
                                    F.lit(bool(preserve_topology)))


def clip_by_rect(c, xmin, ymin, xmax, ymax) -> Column:
    return _REGISTRY["st_clipbyrect"](
        _col(c), F.lit(float(xmin)), F.lit(float(ymin)), F.lit(float(xmax)),
        F.lit(float(ymax)))


def intersection(a, b, grid_size=None, mixed: bool = False) -> Column:
    """``mixed=True`` emits lower-dimensional parts of polygon/line pairs
    (shared edges, touch points) instead of the polygonal-only default —
    GEOS point-set semantics, surfaced by overlay(keep_geom_type=False)."""
    return _REGISTRY["st_intersection"](_col(a), _col(b),
                                        F.lit(float(grid_size or 0.0)),
                                        F.lit(bool(mixed)))


def difference(a, b, grid_size=None) -> Column:
    return _REGISTRY["st_difference"](_col(a), _col(b),
                                      F.lit(float(grid_size or 0.0)))


def intersection_overlay(a, b, *, mixed: bool, keep: bool) -> Column:
    """Fused overlay-intersection (see _intersection_overlay kernel):
    NULL for empty / class-changed pieces — filter isNotNull natively."""
    return _REGISTRY["st_intersection_overlay"](
        _col(a), _col(b), F.lit(bool(mixed)), F.lit(bool(keep)))


def difference_residue(a, b) -> Column:
    """Fused overlay residue (see _difference_residue kernel): a − b,
    NULL b passes a through, empty results come back NULL."""
    return _REGISTRY["st_difference_residue"](_col(a), _col(b))


def union(a, b, grid_size=None) -> Column:
    return _REGISTRY["st_union"](_col(a), _col(b),
                                 F.lit(float(grid_size or 0.0)))


def symmetric_difference(a, b, grid_size=None) -> Column:
    return _REGISTRY["st_symdifference"](_col(a), _col(b),
                                         F.lit(float(grid_size or 0.0)))


def translate(c, xoff=0.0, yoff=0.0, zoff=0.0) -> Column:
    return _REGISTRY["st_translate"](_col(c), _col(xoff), _col(yoff),
                                     F.lit(float(zoff)))


def scale(c, xfact=1.0, yfact=1.0, zfact=1.0) -> Column:
    return _REGISTRY["st_scale"](_col(c), F.lit(float(xfact)),
                                 F.lit(float(yfact)), F.lit(float(zfact)))


def rotate(c, angle_deg) -> Column:
    return _REGISTRY["st_rotate"](_col(c), F.lit(float(angle_deg)))


def affine(c, a, b, d, e, xoff, yoff) -> Column:
    return _REGISTRY["st_affine"](
        _col(c), *(F.lit(float(v)) for v in (a, b, d, e, xoff, yoff)))


def affine_matrix(c, matrix) -> Column:
    """Reference-style affine_transform(geom, matrix): matrix is the
    6-tuple [a b d e xoff yoff] (2-D) or 12-tuple
    [a b c d e f g h i xoff yoff zoff] (3-D, Z-transforming) —
    geopandas/base.py:5970."""
    matrix = [float(v) for v in matrix]
    if len(matrix) == 6:
        return affine(c, *matrix)
    if len(matrix) != 12:
        raise ValueError("matrix must have 6 or 12 elements")
    return _REGISTRY["st_affine3d"](
        _col(c), F.array(*[F.lit(v) for v in matrix]))


def interpolate(c, dist, normalized=False) -> Column:
    return _REGISTRY["st_interpolate"](_col(c), _col(dist),
                                       F.lit(bool(normalized)))


def line_interpolate_point(c, frac) -> Column:
    return _REGISTRY["st_lineinterpolatepoint"](_col(c), _col(frac))


def project(a, b, normalized=False) -> Column:
    return _REGISTRY["st_project"](_col(a), _col(b),
                                   F.lit(bool(normalized)))


def dump(c) -> Column:
    return _REGISTRY["st_dump"](_col(c))


def dump_coordinates(c) -> Column:
    return _REGISTRY["st_dumpcoordinates"](_col(c))


def geometry_n(c, n) -> Column:
    return _REGISTRY["st_geometryn"](_col(c), _col(n))


def union_agg(c, grid_size=None, method: str = "unary") -> Column:
    """Geometric union aggregate. ``method="coverage"`` takes the
    edge-cancellation fast path for edge-matched groups (reference
    union_all(method=), base.py:2500-2553)."""
    if grid_size:
        return _REGISTRY["st_union_agg_grid"](_col(c),
                                              F.lit(float(grid_size)))
    if method == "coverage":
        return _REGISTRY["st_union_agg_coverage"](_col(c))
    if method not in ("unary", "disjoint_subset"):
        raise ValueError(f"unknown union method {method!r}")
    return _REGISTRY["st_union_agg"](_col(c))


def intersection_all_agg(c) -> Column:
    return _REGISTRY["st_intersection_all_agg"](_col(c))


def shared_paths(a, b) -> Column:
    return _REGISTRY["st_sharedpaths"](_col(a), _col(b))


def union_array(c) -> Column:
    return _REGISTRY["st_union_array"](_col(c))


def to_crs(c, src, dst) -> Column:
    return _REGISTRY["st_transform"](_col(c), F.lit(str(src)), F.lit(str(dst)))


def sample_points(c, size, seed=0, method="uniform", n_parents=None,
                  cluster_radius=None) -> Column:
    """Random points per geometry (reference base.py:6379). 'uniform' or
    'cluster_poisson' (pointpats-style parent/offspring clustering — the
    reference reaches it through the optional pointpats package)."""
    if method == "uniform":
        return _REGISTRY["st_samplepoints"](_col(c), _col(size),
                                            F.lit(int(seed)))
    if method == "cluster_poisson":
        return _REGISTRY["st_samplepoints_cluster"](
            _col(c), _col(size), F.lit(int(seed)),
            F.lit(int(n_parents or 0)),
            F.lit(float(cluster_radius or 0.0)))
    raise NotImplementedError(
        "sample_points: methods 'uniform' and 'cluster_poisson' are "
        "built in")


def make_line(c) -> Column:
    """Stitch an array<binary> of WKB points (pre-ordered) into one
    LINESTRING — the trajectory assembly step; pair with native
    sort_array(collect_list(struct(ts, key, geom)))."""
    return _REGISTRY["st_makeline_array"](_col(c))


def subdivide(c, max_vertices: int = 256) -> Column:
    """Pieces of each geometry with <= max_vertices coordinates, as
    array<binary> — pair with posexplode to spread monster polygons
    across tasks (engine-added; PostGIS ST_Subdivide analogue)."""
    return _REGISTRY["st_subdivide"](_col(c), F.lit(int(max_vertices)))


def polygonize_full_agg(c) -> Column:
    return _REGISTRY["st_polygonize_full_agg"](_col(c))


def polygonize_agg(c) -> Column:
    return _REGISTRY["st_polygonize_agg"](_col(c))


def build_area_agg(c) -> Column:
    return _REGISTRY["st_buildarea_agg"](_col(c))


def build_area(c) -> Column:
    return _REGISTRY["st_buildarea"](_col(c))


def reverse(c) -> Column:
    return _REGISTRY["st_reverse"](_col(c))


def make_valid(c, method: str = "linework",
               keep_collapsed: bool = True) -> Column:
    """Repair invalid geometry (reference base.py:2114; default method
    'linework' matching the reference). 'linework' = node all boundary
    rings, extract faces, even-odd re-nesting (ring roles discarded);
    'structure' = repair rings separately, union shells, subtract the
    union of holes — see algos.make_valid. GEOS linework's
    lower-dimensional collapse artifacts are not reproduced
    (keep_collapsed accepted for signature parity)."""
    if method not in ("structure", "linework"):
        raise ValueError(f"make_valid method {method!r} not supported")
    return _REGISTRY["st_makevalid"](_col(c), F.lit(str(method)))


def delaunay_triangles(c, tolerance=0.0, only_edges=False) -> Column:
    return _REGISTRY["st_delaunaytriangles"](
        _col(c), F.lit(float(tolerance)), F.lit(bool(only_edges)))


def constrained_delaunay_triangles(c) -> Column:
    return _REGISTRY["st_constraineddelaunaytriangles"](_col(c))


def concave_hull(c, ratio=0.0, allow_holes=False) -> Column:
    return _REGISTRY["st_concavehull"](_col(c), F.lit(float(ratio)),
                                       F.lit(bool(allow_holes)))


def skew(c, xs_deg=0.0, ys_deg=0.0) -> Column:
    return _REGISTRY["st_skew"](_col(c), F.lit(float(xs_deg)),
                                F.lit(float(ys_deg)))


def interiors(c) -> Column:
    return _REGISTRY["st_interiorrings"](_col(c))


def minimum_clearance(c) -> Column:
    return _REGISTRY["st_minimumclearance"](_col(c))


def minimum_clearance_line(c) -> Column:
    return _REGISTRY["st_minimumclearanceline"](_col(c))


def maximum_inscribed_circle(c, tolerance=0.0) -> Column:
    """Two-point line center→nearest boundary point (length = radius);
    tolerance<=0 means automatic (bbox diagonal / 1000)."""
    return _REGISTRY["st_maximuminscribedcircle"](
        _col(c), F.lit(float(tolerance)))


def get_precision(c) -> Column:
    return _REGISTRY["st_precision"](_col(c))


def offset_curve(c, d) -> Column:
    return _REGISTRY["st_offsetcurve"](_col(c), _col(d))


def is_valid_coverage_agg(c) -> Column:
    return _REGISTRY["st_isvalidcoverage_agg"](_col(c))


def voronoi_polygons(c, tolerance=0.0, only_edges=False) -> Column:
    return _REGISTRY["st_voronoipolygons"](
        _col(c), F.lit(float(tolerance)), F.lit(bool(only_edges)))


def line_merge(c, directed=False) -> Column:
    return _REGISTRY["st_linemerge"](_col(c), F.lit(bool(directed)))


def is_valid_reason(c) -> Column:
    return _REGISTRY["st_isvalidreason"](_col(c))


def startpoint(c) -> Column:
    return _REGISTRY["st_startpoint"](_col(c))


def endpoint(c) -> Column:
    return _REGISTRY["st_endpoint"](_col(c))


def normalize(c) -> Column:
    return _REGISTRY["st_normalize"](_col(c))


def orient_polygons(c) -> Column:
    return _REGISTRY["st_orientpolygons"](_col(c))


def extract_unique_points(c) -> Column:
    return _REGISTRY["st_points"](_col(c))


def minimum_bounding_circle(c) -> Column:
    return _REGISTRY["st_minimumboundingcircle"](_col(c))


def minimum_bounding_radius(c) -> Column:
    return _REGISTRY["st_minimumboundingradius"](_col(c))


def minimum_rotated_rectangle(c) -> Column:
    return _REGISTRY["st_orientedenvelope"](_col(c))


def representative_point(c) -> Column:
    return _REGISTRY["st_pointonsurface"](_col(c))


def segmentize(c, max_len) -> Column:
    return _REGISTRY["st_segmentize"](_col(c), _col(max_len))


def remove_repeated_points(c, tol=0.0) -> Column:
    return _REGISTRY["st_removerepeatedpoints"](_col(c), _col(tol))


def set_precision(c, grid_size) -> Column:
    return _REGISTRY["st_setprecision"](_col(c), _col(grid_size))


def snap(a, b, tol) -> Column:
    return _REGISTRY["st_snap"](_col(a), _col(b), _col(tol))


def shortest_line(a, b) -> Column:
    return _REGISTRY["st_shortestline"](_col(a), _col(b))


def hausdorff_distance(a, b, densify=None) -> Column:
    """densify (0<f<=1) samples round(1/f) points per segment before the
    directed max (reference base.py:4166)."""
    if densify is None:
        return _REGISTRY["st_hausdorffdistance"](_col(a), _col(b))
    return _REGISTRY["st_hausdorffdistance_densify"](
        _col(a), _col(b), F.lit(float(densify)))


def frechet_distance(a, b, densify=None) -> Column:
    """densify (0<f<=1) subdivides every edge of both chains before the
    discrete-Fréchet DP (reference base.py:4281)."""
    if densify is None:
        return _REGISTRY["st_frechetdistance"](_col(a), _col(b))
    return _REGISTRY["st_frechetdistance_densify"](
        _col(a), _col(b), F.lit(float(densify)))


def geom_equals_exact(a, b, tol) -> Column:
    return _REGISTRY["st_equalsexact"](_col(a), _col(b), _col(tol))


def contains_properly(a, b) -> Column:
    return _REGISTRY["st_containsproperly"](_col(a), _col(b))


def transform_coords(c, fn) -> Column:
    """Lift a user coordinate-level function into the engine's Arrow-batched
    harness (reference: GeoSeries.transform, base.py:2257). ``fn`` receives
    the batch's flat (N,2) float64 coordinate array and returns same-shape
    coordinates; geometry structure is preserved. The function is shipped in
    the task closure — it must be picklable."""

    @_udf(None, BinaryType(), "g")
    def _xform(ga):
        nc = np.asarray(fn(ga.coords.copy()), dtype=np.float64)
        return GeometryArray(ga.types, ga.geom_offsets, ga.part_offsets,
                             ga.ring_offsets, nc.reshape(-1, 2))

    return _xform(_col(c))


def apply(c, fn) -> Column:
    """Elementwise user function over decoded geometry rows (reference:
    GeoSeries.apply, geoseries.py:806): ``fn(GeometryArray, i)`` returns
    (type, parts) appended via the builder, or None for null. Slow path —
    prefer the built-in st_* functions."""

    @_udf(None, BinaryType(), "g")
    def _apply(ga):
        b = GeometryBuilder()
        for i in range(len(ga)):
            res = fn(ga, i)
            if res is None:
                b.append_null()
            else:
                b.append(res[0], res[1])
        return b.finish()

    return _apply(_col(c))


def relate(a, b) -> Column:
    return _REGISTRY["st_relate"](_col(a), _col(b))


def relate_pattern(a, b, pattern) -> Column:
    return _REGISTRY["st_relatematch"](_col(a), _col(b), F.lit(str(pattern)))


def collect_agg(c) -> Column:
    return _REGISTRY["st_collect_agg"](_col(c))


def hilbert(c, xmin, ymin, xmax, ymax) -> Column:
    return _REGISTRY["st_hilbert"](
        _col(c), *(F.lit(float(v)) for v in (xmin, ymin, xmax, ymax)))


def x_min(c) -> Column:
    return _REGISTRY["st_xmin"](_col(c))


def y_min(c) -> Column:
    return _REGISTRY["st_ymin"](_col(c))


def x_max(c) -> Column:
    return _REGISTRY["st_xmax"](_col(c))


def y_max(c) -> Column:
    return _REGISTRY["st_ymax"](_col(c))


# ---------------------------------------------------------------------------
# reference-name aliases (GeoSeries/GeoDataFrame surface): users switching
# from the reference find the same names; each binds the SAME callable as
# the canonical name above (reference geopandas/geoseries.py:414-664,
# base.py geom_type/get_geometry)
# ---------------------------------------------------------------------------

geom_type = geometry_type
get_geometry = geometry_n
from_wkt = geom_from_text
from_wkb = geom_from_wkb
from_xy = point


def register_sql(spark) -> None:
    """Register every st_* function for SQL use:
    ``spark.sql("SELECT st_area(st_point(1,2))")``."""
    for name, udf in _REGISTRY.items():
        spark.udf.register(name, udf)
