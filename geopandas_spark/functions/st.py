"""st_* column functions: the engine's scalar-function surface.

Every elementwise operator of the reference's GeoSeries API (SURVEY.md
§2.2-2.3) is exposed here twice:

- as a Python column function: ``st.area(col)``
- as a Spark SQL function: ``SELECT st_area(geom) ...`` (via
  :func:`register_sql`)

All geometry columns are WKB ``BinaryType``. Each function is a vectorized
(Arrow-batched) pandas UDF that decodes the batch into the columnar kernel
representation, runs a numpy kernel from :mod:`geopandas_spark.geom.algos`,
and re-encodes. This is the engine's equivalent of the reference's thin
delegation layer (geopandas/base.py:27-131 → shapely ufuncs): same shape —
a batch-level C-speed kernel behind a per-operator 3-line registration.

Scale notes (100 TB design): every function here is stateless and
elementwise — it parallelizes trivially across partitions, survives AQE
re-planning, and composes with Structured Streaming. The UDF boundary is
the JVM→Python Arrow hop; batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

import weakref

import numpy as np
import pandas as pd

from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DoubleType, LongType, StringType,
    StructField, StructType,
)

from geopandas_spark.geom import algos, wkb
from geopandas_spark.geom import crs as crsmod
from geopandas_spark.geom import geojson as gjmod
from geopandas_spark.geom import wkt as wktmod
from geopandas_spark.geom.array import points_from_xy, boxes_from_bounds

__all__ = ["register_sql"]

_REGISTRY: dict = {}


def _reg(name):
    def deco(udf):
        _REGISTRY[name] = udf
        return udf
    return deco


def _col(c):
    """pyspark convention: strings are column names, other scalars literals."""
    if isinstance(c, Column):
        return c
    if isinstance(c, str):
        return F.col(c)
    return F.lit(c)


_SERIES_MEMO: dict = {}    # id(series) -> (weakref(series), GeometryArray)


def _memo_get(s: pd.Series):
    """Per-batch decode memo, keyed on Series OBJECT IDENTITY (r13).

    When one ArrowEvalPython node evaluates several geometry UDFs over
    the same input column (the predicates query runs six, each with the
    same (box, pt) args; buffer+centroid share geom), the worker unpacks
    each Arrow column to ONE pandas Series and passes that same object
    to every UDF — so the column was decoded once per UDF per batch.
    The memo returns the prior decode when the exact Series object is
    seen again. A weakref guards id() reuse: an entry only hits while
    the original Series is alive, and dead entries are swept on every
    store, so at most the current batch's columns are retained (the
    Series dies with the batch, taking the entry with it on the next
    sweep — no cross-batch result caching, values only ever live within
    one evaluation)."""
    ent = _SERIES_MEMO.get(id(s))
    if ent is not None and ent[0]() is s:
        return ent[1]
    return None


def _memo_put(s: pd.Series, ga) -> None:
    try:
        ref = weakref.ref(s)
    except TypeError:               # non-weakrefable input: skip memo
        return
    for k in [k for k, (r, _) in _SERIES_MEMO.items() if r() is None]:
        del _SERIES_MEMO[k]
    _SERIES_MEMO[id(s)] = (ref, ga)


def _decode(s: pd.Series):
    ga = _memo_get(s)
    if ga is None:
        ga = wkb.decode(s.tolist())
        _memo_put(s, ga)
    return ga


def _decode_dedup(s: pd.Series):
    """Decode with per-batch duplicate elimination.  Join refines feed
    the same geometry bytes many times per batch (one polygon × many
    points sharing a grid cell): factorize the raw WKB first so each
    DISTINCT buffer decodes once, then gather.  Falls back to the plain
    decode when the batch is mostly distinct (factorize cost ≈ 2 ms per
    20k rows vs ≈ 40 ms decode, so the check is nearly free)."""
    ga = _memo_get(s)
    if ga is not None:
        return ga
    vals = s.to_numpy(dtype=object)
    codes, uniq = pd.factorize(vals, use_na_sentinel=False)
    if 2 * len(uniq) > len(vals):
        ga = wkb.decode(vals.tolist())
    else:
        ga = wkb.decode(list(uniq)).take(codes)
    _memo_put(s, ga)
    return ga


def _enc(ga) -> pd.Series:
    return pd.Series(wkb.encode(ga), dtype=object)


def _mask_float(ga, vals: np.ndarray) -> pd.Series:
    """``vals`` as a float64 Series (``ga`` is unused). NaN is left as
    NaN here; it reaches Spark as SQL NULL because PySpark's pandas →
    Arrow conversion masks every null-like value (``mask=isnull()``)."""
    out = pd.Series(vals, dtype="float64")
    return out


def _mask_null_bool(ga, vals) -> pd.Series:
    # missing geometry → False, matching the reference's predicate
    # semantics for missing values (geopandas/array.py:794-851)
    return pd.Series(np.asarray(vals, dtype=bool))


# ---------------------------------------------------------------------------
# constructors / codecs
# ---------------------------------------------------------------------------

@_reg("st_point")
@pandas_udf(BinaryType())
def _point(x: pd.Series, y: pd.Series) -> pd.Series:
    ga = points_from_xy(x.to_numpy(np.float64), y.to_numpy(np.float64))
    out = wkb.encode(ga)
    null = (x.isna() | y.isna()).to_numpy()
    if null.any():
        for i in np.nonzero(null)[0]:
            out[i] = None
    return pd.Series(out, dtype=object)


@_reg("st_makebox")
@pandas_udf(BinaryType())
def _makebox(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series,
             ymax: pd.Series) -> pd.Series:
    ga = boxes_from_bounds(xmin.to_numpy(np.float64), ymin.to_numpy(np.float64),
                           xmax.to_numpy(np.float64), ymax.to_numpy(np.float64))
    return _enc(ga)


@_reg("st_geomfromtext")
@pandas_udf(BinaryType())
def _geomfromtext(s: pd.Series) -> pd.Series:
    ga = wktmod.parse_array(s.tolist())
    return _enc(ga)


@_reg("st_length_of_wkt")
@pandas_udf(DoubleType())
def _length_of_wkt(s: pd.Series) -> pd.Series:
    """Fused parse→length kernel (r13, guide §4.2): same parse_array and
    same length kernel as the st_geomfromtext → st_length chain, minus
    the per-row WKB encode → bytes Series → decode round trip between
    the two UDFs (wkb.decode(wkb.encode(ga)) is the identity on every
    parse_array output, so the values are unchanged by construction).
    Selected by ``length()`` when its argument is a Column that
    ``geom_from_text()`` returned in this session — see
    ``_FROMTEXT_ARG_ATTR``."""
    ga = wktmod.parse_array(s.tolist())
    return _mask_float(ga, algos.length(ga))


@_reg("st_astext")
@pandas_udf(StringType())
def _astext(s: pd.Series) -> pd.Series:
    ga = _decode(s)
    return pd.Series(wktmod.format_array(ga), dtype=object)


@_reg("st_geomfromwkb")
@pandas_udf(BinaryType())
def _geomfromwkb(s: pd.Series) -> pd.Series:
    # validation round-trip (normalizes endianness / EWKB flags)
    return _enc(_decode(s))


@_reg("st_aswkb")
@pandas_udf(BinaryType())
def _aswkb(s: pd.Series) -> pd.Series:
    return s


@_reg("st_geomfromgeojson")
@pandas_udf(BinaryType())
def _geomfromgeojson(s: pd.Series) -> pd.Series:
    return _enc(gjmod.parse_array(s.tolist()))


@_reg("st_asgeojson")
@pandas_udf(StringType())
def _asgeojson(s: pd.Series) -> pd.Series:
    return pd.Series(gjmod.format_array(_decode(s)), dtype=object)


# ---------------------------------------------------------------------------
# measures
# ---------------------------------------------------------------------------

def _unary_double(name, kernel):
    @_reg(name)
    @pandas_udf(DoubleType())
    def f(s: pd.Series) -> pd.Series:
        ga = _decode(s)
        return _mask_float(ga, kernel(ga))
    return f


_unary_double("st_area", algos.area)
_unary_double("st_length", algos.length)
_unary_double("st_perimeter", algos.length)
_unary_double("st_x", algos.get_x)
_unary_double("st_y", algos.get_y)
_unary_double("st_z", algos.get_z)
_unary_double("st_m", algos.get_m)


def _unary_long(name, kernel):
    @_reg(name)
    @pandas_udf(LongType())
    def f(s: pd.Series) -> pd.Series:
        ga = _decode(s)
        return pd.Series(np.asarray(kernel(ga), dtype=np.int64))
    return f


_unary_long("st_npoints", algos.count_coordinates)
_unary_long("st_ngeometries", algos.count_geometries)
_unary_long("st_ninteriorrings", algos.count_interior_rings)


def _unary_bool(name, kernel):
    @_reg(name)
    @pandas_udf(BooleanType())
    def f(s: pd.Series) -> pd.Series:
        ga = _decode(s)
        return _mask_null_bool(ga, kernel(ga))
    return f


_unary_bool("st_isempty", lambda ga: ga.is_empty() | ga.is_missing())
_unary_bool("st_isvalid", algos.is_valid)
_unary_bool("st_issimple", algos.is_simple)
_unary_bool("st_isring", algos.is_ring)
_unary_bool("st_isclosed", algos.is_closed)
_unary_bool("st_isccw", algos.is_ccw)


@_reg("st_geometrytype")
@pandas_udf(StringType())
def _geometrytype(s: pd.Series) -> pd.Series:
    ga = _decode(s)
    return pd.Series(algos.geom_type_name(ga), dtype=object)


_BOUNDS_SCHEMA = StructType([
    StructField("xmin", DoubleType()), StructField("ymin", DoubleType()),
    StructField("xmax", DoubleType()), StructField("ymax", DoubleType()),
])


@_reg("st_bounds")
@pandas_udf(_BOUNDS_SCHEMA)
def _bounds(s: pd.Series) -> pd.DataFrame:
    ga = _decode(s)
    bb = algos.bounds(ga)
    return pd.DataFrame(
        {"xmin": bb[:, 0], "ymin": bb[:, 1], "xmax": bb[:, 2], "ymax": bb[:, 3]})


for _nm, _ix in (("st_xmin", 0), ("st_ymin", 1), ("st_xmax", 2), ("st_ymax", 3)):
    def _mk(ix):
        @pandas_udf(DoubleType())
        def f(s: pd.Series) -> pd.Series:
            ga = _decode(s)
            return pd.Series(algos.bounds(ga)[:, ix])
        return f
    _REGISTRY[_nm] = _mk(_ix)


@_reg("st_hilbert")
@pandas_udf(LongType())
def _hilbert(s: pd.Series, xmin: pd.Series, ymin: pd.Series, xmax: pd.Series,
             ymax: pd.Series) -> pd.Series:
    """Hilbert-curve key of the bbox midpoint within the given total bounds —
    the spatial partitioning key (SURVEY §2.6)."""
    ga = _decode(s)
    tb = [float(xmin.iloc[0]), float(ymin.iloc[0]),
          float(xmax.iloc[0]), float(ymax.iloc[0])]
    return pd.Series(algos.hilbert_distance(ga, tb, level=15))


# ---------------------------------------------------------------------------
# binary predicates / measures
# ---------------------------------------------------------------------------

def _binary_bool(name, kernel):
    @_reg(name)
    @pandas_udf(BooleanType())
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        return _mask_null_bool(None, kernel(_decode_dedup(a),
                                            _decode_dedup(b)))
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


@_reg("st_distance")
@pandas_udf(DoubleType())
def _distance(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(algos.distance(_decode_dedup(a), _decode_dedup(b)))


@_reg("st_dwithin")
@pandas_udf(BooleanType())
def _dwithin(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
    return _mask_null_bool(
        None, algos.distance(_decode_dedup(a), _decode_dedup(b))
        <= d.to_numpy(np.float64))


# ---------------------------------------------------------------------------
# constructive (geometry → geometry)
# ---------------------------------------------------------------------------

def _unary_geom(name, kernel):
    @_reg(name)
    @pandas_udf(BinaryType())
    def f(s: pd.Series) -> pd.Series:
        return _enc(kernel(_decode(s)))
    return f


_unary_geom("st_centroid", algos.centroid)
_unary_geom("st_envelope", algos.envelope)
_unary_geom("st_boundary", algos.boundary)
_unary_geom("st_convexhull", algos.convex_hull)
_unary_geom("st_reverse", algos.reverse)
_unary_geom("st_exterior", algos.exterior)
_unary_geom("st_force2d", algos.force_2d)
_unary_bool("st_hasz", lambda ga: ga.row_has_z())
_unary_bool("st_hasm", lambda ga: ga.row_has_m())


@_reg("st_force3d")
@pandas_udf(BinaryType())
def _force3d(s: pd.Series, zfill: pd.Series) -> pd.Series:
    """force_3d (reference base.py:2332): keep existing Z, fill 2-D rows."""
    return _enc(algos.force_3d(_decode(s), float(zfill.iloc[0])))


@_reg("st_collectionextract")
@pandas_udf(BinaryType())
def _collectionextract(s: pd.Series, gtype: pd.Series) -> pd.Series:
    """Parts of one dimension (reference overlay keep_geom_type explode,
    geopandas/tools/overlay.py:395-454)."""
    return _enc(algos.collection_extract(_decode(s), str(gtype.iloc[0])))
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


@_reg("st_maximuminscribedcircle")
@pandas_udf(BinaryType())
def _maxinscribedcircle(s: pd.Series, tol: pd.Series) -> pd.Series:
    t = tol.iloc[0]
    return _enc(algos.maximum_inscribed_circle(
        _decode(s), None if t is None or t <= 0 else float(t)))
@_reg("st_makevalid")
@pandas_udf(BinaryType())
def _makevalid(s: pd.Series, method: pd.Series) -> pd.Series:
    return _enc(algos.make_valid(_decode(s), method=str(method.iloc[0])))
@_reg("st_linemerge")
@pandas_udf(BinaryType())
def _linemerge(s: pd.Series, directed: pd.Series) -> pd.Series:
    return _enc(algos.line_merge(_decode(s),
                                 directed=bool(directed.iloc[0])))
@_reg("st_delaunaytriangles")
@pandas_udf(BinaryType())
def _delaunaytriangles(s: pd.Series, tolerance: pd.Series,
                       only_edges: pd.Series) -> pd.Series:
    return _enc(algos.delaunay_triangles(
        _decode(s), float(tolerance.iloc[0]), bool(only_edges.iloc[0])))


@_reg("st_voronoipolygons")
@pandas_udf(BinaryType())
def _voronoipolygons(s: pd.Series, tolerance: pd.Series,
                     only_edges: pd.Series) -> pd.Series:
    return _enc(algos.voronoi_polygons(
        _decode(s), tolerance=float(tolerance.iloc[0]),
        only_edges=bool(only_edges.iloc[0])))


_unary_double("st_minimumclearance", algos.minimum_clearance)
_unary_double("st_precision", algos.get_precision)


@_reg("st_offsetcurve")
@pandas_udf(BinaryType())
def _offsetcurve(s: pd.Series, d: pd.Series) -> pd.Series:
    return _enc(algos.offset_curve(_decode(s), d.to_numpy(np.float64)))


@_reg("st_isvalidcoverage_agg")
@pandas_udf(BooleanType())
def _isvalidcoverage_agg(s: pd.Series) -> bool:
    """Whole-group coverage validity (GROUPED_AGG; reference base.py:378):
    polygon interiors pairwise disjoint."""
    return bool(algos.is_valid_coverage(wkb.decode(s.tolist())))


@_reg("st_skew")
@pandas_udf(BinaryType())
def _skew(s: pd.Series, xs_deg: pd.Series, ys_deg: pd.Series) -> pd.Series:
    return _enc(algos.skew(_decode(s), float(xs_deg.iloc[0]),
                           float(ys_deg.iloc[0])))


@_reg("st_interiorrings")
@pandas_udf(ArrayType(BinaryType()))
def _interiorrings(s: pd.Series) -> pd.Series:
    return pd.Series(algos.interiors(_decode(s)), dtype=object)


@_reg("st_relate")
@pandas_udf(StringType())
def _relate(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(algos.relate(_decode(a), _decode(b)), dtype=object)


@_reg("st_relatematch")
@pandas_udf(BooleanType())
def _relatematch(a: pd.Series, b: pd.Series, pat: pd.Series) -> pd.Series:
    ga = _decode(a)
    return _mask_null_bool(ga, algos.relate_pattern(ga, _decode(b),
                                                    str(pat.iloc[0])))


@_reg("st_concavehull")
@pandas_udf(BinaryType())
def _concavehull(s: pd.Series, ratio: pd.Series,
                 allow_holes: pd.Series) -> pd.Series:
    return _enc(algos.concave_hull(_decode(s), float(ratio.iloc[0]),
                                   bool(allow_holes.iloc[0])))


@_reg("st_isvalidreason")
@pandas_udf(StringType())
def _isvalidreason(s: pd.Series) -> pd.Series:
    return pd.Series(algos.is_valid_reason(_decode(s)), dtype=object)


@_reg("st_segmentize")
@pandas_udf(BinaryType())
def _segmentize(s: pd.Series, max_len: pd.Series) -> pd.Series:
    return _enc(algos.segmentize(_decode(s), max_len.to_numpy(np.float64)))


@_reg("st_removerepeatedpoints")
@pandas_udf(BinaryType())
def _removerepeatedpoints(s: pd.Series, tol: pd.Series) -> pd.Series:
    return _enc(algos.remove_repeated_points(_decode(s),
                                             tol.to_numpy(np.float64)))


@_reg("st_setprecision")
@pandas_udf(BinaryType())
def _setprecision(s: pd.Series, grid: pd.Series) -> pd.Series:
    return _enc(algos.set_precision(_decode(s), grid.to_numpy(np.float64)))


@_reg("st_snap")
@pandas_udf(BinaryType())
def _snap(a: pd.Series, b: pd.Series, tol: pd.Series) -> pd.Series:
    return _enc(algos.snap(_decode(a), _decode(b), tol.to_numpy(np.float64)))


@_reg("st_shortestline")
@pandas_udf(BinaryType())
def _shortestline(a: pd.Series, b: pd.Series) -> pd.Series:
    return _enc(algos.shortest_line(_decode(a), _decode(b)))


@_reg("st_hausdorffdistance")
@pandas_udf(DoubleType())
def _hausdorff(a: pd.Series, b: pd.Series) -> pd.Series:
    ga = _decode(a)
    return _mask_float(ga, algos.hausdorff_distance(ga, _decode(b)))


@_reg("st_frechetdistance")
@pandas_udf(DoubleType())
def _frechet(a: pd.Series, b: pd.Series) -> pd.Series:
    ga = _decode(a)
    return _mask_float(ga, algos.frechet_distance(ga, _decode(b)))


@_reg("st_hausdorffdistance_densify")
@pandas_udf(DoubleType())
def _hausdorff_densify(a: pd.Series, b: pd.Series,
                       dens: pd.Series) -> pd.Series:
    ga = _decode(a)
    f = float(dens.iloc[0]) if len(dens) else None
    return _mask_float(ga, algos.hausdorff_distance(ga, _decode(b),
                                                    densify=f))


@_reg("st_frechetdistance_densify")
@pandas_udf(DoubleType())
def _frechet_densify(a: pd.Series, b: pd.Series,
                     dens: pd.Series) -> pd.Series:
    ga = _decode(a)
    f = float(dens.iloc[0]) if len(dens) else None
    return _mask_float(ga, algos.frechet_distance(ga, _decode(b),
                                                  densify=f))


@_reg("st_equalsexact")
@pandas_udf(BooleanType())
def _equalsexact(a: pd.Series, b: pd.Series, tol: pd.Series) -> pd.Series:
    ga = _decode(a)
    return _mask_null_bool(ga, algos.geom_equals_exact(
        ga, _decode(b), tol.to_numpy(np.float64)))


@_reg("st_buffer")
@pandas_udf(BinaryType())
def _buffer(s: pd.Series, d: pd.Series, quad_segs: pd.Series,
            cap_style: pd.Series, join_style: pd.Series,
            mitre_limit: pd.Series, single_sided: pd.Series) -> pd.Series:
    ga = _decode(s)
    return _enc(algos.buffer(ga, d.to_numpy(np.float64),
                             int(quad_segs.iloc[0]),
                             cap_style=str(cap_style.iloc[0]),
                             join_style=str(join_style.iloc[0]),
                             mitre_limit=float(mitre_limit.iloc[0]),
                             single_sided=bool(single_sided.iloc[0])))


@_reg("st_simplify")
@pandas_udf(BinaryType())
def _simplify(s: pd.Series, tol: pd.Series,
              preserve: pd.Series) -> pd.Series:
    return _enc(algos.simplify(_decode(s), tol.to_numpy(np.float64),
                               preserve_topology=bool(preserve.iloc[0])))


@_reg("st_clipbyrect")
@pandas_udf(BinaryType())
def _clipbyrect(s: pd.Series, xmin: pd.Series, ymin: pd.Series,
                xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    ga = _decode(s)
    return _enc(algos.clip_by_rect(ga, float(xmin.iloc[0]), float(ymin.iloc[0]),
                                   float(xmax.iloc[0]), float(ymax.iloc[0])))


@_reg("st_intersection")
@pandas_udf(BinaryType())
def _intersection(a: pd.Series, b: pd.Series, grid_size: pd.Series,
                  mixed: pd.Series) -> pd.Series:
    g = float(grid_size.iloc[0])
    return _enc(algos.intersection(_decode(a), _decode(b),
                             grid_size=g if g > 0 else None,
                             mixed=bool(mixed.iloc[0])))


@_reg("st_difference")
@pandas_udf(BinaryType())
def _difference(a: pd.Series, b: pd.Series, grid_size: pd.Series) -> pd.Series:
    g = float(grid_size.iloc[0])
    return _enc(algos.difference(_decode(a), _decode(b),
                             grid_size=g if g > 0 else None))


def _geom_class_np(names) -> np.ndarray:
    """Geometry-class labels (area/line/point) matching overlay's
    _geom_class SQL expression — vectorized for the fused kernels."""
    names = np.asarray(list(names), dtype=object)
    cls = np.full(len(names), "point", dtype=object)
    cls[np.isin(names, ("Polygon", "MultiPolygon"))] = "area"
    cls[np.isin(names, ("LineString", "MultiLineString"))] = "line"
    return cls


@_reg("st_intersection_overlay")
@pandas_udf(BinaryType())
def _intersection_overlay(a: pd.Series, b: pd.Series, mixed: pd.Series,
                          keep: pd.Series) -> pd.Series:
    """Fused overlay-intersection kernel: a ∩ b, returned as NULL when
    empty or (keep_geom_type) when the piece's geometry class differs
    from a's — ONE Arrow round trip where the unfused plan paid four
    (class probe, intersection, emptiness filter, class filter). The
    caller filters isNotNull natively (overlay.py)."""
    ga, gb = _decode_dedup(a), _decode_dedup(b)
    out = algos.intersection(ga, gb, mixed=bool(mixed.iloc[0]))
    dead = out.is_empty() | out.is_missing()
    if bool(keep.iloc[0]):
        dead |= (_geom_class_np(algos.geom_type_name(ga)) !=
                 _geom_class_np(algos.geom_type_name(out)))
    vals = np.array(wkb.encode(out), dtype=object)
    vals[dead] = None
    return pd.Series(vals, dtype=object)


@_reg("st_difference_residue")
@pandas_udf(BinaryType())
def _difference_residue(a: pd.Series, b: pd.Series) -> pd.Series:
    """Fused overlay-residue kernel: a − b with NULL b meaning "nothing
    to subtract" (a passes through) and empty results returned as NULL —
    the caller's native isNotNull filter replaces a per-row when() plus
    a second is_empty Arrow round trip (overlay.py residue branches)."""
    ga, gb = _decode_dedup(a), _decode_dedup(b)
    miss_b = gb.is_missing()
    d = algos.difference(ga, gb)
    enc_a = np.array(wkb.encode(ga), dtype=object)
    enc_d = np.array(wkb.encode(d), dtype=object)
    dead_a = ga.is_empty() | ga.is_missing()
    dead_d = d.is_empty() | d.is_missing()
    vals = np.where(miss_b, enc_a, enc_d)
    vals[np.where(miss_b, dead_a, dead_d)] = None
    return pd.Series(vals, dtype=object)


@_reg("st_union")
@pandas_udf(BinaryType())
def _union(a: pd.Series, b: pd.Series, grid_size: pd.Series) -> pd.Series:
    g = float(grid_size.iloc[0])
    return _enc(algos.union(_decode(a), _decode(b),
                             grid_size=g if g > 0 else None))


@_reg("st_symdifference")
@pandas_udf(BinaryType())
def _symdifference(a: pd.Series, b: pd.Series, grid_size: pd.Series) -> pd.Series:
    g = float(grid_size.iloc[0])
    return _enc(algos.symmetric_difference(_decode(a), _decode(b),
                             grid_size=g if g > 0 else None))


@_reg("st_translate")
@pandas_udf(BinaryType())
def _translate(s: pd.Series, xoff: pd.Series, yoff: pd.Series,
               zoff: pd.Series) -> pd.Series:
    ga = _decode(s)
    out = algos.translate(ga, xoff.to_numpy(np.float64)[ga.coord_geom_index()]
                          if len(ga.coords) else 0.0,
                          yoff.to_numpy(np.float64)[ga.coord_geom_index()]
                          if len(ga.coords) else 0.0,
                          zoff=float(zoff.iloc[0]))
    return _enc(out)


@_reg("st_scale")
@pandas_udf(BinaryType())
def _scale(s: pd.Series, xfact: pd.Series, yfact: pd.Series,
           zfact: pd.Series) -> pd.Series:
    ga = _decode(s)
    return _enc(algos.scale(ga, float(xfact.iloc[0]), float(yfact.iloc[0]),
                            zfact=float(zfact.iloc[0]),
                            origin=(0.0, 0.0, 0.0)))


@_reg("st_rotate")
@pandas_udf(BinaryType())
def _rotate(s: pd.Series, angle_deg: pd.Series) -> pd.Series:
    ga = _decode(s)
    return _enc(algos.rotate(ga, float(angle_deg.iloc[0]), origin=(0.0, 0.0)))


@_reg("st_affine")
@pandas_udf(BinaryType())
def _affine(s: pd.Series, a: pd.Series, b: pd.Series, d: pd.Series,
            e: pd.Series, xoff: pd.Series, yoff: pd.Series) -> pd.Series:
    ga = _decode(s)
    return _enc(algos.affine_transform(
        ga, float(a.iloc[0]), float(b.iloc[0]), float(d.iloc[0]),
        float(e.iloc[0]), float(xoff.iloc[0]), float(yoff.iloc[0])))


@_reg("st_affine3d")
@pandas_udf(BinaryType())
def _affine3d(s: pd.Series, m: pd.Series) -> pd.Series:
    """12-term 3-D affine; m is an array column [a b c d e f g h i
    xoff yoff zoff] (shapely matrix order, reference base.py:5970)."""
    ga = _decode(s)
    vals = [float(v) for v in m.iloc[0]]
    return _enc(algos.affine_transform12(ga, *vals))


@_reg("st_interpolate")
@pandas_udf(BinaryType())
def _interpolate(s: pd.Series, d: pd.Series,
                 normalized: pd.Series) -> pd.Series:
    return _enc(algos.interpolate(_decode(s), d.to_numpy(np.float64),
                                  normalized=bool(normalized.iloc[0])))


@_reg("st_lineinterpolatepoint")
@pandas_udf(BinaryType())
def _lineinterpolate_norm(s: pd.Series, frac: pd.Series) -> pd.Series:
    return _enc(algos.interpolate(_decode(s), frac.to_numpy(np.float64),
                                  normalized=True))


@_reg("st_project")
@pandas_udf(DoubleType())
def _project(a: pd.Series, b: pd.Series,
             normalized: pd.Series) -> pd.Series:
    return pd.Series(algos.project(_decode(a), _decode(b),
                                   normalized=bool(normalized.iloc[0])))


# ---------------------------------------------------------------------------
# parts / coordinates
# ---------------------------------------------------------------------------

@_reg("st_dump")
@pandas_udf(ArrayType(BinaryType()))
def _dump(s: pd.Series) -> pd.Series:
    """Multi-part → array of single-part WKB; pair with posexplode for the
    reference's explode (geopandas/geoseries.py:1017)."""
    ga = _decode(s)
    parts, parent, _ = algos.get_parts(ga)
    blobs = wkb.encode(parts)
    out = [[] for _ in range(len(ga))]
    for k, p in enumerate(parent):
        out[p].append(blobs[k])
    miss = ga.is_missing()
    return pd.Series([None if miss[i] else out[i] for i in range(len(ga))],
                     dtype=object)


_COORD_SCHEMA = ArrayType(StructType(
    [StructField("x", DoubleType()), StructField("y", DoubleType())]))


@_reg("st_dumpcoordinates")
@pandas_udf(_COORD_SCHEMA)
def _dumpcoords(s: pd.Series) -> pd.Series:
    """get_coordinates analogue (reference: base.py:6242) — explode after."""
    ga = _decode(s)
    coords, parent = algos.get_coordinates(ga)
    out = [[] for _ in range(len(ga))]
    for k in range(len(coords)):
        out[parent[k]].append({"x": coords[k, 0], "y": coords[k, 1]})
    miss = ga.is_missing()
    return pd.Series([None if miss[i] else out[i] for i in range(len(ga))],
                     dtype=object)


@_reg("st_geometryn")
@pandas_udf(BinaryType())
def _geometryn(s: pd.Series, n: pd.Series) -> pd.Series:
    ga = _decode(s)
    parts, parent, ordinal = algos.get_parts(ga)
    blobs = wkb.encode(parts)
    want = n.to_numpy(np.int64)
    out = [None] * len(ga)
    for k in range(len(parent)):
        if ordinal[k] == want[parent[k]]:
            out[parent[k]] = blobs[k]
    return pd.Series(out, dtype=object)


@_reg("st_startpoint")
@pandas_udf(BinaryType())
def _startpoint(s: pd.Series) -> pd.Series:
    return _enc(algos.interpolate(_decode(s), 0.0))


@_reg("st_endpoint")
@pandas_udf(BinaryType())
def _endpoint(s: pd.Series) -> pd.Series:
    return _enc(algos.interpolate(_decode(s), 1.0, normalized=True))


# ---------------------------------------------------------------------------
# grouped aggregates (dissolve/union_all building blocks, SURVEY §2.5)
# ---------------------------------------------------------------------------

@_reg("st_union_agg_grid")
@pandas_udf(BinaryType())
def _union_agg_grid(s: pd.Series, grid: pd.Series) -> bytes:
    """union_all with the grid_size robustness knob (base.py:2500,
    array.py:1002-1019): operands and result snapped to the grid."""
    ga = wkb.decode(s.tolist())
    g = float(grid.iloc[0]) if len(grid) else 0.0
    return wkb.encode(algos.union_all(ga, grid_size=g if g > 0 else None))[0]


@_reg("st_union_agg")
@pandas_udf(BinaryType())
def _union_agg(s: pd.Series) -> bytes:
    """Geometric union of a group (GROUPED_AGG). Point sets dedupe;
    disjoint polygons collect; overlapping polygons run the Martinez–Rueda
    merge tree (geom/clipping.py). For scale, prefer operators.dissolve
    which runs a two-phase partial union."""
    ga = wkb.decode(s.tolist())
    out = algos.union_all(ga)
    return wkb.encode(out)[0]


@_reg("st_union_agg_coverage")
@pandas_udf(BinaryType())
def _union_agg_coverage(s: pd.Series) -> bytes:
    """union_all(method="coverage") as a GROUPED_AGG: edge-cancellation
    fast path for edge-matched polygon groups (reference
    array.py:1002-1019; GEOS CoverageUnion). Detectable violations fall
    back to the full union; crossing overlaps that share no edge are
    undefined input, per the GEOS contract."""
    ga = wkb.decode(s.tolist())
    return wkb.encode(algos.union_all(ga, method="coverage"))[0]


@_reg("st_intersection_all_agg")
@pandas_udf(BinaryType())
def _intersection_all_agg(s: pd.Series) -> bytes:
    """Reduction by intersection (GROUPED_AGG; reference base.py:2554).
    Associative — safe under Spark's partial aggregation."""
    return wkb.encode(algos.intersection_all(wkb.decode(s.tolist())))[0]


_SHAREDPATHS_T = StructType([
    StructField("same_direction", BinaryType()),
    StructField("opposite_direction", BinaryType()),
])


@_reg("st_sharedpaths")
@pandas_udf(_SHAREDPATHS_T)
def _sharedpaths(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    """Collinear shared portions of two lines (reference base.py:5152).
    GEOS wraps the two direction classes in a GEOMETRYCOLLECTION; we
    return a struct<same_direction, opposite_direction> of WKB instead
    (no collection type in the kernel — documented deviation)."""
    same, opp = algos.shared_paths(_decode(a), _decode(b))
    return pd.DataFrame({"same_direction": _enc(same),
                         "opposite_direction": _enc(opp)})


@_reg("st_union_array")
@pandas_udf(BinaryType())
def _union_array(s: pd.Series) -> pd.Series:
    """Union an array<binary> of WKB per row. The streaming-safe union
    path: Structured Streaming cannot run GROUPED_AGG pandas UDFs, so
    windowed aggregation collects natively (collect_list, partial-agg'd
    and state-store-backed) and reduces here with one scalar UDF."""
    out = []
    for lst in s:
        if lst is None or len(lst) == 0:
            out.append(None)
        else:
            out.append(wkb.encode(algos.union_all(wkb.decode(list(lst))))[0])
    return pd.Series(out, dtype=object)


@_reg("st_transform")
@pandas_udf(BinaryType())
def _transform(s: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
    """Reproject (reference to_crs, geopandas/array.py:1098-1187). One
    vectorized pass over the batch's flat coordinate buffer."""
    return _enc(crsmod.transform(_decode(s), src.iloc[0], dst.iloc[0]))


@_reg("st_makeline_array")
@pandas_udf(BinaryType())
def _makeline_array(s: pd.Series) -> pd.Series:
    """array<binary> of WKB points (pre-ordered by the caller — e.g.
    sort_array over struct(ts, key, geom)) → one LINESTRING per row.
    The trajectory-assembly pattern: ordering and grouping stay native
    (collect_list is partial-aggregated and state-store-safe in
    streaming); only the final vertex stitch crosses into Python."""
    from geopandas_spark.geom.array import GT_LINESTRING
    out = []
    for lst in s:
        if lst is None or len(lst) == 0:
            out.append(None)
            continue
        ga = wkb.decode([bytes(v) for v in lst])
        c = ga.coords
        b = algos.GeometryBuilder()
        if len(c) == 0:
            b.append_empty(GT_LINESTRING)
        elif len(c) == 1:
            b.append(GT_LINESTRING, [[np.repeat(c, 2, axis=0)]])
        else:
            b.append(GT_LINESTRING, [[c]])
        out.append(wkb.encode(b.finish())[0])
    return pd.Series(out, dtype=object)


@_reg("st_subdivide")
@pandas_udf(ArrayType(BinaryType()))
def _subdivide_udf(s: pd.Series, mv: pd.Series) -> pd.Series:
    """PostGIS-style ST_Subdivide (engine-added): pieces with bounded
    vertex counts, as array<binary> for posexplode — the scale pattern
    for monster polygons (see algos.subdivide)."""
    ga = _decode(s)
    parts, parent = algos.subdivide(ga, int(mv.iloc[0]))
    enc = wkb.encode(parts)
    out = [None if b is None else [] for b in s]
    for k, pi in enumerate(parent):
        if enc[k] is not None and out[pi] is not None:
            out[pi].append(enc[k])
    return pd.Series(out, dtype=object)


@_reg("st_samplepoints")
@pandas_udf(BinaryType())
def _samplepoints(s: pd.Series, size: pd.Series, seed: pd.Series) -> pd.Series:
    return _enc(algos.sample_points(_decode(s), size.to_numpy(np.int64),
                                    int(seed.iloc[0])))


@_reg("st_samplepoints_cluster")
@pandas_udf(BinaryType())
def _samplepoints_cluster(s: pd.Series, size: pd.Series, seed: pd.Series,
                          n_parents: pd.Series,
                          radius: pd.Series) -> pd.Series:
    npar = int(n_parents.iloc[0])
    rad = float(radius.iloc[0])
    return _enc(algos.sample_points(
        _decode(s), size.to_numpy(np.int64), int(seed.iloc[0]),
        method="cluster_poisson", n_parents=npar if npar > 0 else None,
        cluster_radius=rad if rad > 0 else None))


@_reg("st_polygonize_agg")
@pandas_udf(BinaryType())
def _polygonize_agg(s: pd.Series) -> bytes:
    """Faces enclosed by the group's linework, as one MULTIPOLYGON
    (GROUPED_AGG; reference base.py:6545). Whole-group semantics — lines
    must be grouped so related linework lands in one group (document scale
    limit, SURVEY §2.8); explode with st_dump."""
    ga = wkb.decode(s.tolist())
    faces = algos.polygonize(ga)
    if len(faces) == 0:
        return None
    return wkb.encode(algos.collect(faces))[0]


@_reg("st_polygonize_full_agg")
@pandas_udf(ArrayType(BinaryType()))
def _polygonize_full_agg(s: pd.Series) -> list:
    """polygonize(full=True) over the group's linework (reference
    base.py:6545): 4-element array of WKB collections — [polygons,
    cut edges (connected both ends, bounding nothing), dangles
    (free-ended after iterative pruning), invalid rings]. Elements are
    NULL when that class is empty. Input is always noded first
    (reference node=True default), so `invalid` is rarely non-empty.
    (Array, not struct: Spark grouped-agg pandas UDFs cannot return
    StructType.) Access with element_at(col, 1..4)."""
    ga = wkb.decode(s.tolist())
    polys, cuts, dangles, invalid = algos.polygonize_full(ga)

    def enc(g):
        return wkb.encode(algos.collect(g))[0] if len(g) else None
    return [enc(polys), enc(cuts), enc(dangles), enc(invalid)]


@_reg("st_buildarea_agg")
@pandas_udf(BinaryType())
def _buildarea_agg(s: pd.Series) -> bytes:
    """Areal geometry from the group's linework (GROUPED_AGG; reference
    base.py:6484): enclosed faces nested by parity into shells + holes."""
    ga = wkb.decode(s.tolist())
    return wkb.encode(algos.build_area(ga))[0]


@_reg("st_buildarea")
@pandas_udf(BinaryType())
def _buildarea(s: pd.Series) -> pd.Series:
    """Per-row build_area: each row's own linework assembled independently
    (scalar twin of st_buildarea_agg; reference base.py:6484)."""
    from geopandas_spark.geom.array import GeometryBuilder
    ga = _decode(s)
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == 0:
            b.append_null()
        else:
            b.append_from(algos.build_area(ga.take([i])), 0)
    return _enc(b.finish())


@_reg("st_collect_agg")
@pandas_udf(BinaryType())
def _collect_agg(s: pd.Series) -> bytes:
    ga = wkb.decode(s.tolist())
    return wkb.encode(algos.collect(ga))[0]


# ---------------------------------------------------------------------------
# Python column API (what `from geopandas_spark import st` exposes)
# ---------------------------------------------------------------------------

def _f64_bits(c: Column) -> Column:
    """IEEE-754 bits of a double as bigint, in pure native expressions —
    whole-stage-codegen'd, no Python eval node. floor(log2()) can be off
    by one near powers of two (log2 = ln/ln2 in the JVM); one exact pow()
    comparison corrects it, after which the mantissa arithmetic is exact:
    a/2^e is an exact power-of-two division, (m-1) is Sterbenz-exact for
    m in [1,2), and (m-1)*2^52 is an exact integer <= 2^52 (a carry into
    the exponent field via plain addition stays bit-correct). Deviation:
    -0.0 encodes as +0.0 (coordinate semantics treat them equal)."""
    a = F.abs(c)
    e0 = F.floor(F.log2(a))
    p0 = F.pow(F.lit(2.0), e0.cast("double"))
    e = (F.when(a >= p0 * 2.0, e0 + 1)
          .when(a < p0, e0 - 1).otherwise(e0))
    p = F.pow(F.lit(2.0), e.cast("double"))
    mant = F.round((a / p - F.lit(1.0)) *
                   F.lit(float(2 ** 52))).cast("bigint")
    norm = (e.cast("bigint") + F.lit(1023)) * F.lit(2 ** 52) + mant
    # denormals: bits = a * 2^1074 exactly, staged as two power-of-two
    # factors (2^1074 itself overflows a double; each stage is exact)
    sub = F.round((a * F.lit(2.0 ** 537)) *
                  F.lit(2.0 ** 537)).cast("bigint")
    mag = (F.when(F.isnan(c), F.lit(0x7FF8000000000000))
            .when(a == F.lit(float("inf")), F.lit(0x7FF0000000000000))
            .when(a < F.lit(2.0 ** -1022), sub)   # includes +-0 -> 0
            .otherwise(norm))
    return F.when(c < 0.0, mag + F.lit(-(2 ** 63))).otherwise(mag)


def _f64_be(c: Column) -> Column:
    """8 big-endian IEEE-754 bytes of a double (hex of the bits bigint is
    already big-endian nibble order; negative bigints print all 16)."""
    return F.unhex(F.lpad(F.hex(_f64_bits(c.cast("double"))), 16, "0"))


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
    """WKB point constructor (Arrow-batched UDF — the measured default).

    An all-expression JVM variant exists (``point_native``), but the
    IEEE-754 bit extraction it needs (floor/log2/pow per coordinate; Spark
    has no double->bits builtin, ANSI forbids bigint->binary cast, and
    reflect() is Catalyst-nondeterministic) measured 3x SLOWER than this
    Arrow-batched numpy encode at the 100x bench tier (1.25 s vs 0.40 s
    per pass over 1.5M rows), and grid-join plans evaluate the constructor
    several times (stats probe, sample, cell explode, refine)."""
    xc, yc = _col(x), _col(y)
    out = _REGISTRY["st_point"](xc, yc)
    try:
        out.__dict__[_POINT_ARGS_ATTR] = (xc, yc)
    except Exception:
        pass
    return out


def point_native(x, y) -> Column:
    """Pure-expression WKB point — big-endian ISO WKB (byte-order flag 0),
    no Python eval node anywhere in the plan. Use when the plan must stay
    JVM-only (SQL-only deployments, stateless streaming maps where a
    Python worker round trip is unwanted); for throughput prefer
    ``point``, which is ~3x faster per evaluation (see its docstring).
    The decoder's vectorized bucket parse handles the big-endian batch
    with one frombuffer, same as little-endian. NULL in either coordinate
    propagates to a NULL geometry (concat null semantics)."""
    return F.concat(F.lit(bytes.fromhex("0000000001")),
                    _f64_be(_col(x)), _f64_be(_col(y)))


def makebox(xmin, ymin, xmax, ymax) -> Column:
    """WKB axis-aligned box constructor (Arrow-batched UDF — the measured
    default; see ``point`` for why the all-expression variant lost)."""
    return _REGISTRY["st_makebox"](_col(xmin), _col(ymin),
                                   _col(xmax), _col(ymax))


def makebox_native(xmin, ymin, xmax, ymax) -> Column:
    """Pure-expression WKB box: big-endian POLYGON, one CCW ring of 5
    coords starting (xmin,ymin) — identical vertex order to
    geom.array.boxes_from_bounds (shapely.box ccw=True). Same tradeoff
    as ``point_native``."""
    x0, y0 = _f64_be(_col(xmin)), _f64_be(_col(ymin))
    x1, y1 = _f64_be(_col(xmax)), _f64_be(_col(ymax))
    return F.concat(
        F.lit(bytes.fromhex("00" + "00000003" + "00000001" + "00000005")),
        x0, y0, x1, y0, x1, y1, x0, y1, x0, y0)


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
    yield NULL on both paths (the kernel cannot return NaN through the
    pandas→Arrow boundary — docs/geopandas-mapping.md — so the rewrite
    wraps the sqrt in an isnan→NULL guard to keep st.distance
    deterministic regardless of which path a plan takes)."""
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
    from geopandas_spark.geom.array import GeometryArray as _GA

    @pandas_udf(BinaryType())
    def _xform(s: pd.Series) -> pd.Series:
        ga = _decode(s)
        nc = np.asarray(fn(ga.coords.copy()), dtype=np.float64)
        out = _GA(ga.types, ga.geom_offsets, ga.part_offsets,
                  ga.ring_offsets, nc.reshape(-1, 2))
        return _enc(out)

    return _xform(_col(c))


def apply(c, fn) -> Column:
    """Elementwise user function over decoded geometry rows (reference:
    GeoSeries.apply, geoseries.py:806): ``fn(GeometryArray, i)`` returns
    (type, parts) appended via the builder, or None for null. Slow path —
    prefer the built-in st_* functions."""
    from geopandas_spark.geom.array import GeometryBuilder as _GB

    @pandas_udf(BinaryType())
    def _apply(s: pd.Series) -> pd.Series:
        ga = _decode(s)
        b = _GB()
        for i in range(len(ga)):
            res = fn(ga, i)
            if res is None:
                b.append_null()
            else:
                b.append(res[0], res[1])
        return _enc(b.finish())

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
