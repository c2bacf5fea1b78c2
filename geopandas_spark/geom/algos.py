"""Vectorized computational-geometry kernels over the columnar layout.

Each function mirrors one operator of the reference's GeoSeries surface
(SURVEY.md §2.2-2.3, reference: geopandas/base.py + geopandas/array.py) but
is implemented directly in numpy instead of delegating to GEOS. Measures and
coordinate transforms are single vectorized passes over the flat coord
buffer; pairwise predicates decompose into three vectorized primitives
(point-in-polygon, segment-segment intersection, point-segment distance).

All operations are planar/Cartesian, matching the reference
(geopandas/tools/sjoin.py:119-121).
"""

from __future__ import annotations

import numpy as np

from geopandas_spark.geom.array import (
    GT_MISSING, GT_POINT, GT_LINESTRING, GT_POLYGON, GT_MULTIPOINT,
    GT_MULTILINESTRING, GT_MULTIPOLYGON, GT_GEOMETRYCOLLECTION,
    GEOM_TYPE_NAMES, MULTI_OF, SINGLE_OF,
    POINT_TYPES, LINE_TYPES, POLYGON_TYPES, MULTI_TYPES,
    GeometryArray, GeometryBuilder, points_from_xy, boxes_from_bounds,
)
from geopandas_spark.geom import clipping as _mr

_POLY_MASK = (GT_POLYGON, GT_MULTIPOLYGON)
_LINE_MASK = (GT_LINESTRING, GT_MULTILINESTRING)
_EPS = 1e-12
# Deliberate second tolerance (r10, documented per r11 ADVICE):
# _segs_proper_cross uses an opposite-side sign-test margin of
# 1e-9·|r|·|s| — RELATIVE to the two edge lengths — rather than the
# absolute _EPS. The parametric t/u form is ill-conditioned when
# near-collinear edges meet at a shared vertex (denom≈0 fabricates
# 'proper' hits), so the sign test trades that false-positive class
# for a documented false-negative one: a genuine crossing whose
# penetration depth is below ~1e-9 of the edge lengths is treated as
# a touch, not a crossing (is_valid may accept a hole that GEOS
# rejects at that depth). Pinned by
# tests/test_geom_kernel.py::test_proper_cross_tolerance_boundary.
_CROSS_RTOL = 1e-9


# ---------------------------------------------------------------------------
# small helpers
# ---------------------------------------------------------------------------

def _segment_sum(values: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Sum values over [offsets[i], offsets[i+1]) ranges; empty range → 0."""
    s = np.concatenate([[0.0], np.cumsum(values)])
    return s[offsets[1:]] - s[offsets[:-1]]


def _seg_ranges_per_geom(ga: GeometryArray):
    """Segment (consecutive-coord-pair) ranges and validity mask.

    Segment i joins coords i and i+1; valid iff both ends in the same ring.
    """
    ring_idx = np.repeat(np.arange(ga.n_rings), ga.coords_per_ring())
    valid = ring_idx[:-1] == ring_idx[1:] if len(ring_idx) > 1 else np.zeros(0, bool)
    return valid


def _signed_ring_areas(ga: GeometryArray) -> np.ndarray:
    x = ga.coords[:, 0]
    y = ga.coords[:, 1]
    if len(x) < 2:
        return np.zeros(ga.n_rings)
    ro = ga.ring_offsets
    starts = ro[:-1]
    ends = np.maximum(ro[1:] - 1, starts)
    mag = max(abs(float(x.max())), abs(float(x.min())),
              abs(float(y.max())), abs(float(y.min())))
    if mag >= 131072.0:
        # local-origin shoelace: x*y products at web-mercator magnitudes
        # (~1e14) cancel against ring areas ~1e2, losing ~1e-2 per term
        # (measured: a 2k-box union's area off by 0.31 of 2e6 from this
        # alone). Subtract each ring's first vertex first — area is
        # translation-invariant — and sum per ring with reduceat (no
        # cross-batch cumsum cancellation). Gated so small-coordinate
        # batches keep the historical bit-exact values the SQL oracle
        # twins encode.
        cpr = np.diff(ro)
        x0r = np.repeat(x[starts], cpr)
        y0r = np.repeat(y[starts], cpr)
        dx = x - x0r
        dy = y - y0r
        cross = dx[:-1] * dy[1:] - dx[1:] * dy[:-1]
        # zero the ring-boundary terms (last coord of ring r paired with
        # first of ring r+1), then reduceat over contiguous ring spans
        bidx = ro[1:-1] - 1
        bidx = bidx[(bidx >= 0) & (bidx < len(cross))]
        cross[bidx] = 0.0
        cross = np.concatenate([cross, [0.0]])
        valid = starts < len(cross)
        out = np.zeros(ga.n_rings)
        if valid.any():
            red = np.add.reduceat(cross, np.minimum(starts[valid],
                                                    len(cross) - 1))
            out[valid] = red
            out[ends <= starts] = 0.0
        return 0.5 * out
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    s = np.concatenate([[0.0], np.cumsum(cross)])
    return 0.5 * (s[ends] - s[starts])


def _first_ring_mask(ga: GeometryArray) -> np.ndarray:
    m = np.zeros(ga.n_rings, dtype=bool)
    po = ga.part_offsets[:-1]
    m[po[po < ga.n_rings]] = True
    return m


# ---------------------------------------------------------------------------
# measures (reference: geopandas/base.py area:135 length:244 bounds:5254 ...)
# ---------------------------------------------------------------------------

def area(ga: GeometryArray) -> np.ndarray:
    """Shoelace area; holes subtract (ring 0 of each part is the shell)."""
    if (ga.types == GT_GEOMETRYCOLLECTION).any():
        ga = resolve_collections(ga, "polygon")
    ring_a = np.abs(_signed_ring_areas(ga))
    contrib = np.where(_first_ring_mask(ga), ring_a, -ring_a)
    ring_type = np.repeat(ga.types, ga.rings_per_geom())
    contrib = np.where(np.isin(ring_type, _POLY_MASK), contrib, 0.0)
    out = _segment_sum(contrib, ga.part_offsets[ga.geom_offsets])
    out[ga.is_missing()] = np.nan
    return out


def length(ga: GeometryArray) -> np.ndarray:
    """Line length / polygon perimeter (GEOS length semantics)."""
    c = ga.coords
    if len(c) < 2:
        seg = np.zeros(0)
    else:
        d = np.diff(c, axis=0)
        # sqrt(dx²+dy²) (not np.hypot): bit-identical to the SQL formula
        seg = np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1])
        seg = np.where(_seg_ranges_per_geom(ga), seg, 0.0)
    # pad so offsets (in coord space) index one past the last segment
    seg = np.concatenate([seg, np.zeros(max(1, ga.n_coords - len(seg)))])
    off = ga.coord_offsets_per_geom()
    # np.add.reduceat (not cumsum-difference): per-geometry sums have no
    # cross-batch cancellation, so single-segment lengths are bit-exact
    # against the SQL sqrt formula
    n = len(ga)
    out = np.zeros(n)
    ne = off[1:] > off[:-1]
    if ne.any():
        out[ne] = np.add.reduceat(seg, off[:-1][ne].astype(np.intp))[
            :int(ne.sum())]
    gt = ga.types
    # GC rows sum their linear parts (point parts have no segments)
    out = np.where(np.isin(gt, tuple(_POLY_MASK) + tuple(_LINE_MASK) +
                           (GT_GEOMETRYCOLLECTION,)), out, 0.0)
    out[ga.is_missing()] = np.nan
    return out


def bounds(ga: GeometryArray) -> np.ndarray:
    """(n, 4) [minx, miny, maxx, maxy]; NaN rows for null/empty."""
    n = len(ga)
    out = np.full((n, 4), np.nan)
    off = ga.coord_offsets_per_geom()
    cnt = np.diff(off)
    ne = cnt > 0
    if not ne.any():
        return out
    starts = off[:-1][ne].astype(np.intp)
    x = ga.coords[:, 0]
    y = ga.coords[:, 1]
    out[ne, 0] = np.minimum.reduceat(x, starts)
    out[ne, 1] = np.minimum.reduceat(y, starts)
    out[ne, 2] = np.maximum.reduceat(x, starts)
    out[ne, 3] = np.maximum.reduceat(y, starts)
    return out


def total_bounds(ga: GeometryArray) -> np.ndarray:
    if ga.n_coords == 0:
        return np.full(4, np.nan)
    c = ga.coords
    return np.array([c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max()])


def count_coordinates(ga: GeometryArray) -> np.ndarray:
    return ga.coords_per_geom().astype(np.int64)


def count_geometries(ga: GeometryArray) -> np.ndarray:
    """Parts for multi-types, 1 for single non-empty, 0 for empty/null;
    top-level children for collections (GEOS semantics)."""
    parts = ga.parts_per_geom().astype(np.int64)
    single = ~np.isin(ga.types, list(MULTI_TYPES))
    out = np.where(single, np.minimum(parts, 1), parts)
    out[ga.is_missing()] = 0
    if (ga.types == GT_GEOMETRYCOLLECTION).any():
        for i in np.nonzero(ga.types == GT_GEOMETRYCOLLECTION)[0]:
            out[i] = len(ga.children_of(int(i)))
    return out


def resolve_collections(ga: GeometryArray, keep: str) -> GeometryArray:
    """Replace GEOMETRYCOLLECTION rows by a MULTI* of their parts of one
    dimension (``keep`` in {"polygon", "line", "point"}) so planar measure
    kernels apply unchanged. No-op (same object) without GC rows."""
    if not (ga.types == GT_GEOMETRYCOLLECTION).any():
        return ga
    want = {"polygon": POLYGON_TYPES, "line": LINE_TYPES,
            "point": POINT_TYPES}[keep]
    multi_t = {"polygon": GT_MULTIPOLYGON, "line": GT_MULTILINESTRING,
               "point": GT_MULTIPOINT}[keep]
    b = GeometryBuilder()
    for i in range(len(ga)):
        if int(ga.types[i]) != GT_GEOMETRYCOLLECTION:
            b.append_from(ga, i)
            continue
        parts = [rings for ct, cparts in ga.children_of(i)
                 if ct in want for rings in cparts]
        if parts:
            b.append(multi_t, parts)
        else:
            b.append_empty(multi_t)
    return b.finish()


def collection_extract(ga: GeometryArray, geom_type: str) -> GeometryArray:
    """Parts of one dimension from any geometry (reference shapely
    collection_extract / overlay keep_geom_type explode,
    geopandas/tools/overlay.py:395-454): GC rows pick matching children,
    matching single/multi rows pass through, others become empty."""
    kind = geom_type.lower()
    if kind in ("polygon", "multipolygon"):
        kind = "polygon"
    elif kind in ("linestring", "multilinestring", "line"):
        kind = "line"
    elif kind in ("point", "multipoint"):
        kind = "point"
    else:
        raise ValueError(f"unsupported collection_extract type {geom_type!r}")
    want = {"polygon": POLYGON_TYPES, "line": LINE_TYPES,
            "point": POINT_TYPES}[kind]
    multi_t = {"polygon": GT_MULTIPOLYGON, "line": GT_MULTILINESTRING,
               "point": GT_MULTIPOINT}[kind]
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
        elif t in want:
            b.append_from(ga, i)
        elif t == GT_GEOMETRYCOLLECTION:
            parts = [rings for ct, cparts in ga.children_of(i)
                     if ct in want for rings in cparts]
            if parts:
                b.append(multi_t, parts)
            else:
                b.append_empty(multi_t)
        else:
            b.append_empty(multi_t)
    return b.finish()


def count_interior_rings(ga: GeometryArray) -> np.ndarray:
    rp = np.diff(ga.part_offsets)
    interior = np.maximum(rp - 1, 0)
    per_geom = _segment_sum(interior.astype(float), ga.geom_offsets).astype(np.int64)
    per_geom[~np.isin(ga.types, _POLY_MASK)] = 0
    return per_geom


def geom_type_name(ga: GeometryArray) -> list:
    return [GEOM_TYPE_NAMES.get(int(t)) for t in ga.types]


def get_x(ga: GeometryArray) -> np.ndarray:
    if not np.isin(ga.types[~ga.is_missing()], [GT_POINT]).all():
        raise ValueError("x/y accessors only work on Point geometries")
    out = np.full(len(ga), np.nan)
    ne = ~ga.is_missing() & ~ga.is_empty()
    out[ne] = ga.coords[ga.coord_offsets_per_geom()[:-1][ne], 0]
    return out


def get_z(ga: GeometryArray) -> np.ndarray:
    """Z of point rows (reference geoseries.py:251 GeoSeries.z); NaN for
    2-D rows, mirroring shapely."""
    if not np.isin(ga.types[~ga.is_missing()], [GT_POINT]).all():
        raise ValueError("x/y/z/m accessors only work on Point geometries")
    out = np.full(len(ga), np.nan)
    if ga.z is None:
        return out
    ne = ~ga.is_missing() & ~ga.is_empty()
    out[ne] = ga.z[ga.coord_offsets_per_geom()[:-1][ne]]
    return out


def get_m(ga: GeometryArray) -> np.ndarray:
    """M of point rows (reference geoseries.py:340 GeoSeries.m)."""
    if not np.isin(ga.types[~ga.is_missing()], [GT_POINT]).all():
        raise ValueError("x/y/z/m accessors only work on Point geometries")
    out = np.full(len(ga), np.nan)
    if ga.m is None:
        return out
    ne = ~ga.is_missing() & ~ga.is_empty()
    out[ne] = ga.m[ga.coord_offsets_per_geom()[:-1][ne]]
    return out


def force_2d(ga: GeometryArray) -> GeometryArray:
    """Drop Z/M (reference base.py force_2d:2290)."""
    if ga.z is None and ga.m is None:
        return ga
    return _with_coords(ga, ga.coords, z=None, m=None)


def force_3d(ga: GeometryArray, z=0.0) -> GeometryArray:
    """Ensure every coord has a Z; existing Z kept, 2-D rows filled with
    ``z`` (reference base.py force_3d:2332)."""
    zfill = np.broadcast_to(np.asarray(z, dtype=np.float64), (len(ga),))
    co = ga.coord_offsets_per_geom()
    per_row = np.diff(co)
    newz = np.repeat(zfill, per_row)
    if ga.z is not None:
        keep = ~np.isnan(ga.z)
        newz = newz.copy()
        newz[keep] = ga.z[keep]
    return _with_coords(ga, ga.coords, z=newz)


def get_y(ga: GeometryArray) -> np.ndarray:
    if not np.isin(ga.types[~ga.is_missing()], [GT_POINT]).all():
        raise ValueError("x/y accessors only work on Point geometries")
    out = np.full(len(ga), np.nan)
    ne = ~ga.is_missing() & ~ga.is_empty()
    out[ne] = ga.coords[ga.coord_offsets_per_geom()[:-1][ne], 1]
    return out


def is_closed(ga: GeometryArray) -> np.ndarray:
    """Per-geometry: all line parts closed (first==last). False for non-lines."""
    out = np.zeros(len(ga), dtype=bool)
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t not in (GT_LINESTRING, GT_MULTILINESTRING):
            continue
        parts = ga.geom_slices(i)
        if not parts:
            continue
        out[i] = all(len(p[0]) >= 2 and np.array_equal(p[0][0], p[0][-1])
                     for p in parts)
    return out


def is_ring(ga: GeometryArray) -> np.ndarray:
    return is_closed(ga) & (ga.types == GT_LINESTRING) & is_simple(ga)


def is_ccw(ga: GeometryArray) -> np.ndarray:
    """Counter-clockwise test for LineString/LinearRing rows."""
    ring_a = _signed_ring_areas(ga)
    out = np.zeros(len(ga), dtype=bool)
    gi = ga.ring_geom_index()
    line = np.isin(ga.types, [GT_LINESTRING])
    for r in range(ga.n_rings):
        i = gi[r]
        if line[i]:
            out[i] = ring_a[r] > 0
    return out & is_closed(ga)


def _dedup_ring(r: np.ndarray) -> np.ndarray:
    """Collapse CONSECUTIVE duplicate vertices of a closed ring
    (including the closing wrap) and return it re-closed. GEOS treats
    repeated consecutive points as valid — only NON-consecutive
    revisits are ring self-touches — so validity checks must run on
    the collapsed linework (r10 ADVICE: the r9 revisited-vertex test
    flagged POLYGON((0 0,1 0,1 0,1 1,0 1,0 0)) invalid)."""
    body = r[:-1]
    if len(body) == 0:
        return r
    keep = np.ones(len(body), dtype=bool)
    keep[1:] = (body[1:] != body[:-1]).any(axis=1)
    body = body[keep]
    # wrap: the open body's first and last may now coincide
    while len(body) > 1 and np.array_equal(body[0], body[-1]):
        body = body[:-1]
    return np.vstack([body, body[:1]])


def _hole_pairs_cross(p: list) -> bool:
    """True iff any two holes of polygon part `p` properly cross or share
    a positive-length collinear overlap — GEOS 'Self-intersection'
    (r11 ADVICE: two properly crossing holes previously passed is_valid
    because the ring loop tested hole-vs-shell only and the nesting
    probe used first-edge midpoints). Doubles as the enforcement of
    _interior_disconnected's precondition over hole pairs — the
    hole-vs-shell twin lives inline in is_valid's ring loop.

    r12 (ADVICE + VERDICT #4): ONE batched pass per polygon — all hole
    edges stacked with a hole-id array, pair eligibility gated by a
    hole-bbox-overlap prefilter — replacing the O(H²) Python pair loop
    whose collinear test iterated per EDGE (a 50-hole parcel paid
    ~1,225 pairs × edge loops per validity check)."""
    holes = p[1:]
    H = len(holes)
    if H < 2:
        return False
    # hole-bbox-overlap prefilter: a proper crossing / positive-length
    # collinear overlap needs the hole bboxes to intersect (closed
    # comparison keeps bbox-touching pairs, which can still overlap
    # collinearly along the shared edge line)
    mins = np.array([h.min(axis=0) for h in holes])
    maxs = np.array([h.max(axis=0) for h in holes])
    allowed = ((mins[:, None, :] <= maxs[None, :, :]) &
               (mins[None, :, :] <= maxs[:, None, :])).all(-1)
    np.fill_diagonal(allowed, False)
    if not allowed.any():
        return False
    active = np.nonzero(allowed.any(axis=1))[0]
    segs = np.concatenate(
        [np.stack([holes[h][:-1], holes[h][1:]], axis=1) for h in active])
    hid = np.concatenate(
        [np.full(len(holes[h]) - 1, h, dtype=np.int64) for h in active])
    return _masked_segsets_conflict(segs, hid, allowed)


def _masked_segsets_conflict(segs, hid, allowed, budget=1 << 21) -> bool:
    """ANY proper crossing or positive-length collinear overlap between
    segments of DIFFERENT groups (pair gated by allowed[gi, gj]) —
    row-chunked so the (chunk, E) temporaries stay bounded. Same sign
    tests as _segs_proper_cross (scale-relative _CROSS_RTOL margin) and
    the exact-comparison parallel test of _collinear_overlap_any."""
    E = len(segs)
    if E == 0:
        return False
    a0 = segs[:, 0]
    a1 = segs[:, 1]
    r = a1 - a0
    rr = (r * r).sum(-1)
    rlen = np.sqrt(rr)
    s = r                       # column view: every segment is both roles
    rows_per = max(1, budget // E)
    for i0 in range(0, E, rows_per):
        i1 = min(E, i0 + rows_per)
        mask = allowed[hid[i0:i1][:, None], hid[None, :]]
        if not mask.any():
            continue
        p = a0[i0:i1, None]                      # (C,1,2)
        ri = r[i0:i1, None]                      # (C,1,2)
        q0p = a0[None, :] - p
        q1p = a1[None, :] - p
        d1 = ri[..., 0] * q0p[..., 1] - ri[..., 1] * q0p[..., 0]
        d2 = ri[..., 0] * q1p[..., 1] - ri[..., 1] * q1p[..., 0]
        p0q = -q0p
        p1q = a1[i0:i1, None] - a0[None, :]
        d3 = s[None, :, 0] * p0q[..., 1] - s[None, :, 1] * p0q[..., 0]
        d4 = s[None, :, 0] * p1q[..., 1] - s[None, :, 1] * p1q[..., 0]
        tol = _CROSS_RTOL * rlen[i0:i1, None] * rlen[None, :]
        opp_q = ((d1 > tol) & (d2 < -tol)) | ((d1 < -tol) & (d2 > tol))
        opp_p = ((d3 > tol) & (d4 < -tol)) | ((d3 < -tol) & (d4 > tol))
        if bool((opp_q & opp_p & mask).any()):
            return True
        # positive-length collinear overlap (exact == 0 parallel test,
        # mirroring _collinear_overlap_any; zero-length rows excluded)
        denom = ri[..., 0] * s[None, :, 1] - ri[..., 1] * s[None, :, 0]
        u_num = q0p[..., 0] * ri[..., 1] - q0p[..., 1] * ri[..., 0]
        par = (denom == 0) & (u_num == 0) & mask & \
            (rr[i0:i1, None] > 0)
        if par.any():
            rri = np.where(rr[i0:i1] == 0, 1.0, rr[i0:i1])[:, None]
            t0 = (q0p * ri).sum(-1) / rri
            t1 = (q1p * ri).sum(-1) / rri
            lo = np.minimum(t0, t1)
            hi = np.maximum(t0, t1)
            ov = np.minimum(hi, 1.0) - np.maximum(lo, 0.0)
            if bool(((ov > _EPS) & par).any()):
                return True
    return False


def _interior_disconnected(p: list) -> bool:
    """True iff the polygon part's rings (already individually simple,
    pairwise touching only at isolated points — hole-vs-shell crossings
    and collinear overlaps are rejected by is_valid's ring loop,
    hole-vs-hole by _hole_pairs_cross, BEFORE this runs) disconnect the
    interior: cycle test on the bipartite ring↔touch-point graph. Touch
    points can only be a VERTEX of at least one ring (edge-interior×
    edge-interior contact is either a proper crossing or a collinear
    overlap, both rejected earlier)."""
    n = len(p)
    edge_sets = [np.column_stack([r[:-1], r[1:]]).reshape(-1, 2, 2)
                 for r in p]
    verts = np.unique(np.vstack([r[:-1] for r in p]), axis=0)
    # which rings touch each candidate point: ONE vectorized
    # point-to-segment-set distance call per RING (r11 ADVICE — the
    # former per-(vertex, ring) Python loop paid ~V·R iterations on
    # every hole-bearing polygon)
    on_mat = np.column_stack(
        [_point_seg_dist(verts, edge_sets[k]) <= _EPS for k in range(n)])
    multi = np.nonzero(on_mat.sum(axis=1) >= 2)[0]
    incident = [np.nonzero(on_mat[v])[0] for v in multi]
    parent = list(range(n + len(incident)))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for pi, on in enumerate(incident):
        pnode = n + pi
        for rk in on:
            ra, rb = find(rk), find(pnode)
            if ra == rb:
                return True
            parent[ra] = rb
    return False


def is_valid(ga: GeometryArray) -> np.ndarray:
    """Structural validity check (closed rings with >= 4 points, finite
    coords, no self-intersecting rings — proper crossings, collinear
    edge overlaps, AND revisited vertices (a ring passing through the
    same point twice is GEOS's "Ring Self-intersection": its shoelace
    area diverges from its point set, r9 subdivide-fuzz find) — holes
    properly inside their shell with no ring-cross, holes pairwise
    non-crossing/non-overlapping (proper crossings, collinear
    retraces, nesting, and vertex-penetration — r11), sibling
    MultiPolygon shells pairwise
    interior-disjoint with finite boundary contact, and a CONNECTED
    interior — a hole chain whose isolated touch points cut the region
    is GEOS's 'Interior is disconnected'; both were r10 gap closures
    (nested/overlapping sibling shells, then interior connectedness
    via the bipartite ring↔touch-point cycle test).
    Reference: base.py:301."""
    out = np.ones(len(ga), dtype=bool)
    out[ga.is_missing()] = False
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            continue
        parts = ga.geom_slices(i)
        if not np.isfinite(np.concatenate([r for p in parts for r in p])
                           if parts else np.zeros(1)).all():
            out[i] = False
            continue
        if t in (GT_POLYGON, GT_MULTIPOLYGON):
            clean_parts = []
            for p in parts:
                bad = False
                pc = []
                for r in p:
                    if len(r) < 4 or not np.array_equal(r[0], r[-1]):
                        bad = True
                        break
                    # consecutive duplicate vertices are valid (GEOS
                    # parity, r10 ADVICE) — collapse before testing
                    r = _dedup_ring(r)
                    if len(r) < 4:      # collapsed to a point/segment
                        bad = True
                        break
                    # revisited vertex = ring self-touch (pinch): the
                    # open COLLAPSED ring's vertices must be distinct
                    body = r[:-1]
                    if len(np.unique(body, axis=0)) != len(body):
                        bad = True
                        break
                    if _ring_vertex_on_edge(r):
                        bad = True
                        break
                    if _ring_self_intersects(r):
                        bad = True
                        break
                    pc.append(r)
                p = pc if not bad else p
                if not bad and len(p) > 1:
                    # holes: no proper cross with the shell, and at least
                    # one hole vertex strictly inside/on the shell
                    shell = p[0]
                    for h in p[1:]:
                        sa = np.column_stack([shell[:-1], shell[1:]]) \
                            .reshape(-1, 2, 2)
                        ha = np.column_stack([h[:-1], h[1:]]) \
                            .reshape(-1, 2, 2)
                        # robust sign-test form: near-collinear edges
                        # meeting at a shared pinch vertex make the
                        # parametric t/u proper test ill-conditioned
                        # (denom ~1e-6 amplifies rounding into t
                        # strictly inside (eps, 1-eps) — r10 extended
                        # even-odd fuzz: make_valid's own output
                        # flunked is_valid)
                        if _segs_proper_cross(ha, sa):
                            bad = True
                            break
                        # every hole vertex AND edge midpoint must be
                        # inside-or-on the shell: a hole can exit
                        # without a proper crossing by sliding out
                        # along a collinear shell edge (r10 even-odd
                        # oracle find: hole (2 2, 3 2, 3 4) escaped
                        # shell (0 0, 3 0, 3 3) via the shared x=3
                        # boundary; the old first-edge-midpoint probe
                        # missed it)
                        probes = np.vstack([h[:-1], (h[:-1] + h[1:]) / 2])
                        cls = points_in_rings(probes[:, 0],
                                              probes[:, 1], [shell])
                        if (cls == 0).any():
                            bad = True
                            break
                        # shell∩hole boundary must be finitely many
                        # POINTS: a positive-length collinear overlap
                        # with the shell is GEOS-invalid even when the
                        # hole stays inside
                        if any(_collinear_overlap_any(
                                h[k], h[k + 1] - h[k],
                                shell[:-1], shell[1:])
                                for k in range(len(h) - 1)):
                            bad = True
                            break
                if not bad and len(p) > 2:
                    # hole-vs-hole edge contact (r11 ADVICE): two holes
                    # that properly cross or retrace a positive-length
                    # collinear stretch are GEOS 'Self-intersection' —
                    # previously only hole-vs-shell was edge-tested, so
                    # crossing holes slipped through to the (first-
                    # midpoint) nesting probe and _interior_disconnected
                    # ran outside its documented precondition.
                    if _hole_pairs_cross(p):
                        bad = True
                if not bad and len(p) > 2:
                    # a hole inside another hole (GEOS 'Holes are
                    # nested') OR penetrating it through a vertex-on-
                    # edge contact (no proper crossing): ANY boundary
                    # probe of one hole strictly interior to a sibling
                    # is invalid either way. Probes = all vertices + all
                    # edge midpoints per hole (r11: the first-edge-
                    # midpoint-only probe missed vertex-penetration
                    # overlaps); batched per ADVICE r5 — ONE vectorized
                    # points_in_rings call per sibling classifies every
                    # probe at once, self-pairs masked by source index.
                    probe_pts = []
                    probe_src = []
                    for j in range(1, len(p)):
                        h = p[j]
                        pts = np.vstack([h[:-1], (h[:-1] + h[1:]) * 0.5])
                        probe_pts.append(pts)
                        probe_src.append(np.full(len(pts), j))
                    probe_pts = np.vstack(probe_pts)
                    probe_src = np.concatenate(probe_src)
                    for k2 in range(1, len(p)):
                        cls = points_in_rings(probe_pts[:, 0],
                                              probe_pts[:, 1], [p[k2]])
                        cls[probe_src == k2] = 0   # not its own nest
                        if (cls == 2).any():
                            bad = True
                            break
                if not bad and len(p) > 1:
                    # interior connectedness (GEOS 'Interior is
                    # disconnected' — r10; hole-hole edge contact is
                    # rejected above (r11), enforcing its precondition:
                    # with only isolated point contacts left, the
                    # interior is disconnected iff the bipartite
                    # ring↔touch-point incidence graph has a cycle — a
                    # hole touching the shell at TWO points cuts the
                    # interior in two; a tree of single touches (incl.
                    # several rings through ONE common point) stays
                    # connected.
                    if _interior_disconnected(p):
                        bad = True
                if bad:
                    out[i] = False
                    break
                clean_parts.append(p)
            if out[i] and len(clean_parts) > 1:
                # sibling shells (GEOS 'Nested shells' / shell overlap,
                # the last documented is_valid gap, closed r10): two
                # parts' interiors must be disjoint and their boundaries
                # may meet only in finitely many points. Detect: proper
                # shell-edge crossings, positive-length collinear shell
                # edge overlaps, or a shell vertex/edge-midpoint of one
                # part strictly interior to ANOTHER part (interior =
                # even-odd over that part's full ring set, so a part
                # sitting legally inside a sibling's HOLE stays valid).
                for a_ in range(len(clean_parts)):
                    sa = clean_parts[a_][0]
                    ea0, ea1 = sa[:-1], sa[1:]
                    ea = np.column_stack([ea0, ea1]).reshape(-1, 2, 2)
                    for b_ in range(len(clean_parts)):
                        if a_ == b_ or not out[i]:
                            continue
                        sb = clean_parts[b_][0]
                        if a_ < b_:
                            eb = np.column_stack([sb[:-1], sb[1:]]) \
                                .reshape(-1, 2, 2)
                            if _segs_proper_cross(ea, eb):
                                out[i] = False
                                break
                            if any(_collinear_overlap_any(
                                    ea0[k], ea1[k] - ea0[k],
                                    sb[:-1], sb[1:])
                                    for k in range(len(ea0))):
                                out[i] = False
                                break
                        probes = np.vstack([sa[:-1],
                                            (sa[:-1] + sa[1:]) * 0.5])
                        cls = points_in_rings(probes[:, 0], probes[:, 1],
                                              clean_parts[b_])
                        if (cls == 2).any():
                            out[i] = False
                            break
    return out


def is_simple(ga: GeometryArray) -> np.ndarray:
    """Lines: no self-intersection (except closure). Points/polygons: True."""
    out = np.ones(len(ga), dtype=bool)
    out[ga.is_missing()] = False
    for i in range(len(ga)):
        if int(ga.types[i]) in (GT_LINESTRING, GT_MULTILINESTRING):
            for p in ga.geom_slices(i):
                if _ring_self_intersects(p[0], closed=False):
                    out[i] = False
    return out


def _collinear_overlap_any(p, r, q0, q1) -> bool:
    """Positive-length collinear overlap between segment (p, p+r) and any
    of segments (q0[i], q1[i]) — the self-intersection class the
    proper-crossing test cannot see (a boundary edge traced twice, e.g.
    the Sutherland–Hodgman zero-width bridge; r9 subdivide fuzz find:
    such rings passed is_valid with inflated shoelace areas)."""
    rr = float(r @ r)
    if rr == 0:
        return False
    s = q1 - q0
    denom = r[0] * s[:, 1] - r[1] * s[:, 0]
    qp = q0 - p
    u_num = qp[:, 0] * r[1] - qp[:, 1] * r[0]
    par = (denom == 0) & (u_num == 0)
    if not par.any():
        return False
    t0 = (q0[par] - p) @ r / rr
    t1 = (q1[par] - p) @ r / rr
    lo = np.minimum(t0, t1)
    hi = np.maximum(t0, t1)
    ov = np.minimum(hi, 1.0) - np.maximum(lo, 0.0)
    return bool((ov > _EPS).any())


def _ring_vertex_on_edge(ring: np.ndarray) -> bool:
    """A ring vertex lying in the INTERIOR of a non-incident edge — the
    T-touch form of GEOS's "Ring Self-intersection" (r9 subdivide-fuzz
    find: the shoelace area of such a ring diverges from its point set
    without any proper crossing or repeated vertex). Exact comparisons;
    near-touches follow the kernel's float conventions elsewhere."""
    body = ring[:-1]
    m = len(body)
    for i in range(m):
        a = body[i]
        b = body[(i + 1) % m]
        d = b - a
        L2 = float(d @ d)
        if L2 == 0:
            continue
        w = body - a
        cross = w[:, 0] * d[1] - w[:, 1] * d[0]
        t = (w @ d) / L2
        # endpoint guard: a vertex bit-equal to a or b is incident, not a
        # T-touch, but its t can land an ulp INSIDE (0, 1) because the
        # numerator (BLAS gemv over the matrix) and denominator (dot over
        # the lone edge vector) round differently for the same exact value
        # (r14 fuzz find: triangle (0.8 0.8, 0 0, 4 0) read t=1-ulp on its
        # closing edge and flunked)
        incident = (((body[:, 0] == a[0]) & (body[:, 1] == a[1])) |
                    ((body[:, 0] == b[0]) & (body[:, 1] == b[1])))
        if bool(((cross == 0) & (t > 0) & (t < 1) & ~incident).any()):
            return True
    return False


def _ring_self_intersects(ring: np.ndarray, closed: bool = True) -> bool:
    """O(S^2) self-intersection test on one ring/chain: proper crossings
    plus positive-length collinear overlaps (edges retraced along the
    same line are invalid even without a proper crossing)."""
    n = len(ring) - 1
    if n < 2:
        return False
    a0 = ring[:-1]
    a1 = ring[1:]
    for i in range(n):
        # against all non-adjacent segments j > i+1
        j0 = i + 2
        jn = n if not (closed and i == 0) else n - 1
        if j0 >= jn:
            continue
        p, r = a0[i], a1[i] - a0[i]
        q0 = a0[j0:jn]
        q1 = a1[j0:jn]
        if _any_segment_hit(p, r, q0, q1, proper_only=True):
            return True
        if _collinear_overlap_any(p, r, q0, q1):
            return True
    # adjacent segments folding back along the same line (spikes) are a
    # positive-length overlap too
    for i in range(n - 1):
        p, r = a0[i], a1[i] - a0[i]
        if _collinear_overlap_any(p, r, a0[i + 1:i + 2], a1[i + 1:i + 2]):
            return True
    return False


def _any_segment_hit(p, r, q0, q1, proper_only=False) -> bool:
    """Does segment (p, p+r) hit any of segments (q0[i], q1[i])?"""
    s = q1 - q0
    denom = r[0] * s[:, 1] - r[1] * s[:, 0]
    qp = q0 - p
    t_num = qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]
    u_num = qp[:, 0] * r[1] - qp[:, 1] * r[0]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = t_num / denom
        u = u_num / denom
    nonpar = denom != 0
    if proper_only:
        # strict opposite-side sign tests with a scale-relative margin
        # instead of the parametric t/u: near-parallel far-apart
        # segments give denom≈1e-14 of pure rounding noise and
        # t=tiny/tiny lands anywhere in (0,1), fabricating a proper
        # crossing (r10 structure fuzz: two parallel boundary edges of
        # a repaired polygon with DISJOINT x-ranges read as crossing)
        d1 = qp[:, 0] * r[1] - qp[:, 1] * r[0]            # q0 vs line p+r
        q1p = q1 - p
        d2 = q1p[:, 0] * r[1] - q1p[:, 1] * r[0]          # q1 vs line p+r
        d3 = -t_num                                       # p vs line q+s
        pr = p + r
        prq = pr - q0
        d4 = prq[:, 0] * s[:, 1] - prq[:, 1] * s[:, 0]    # p+r vs line q+s
        rlen = float(np.hypot(r[0], r[1]))
        slen = np.hypot(s[:, 0], s[:, 1])
        tol = _CROSS_RTOL * rlen * slen
        opp_q = ((d1 > tol) & (d2 < -tol)) | ((d1 < -tol) & (d2 > tol))
        opp_p = ((d3 > tol) & (d4 < -tol)) | ((d3 < -tol) & (d4 > tol))
        return bool((opp_q & opp_p).any())
    hit = nonpar & (t >= -_EPS) & (t <= 1 + _EPS) & (u >= -_EPS) & (u <= 1 + _EPS)
    if hit.any():
        return True
    # parallel: check collinear overlap
    par = ~nonpar & (t_num == 0)
    if par.any():
        rr = r @ r
        if rr > 0:
            t0 = (qp[par] @ r) / rr
            t1 = t0 + (s[par] @ r) / rr
            lo = np.minimum(t0, t1)
            hi = np.maximum(t0, t1)
            if ((hi >= -_EPS) & (lo <= 1 + _EPS)).any():
                return True
    return False


# ---------------------------------------------------------------------------
# point-in-polygon primitive
# ---------------------------------------------------------------------------

def _on_and_crossing(X, Y, x0, y0, x1, y1):
    """The one point-vs-segment test of every point-in-polygon path,
    elementwise over broadcast arrays (a dense points × segments grid or
    flat expanded pairs). Returns (on, crossing): the point lies on the
    segment within _EPS, and the rightward ray from the point crosses it
    (even-odd, half-open in y so a vertex is counted once). A zero-length
    segment (a repeated vertex) is a point: ``on`` only within _EPS of it,
    and it never crosses. The tolerance on ``cross`` and ``dot`` (length
    times distance) is _EPS·max(L, L²) for a segment of length L: an
    absolute _EPS below length 1, relative to L above it, so a very short
    segment has no halo wider than _EPS."""
    dx, dy = x1 - x0, y1 - y0
    ex, ey = X - x0, Y - y0
    cross = ex * dy - ey * dx
    dot = ex * dx + ey * dy
    sq = dx * dx + dy * dy
    tol = _EPS * np.maximum(np.sqrt(sq), sq)
    on = (np.abs(cross) <= tol) & (dot >= -tol) & (dot <= sq + tol)
    point = sq == 0
    if point.any():
        on &= ~point | (ex * ex + ey * ey <= _EPS * _EPS)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + ey * dx / np.where(dy == 0, 1.0, dy)
    crossing = ((y0 > Y) != (y1 > Y)) & (X < xint)
    return on, crossing


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Classify points against one polygon (list of rings, ring 0 = shell).

    Returns int8 per point: 0 = exterior, 1 = boundary, 2 = interior.
    Vectorized over points × segments (dense grid, `_on_and_crossing`) —
    the distributed analogue of the reference's prepared-geometry
    predicate refine (geopandas/sindex.py:128-130).
    """
    inside = np.zeros(len(px), dtype=np.int64)
    boundary = np.zeros(len(px), dtype=bool)
    X, Y = px[:, None], py[:, None]
    for ring in rings:
        on, crossing = _on_and_crossing(X, Y, ring[:-1, 0][None, :],
                                        ring[:-1, 1][None, :],
                                        ring[1:, 0][None, :],
                                        ring[1:, 1][None, :])
        boundary |= on.any(axis=1)
        inside += crossing.sum(axis=1)
    out = np.where(inside % 2 == 1, 2, 0).astype(np.int8)
    out[boundary] = 1
    return out


def points_in_geom(px, py, ga: GeometryArray, i: int) -> np.ndarray:
    """Classify points vs row i of ga (must be polygonal)."""
    res = np.zeros(len(px), dtype=np.int8)
    for rings in ga.geom_slices(i):
        r = points_in_rings(px, py, rings)
        res = np.maximum(res, r)
    return res


# ---------------------------------------------------------------------------
# pairwise predicates & distance
# ---------------------------------------------------------------------------

def _geom_segments(ga: GeometryArray, i: int):
    """(S,2,2) array of segments of row i (all rings of all parts)."""
    segs = []
    for p in ga.geom_slices(i):
        for r in p:
            if len(r) >= 2:
                segs.append(np.stack([r[:-1], r[1:]], axis=1))
    if segs:
        return np.concatenate(segs, axis=0)
    return np.empty((0, 2, 2))


def _geom_points(ga: GeometryArray, i: int):
    o = ga.coord_offsets_per_geom()
    return ga.coords[o[i]:o[i + 1]]


def _segs_proper_cross(sa, sb) -> bool:
    """Robust ANY-proper-crossing between segment sets (S,2,2)/(T,2,2):
    strict opposite-side sign tests with a scale-relative margin
    (1e-9·|r|·|s|), instead of the parametric t/u form — near-collinear
    edges meeting at a shared vertex give denom≈0 and t=tiny/tiny lands
    anywhere, fabricating 'proper' hits (r10 sibling-shell fuzz find on
    make_valid's own output)."""
    if len(sa) == 0 or len(sb) == 0:
        return False
    r = sa[:, 1] - sa[:, 0]
    s = sb[:, 1] - sb[:, 0]
    tol = _CROSS_RTOL * np.sqrt((r * r).sum(-1))[:, None] \
        * np.sqrt((s * s).sum(-1))[None, :]
    q0p = sb[None, :, 0] - sa[:, None, 0]
    q1p = sb[None, :, 1] - sa[:, None, 0]
    d1 = r[:, None, 0] * q0p[..., 1] - r[:, None, 1] * q0p[..., 0]
    d2 = r[:, None, 0] * q1p[..., 1] - r[:, None, 1] * q1p[..., 0]
    p0q = -q0p
    p1q = sa[:, None, 1] - sb[None, :, 0]
    d3 = s[None, :, 0] * p0q[..., 1] - s[None, :, 1] * p0q[..., 0]
    d4 = s[None, :, 0] * p1q[..., 1] - s[None, :, 1] * p1q[..., 0]
    opp_q = ((d1 > tol) & (d2 < -tol)) | ((d1 < -tol) & (d2 > tol))
    opp_p = ((d3 > tol) & (d4 < -tol)) | ((d3 < -tol) & (d4 > tol))
    return bool((opp_q & opp_p).any())


def _segs_intersect_flags(sa, sb):
    """(any_hit, any_proper) between segment sets sa (S,2,2), sb (T,2,2)."""
    if len(sa) == 0 or len(sb) == 0:
        return False, False
    da_ = sa[:, 1] - sa[:, 0]
    db_ = sb[:, 1] - sb[:, 0]
    la = (da_ * da_).sum(-1) > 0
    lb = (db_ * db_).sum(-1) > 0
    extra_hit = False
    if not (la.all() and lb.all()):
        # zero-length segments (repeated vertices) are POINTS: the
        # cross-product collinearity test below degenerates to 0 = 0
        # for them and fabricates hits anywhere their projection lands
        # (r8 DE-9IM fuzz find) — test them as point-vs-segment
        # distances instead, never as 'proper' crossings
        pa_d = sa[~la, 0]
        pb_d = sb[~lb, 0]
        sa, sb = sa[la], sb[lb]
        if len(pa_d) and len(sb):
            extra_hit |= bool((_point_seg_dist(pa_d, sb) <= _EPS).any())
        if len(pb_d) and len(sa):
            extra_hit |= bool((_point_seg_dist(pb_d, sa) <= _EPS).any())
        if len(pa_d) and len(pb_d):
            extra_hit |= bool((np.abs(pa_d[:, None] - pb_d[None])
                               .max(-1) <= _EPS).any())
        if len(sa) == 0 or len(sb) == 0:
            return extra_hit, False
    p = sa[:, 0][:, None, :]
    r = (sa[:, 1] - sa[:, 0])[:, None, :]
    q = sb[:, 0][None, :, :]
    s = (sb[:, 1] - sb[:, 0])[None, :, :]
    denom = r[..., 0] * s[..., 1] - r[..., 1] * s[..., 0]
    qp = q - p
    t_num = qp[..., 0] * s[..., 1] - qp[..., 1] * s[..., 0]
    u_num = qp[..., 0] * r[..., 1] - qp[..., 1] * r[..., 0]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = t_num / denom
        u = u_num / denom
    nonpar = denom != 0
    hit = nonpar & (t >= -_EPS) & (t <= 1 + _EPS) & (u >= -_EPS) & (u <= 1 + _EPS)
    proper = nonpar & (t > _EPS) & (t < 1 - _EPS) & (u > _EPS) & (u < 1 - _EPS)
    any_hit = bool(hit.any())
    any_proper = bool(proper.any())
    if not any_hit:
        # collinear overlap check
        par = ~nonpar & (np.abs(t_num) <= _EPS)
        if par.any():
            rr = (r * r).sum(-1)
            rr = np.where(rr == 0, 1.0, rr)
            t0 = (qp * r).sum(-1) / rr
            t1 = t0 + (s * r).sum(-1) / rr
            lo = np.minimum(t0, t1)
            hi = np.maximum(t0, t1)
            ov = par & (hi >= -_EPS) & (lo <= 1 + _EPS)
            any_hit = bool(ov.any())
    return any_hit or extra_hit, any_proper


def _point_seg_dist(pts, segs):
    """min distance from each of pts (P,2) to segment set (S,2,2) → (P,)"""
    if len(segs) == 0 or len(pts) == 0:
        return np.full(len(pts), np.inf)
    a = segs[:, 0][None, :, :]
    b = segs[:, 1][None, :, :]
    p = pts[:, None, :]
    ab = b - a
    ap = p - a
    denom = (ab * ab).sum(-1)
    t = np.clip((ap * ab).sum(-1) / np.where(denom == 0, 1.0, denom), 0, 1)
    proj = a + t[..., None] * ab
    d = np.hypot(*(p - proj).transpose(2, 0, 1))
    return d.min(axis=1)


def _segments_all(ga: GeometryArray):
    """All segments of every row, vectorized: (starts (S,2), ends (S,2),
    seg_row int64[S]) — a coord starts a segment iff it is not the last
    coord of its ring (1-coord point rings yield none)."""
    n = ga.n_coords
    if n == 0:
        z = np.empty((0, 2))
        return z, z, np.empty(0, dtype=np.int64)
    starts = np.ones(n, dtype=bool)
    last = ga.ring_offsets[1:] - 1
    starts[last[last >= 0]] = False
    idx = np.nonzero(starts)[0]
    return ga.coords[idx], ga.coords[idx + 1], ga.coord_geom_index()[idx]


def _ragged_cross_min(out, pa, pa_off, sa, sb, sb_off, chunk=4_000_000):
    """min-reduce point×segment distances over aligned ragged pairs:
    row r pairs points pa[pa_off[r]:pa_off[r+1]] against segments
    (sa, sb)[sb_off[r]:sb_off[r+1]]; np.minimum.at folds into out[r].
    One numpy pass, chunked by combo count."""
    npp = np.diff(pa_off)
    nss = np.diff(sb_off)
    work = npp * nss
    tot = int(work.sum())
    if tot == 0:
        return
    cum = np.cumsum(work) - work
    # chunk along pair rows so a single pass stays in memory
    bounds_rows = np.searchsorted(cum, np.arange(0, tot, chunk))
    bounds_rows = np.unique(np.append(bounds_rows, len(work)))
    for s, e in zip(bounds_rows[:-1], bounds_rows[1:]):
        w = work[s:e]
        t = int(w.sum())
        if t == 0:
            continue
        rep = np.repeat(np.arange(s, e), w)
        combo = np.arange(t) - np.repeat(np.cumsum(w) - w, w)
        pt = pa_off[rep] + combo // nss[rep]
        sg = sb_off[rep] + combo % nss[rep]
        p = pa[pt]
        a = sa[sg]
        b = sb[sg]
        ab = b - a
        ap = p - a
        denom = (ab * ab).sum(-1)
        tt = np.clip((ap * ab).sum(-1) / np.where(denom == 0, 1.0, denom),
                     0.0, 1.0)
        proj = a + tt[:, None] * ab
        dx = p[:, 0] - proj[:, 0]
        dy = p[:, 1] - proj[:, 1]
        d = np.sqrt(dx * dx + dy * dy)
        np.minimum.at(out, rep, d)


def pairs_disjoint_distance(ga: GeometryArray, gb: GeometryArray):
    """Exact distance for aligned row pairs KNOWN to be disjoint (e.g.
    bbox lower bound > 0): min over vertex→segment in both directions,
    plus vertex→vertex for point-only pairs — fully vectorized ragged
    cross products, no per-pair Python. Callers own the disjointness
    precondition (intersecting pairs would need the 0-distance test)."""
    n = len(ga)
    out = np.full(n, np.inf)
    pa_off = ga.coord_offsets_per_geom()
    pb_off = gb.coord_offsets_per_geom()
    asa, asb, arow = _segments_all(ga)
    bsa, bsb, brow = _segments_all(gb)
    a_seg_off = np.concatenate([[0], np.cumsum(np.bincount(arow, minlength=n))]).astype(np.int64)
    b_seg_off = np.concatenate([[0], np.cumsum(np.bincount(brow, minlength=n))]).astype(np.int64)
    _ragged_cross_min(out, ga.coords, pa_off, bsa, bsb, b_seg_off)
    _ragged_cross_min(out, gb.coords, pb_off, asa, asb, a_seg_off)
    # pairs where both sides are segment-free (point×point)
    both_pts = (np.diff(a_seg_off) == 0) & (np.diff(b_seg_off) == 0)
    if both_pts.any():
        rows = np.nonzero(both_pts)[0]
        # treat B's coords as zero-length segments for the same kernel
        sub_off = np.zeros(n + 1, dtype=np.int64)
        np.add.at(sub_off, rows + 1, np.diff(pb_off)[rows])
        sub_off = np.cumsum(sub_off)
        keep = np.repeat(both_pts, np.diff(pb_off))
        bc = gb.coords[keep]
        _ragged_cross_min(out, ga.coords, pa_off, bc, bc, sub_off)
    return out


def _pair_intersects(ga, i, gb, j) -> bool:
    ta, tb = int(ga.types[i]), int(gb.types[j])
    pa, pb = _geom_points(ga, i), _geom_points(gb, j)
    if len(pa) == 0 or len(pb) == 0:
        return False
    # bbox reject
    if (pa[:, 0].max() < pb[:, 0].min() or pb[:, 0].max() < pa[:, 0].min() or
            pa[:, 1].max() < pb[:, 1].min() or pb[:, 1].max() < pa[:, 1].min()):
        return False
    sa, sb = _geom_segments(ga, i), _geom_segments(gb, j)
    if ta in POINT_TYPES and tb in POINT_TYPES:
        return bool((np.abs(pa[:, None, :] - pb[None, :, :]).max(-1) <= _EPS).any())
    if ta in POINT_TYPES:
        return _points_hit_geom(pa, gb, j, tb, sb)
    if tb in POINT_TYPES:
        return _points_hit_geom(pb, ga, i, ta, sa)
    hit, _ = _segs_intersect_flags(sa, sb)
    if hit:
        return True
    if ta in POLYGON_TYPES and len(pb):
        if (points_in_geom(pb[:, 0], pb[:, 1], ga, i) > 0).any():
            return True
    if tb in POLYGON_TYPES and len(pa):
        if (points_in_geom(pa[:, 0], pa[:, 1], gb, j) > 0).any():
            return True
    # a GEOMETRYCOLLECTION's polygon children can contain the other
    # geometry with no segment crossing (r8 fuzz find: point inside a
    # GC's polygon child reported disjoint)
    for t_, g_, k_, opts in ((ta, ga, i, pb), (tb, gb, j, pa)):
        if t_ == GT_GEOMETRYCOLLECTION and len(opts) and \
                _points_in_gc_polys(opts, g_, k_):
            return True
    return False


def _points_in_gc_polys(pts, g, j) -> bool:
    polys = resolve_collections(g.take([j]), "polygon")
    if len(polys) == 0 or bool(polys.is_empty()[0]):
        return False
    return bool((points_in_geom(pts[:, 0], pts[:, 1], polys, 0) > 0).any())


def _points_hit_geom(pts, g, j, tg, sg) -> bool:
    if tg in POLYGON_TYPES:
        return bool((points_in_geom(pts[:, 0], pts[:, 1], g, j) > 0).any())
    if tg == GT_GEOMETRYCOLLECTION and _points_in_gc_polys(pts, g, j):
        return True
    return bool((_point_seg_dist(pts, sg) <= _EPS).any())


def _pair_covers(ga, i, gb, j, require_interior=False) -> bool:
    """covers(A,B); with require_interior=True → contains(A,B)."""
    ta, tb = int(ga.types[i]), int(gb.types[j])
    pa, pb = _geom_points(ga, i), _geom_points(gb, j)
    if len(pa) == 0 or len(pb) == 0:
        return False
    sa, sb = _geom_segments(ga, i), _geom_segments(gb, j)
    if ta in POINT_TYPES:
        # a point only covers coincident points
        ok = (np.abs(pb[:, None, :] - pa[None, :, :]).max(-1) <= _EPS).any(axis=1)
        return bool(ok.all())
    if ta in POLYGON_TYPES:
        if tb in LINE_TYPES:
            # exact: split B at A's ring edges; any strictly-exterior
            # piece (including pieces inside A's HOLES, which sampled
            # vertex/midpoint probes can miss) defeats covers
            has_int, has_ext = _line_poly_interior_exterior(gb, j, ga, i)
            if has_ext:
                return False
            # isolated point parts of the line row (degenerate)
            cls0 = points_in_geom(pb[:, 0], pb[:, 1], ga, i)
            if (cls0 == 0).any():
                return False
            return has_int if require_interior else True
        # sample points of B: vertices + segment midpoints
        test = pb
        if len(sb):
            mid = sb.mean(axis=1)
            test = np.concatenate([pb, mid], axis=0)
        cls = points_in_geom(test[:, 0], test[:, 1], ga, i)
        if (cls == 0).any():
            return False
        _, proper = _segs_intersect_flags(sa, sb)
        if proper:
            return False
        if tb in POLYGON_TYPES:
            # the samples cannot witness B's interior poking into a
            # HOLE of A whose boundary avoids them (r8 DE-9IM fuzz
            # find: holed A vs its own solid shell passed) — confirm
            # the near-cover with the exact boolean difference B − A
            diff = _mr.boolean_op(_geom_rings_closed(gb, j),
                                  _geom_rings_closed(ga, i),
                                  _mr.DIFFERENCE)
            for poly in diff:
                a_ = abs(_mr._ring_signed_area(_mr._close(poly[0])))
                for hole in poly[1:]:
                    a_ -= abs(_mr._ring_signed_area(_mr._close(hole)))
                if a_ > 1e-12:
                    return False
        if require_interior:
            if tb in POLYGON_TYPES:
                # B has area; if fully covered its interior meets A's interior
                return True
            return bool((cls == 2).any())
        return True
    if ta in LINE_TYPES:
        if tb in POLYGON_TYPES:
            return False
        test = pb
        if len(sb):
            test = np.concatenate([pb, sb.mean(axis=1)], axis=0)
        d = _point_seg_dist(test, sa)
        if (d > _EPS).any():
            return False
        if require_interior and tb in POINT_TYPES:
            # contains excludes line boundary (endpoints)
            ends = _line_endpoints(ga, i)
            if ends is not None and len(ends):
                at_end = (np.abs(pb[:, None, :] - ends[None, :, :]).max(-1)
                          <= _EPS).any(axis=1)
                if at_end.all():
                    return False
        return True
    return False


def _line_endpoints(ga, i):
    """Mod-2 boundary points of a (multi)linestring: endpoints of open
    parts that occur an odd number of times (the OGC Mod-2 rule GEOS
    applies — a point where two part-ends meet is interior, not
    boundary)."""
    from collections import Counter
    cnt = Counter()
    for p in ga.geom_slices(i):
        r = p[0]
        if len(r) >= 2 and not np.array_equal(r[0], r[-1]):
            cnt[tuple(r[0])] += 1
            cnt[tuple(r[-1])] += 1
    ends = [k for k, v in cnt.items() if v % 2 == 1]
    return (np.array(ends, dtype=np.float64) if ends
            else np.empty((0, 2)))


def _pair_distance(ga, i, gb, j) -> float:
    ta, tb = int(ga.types[i]), int(gb.types[j])
    pa, pb = _geom_points(ga, i), _geom_points(gb, j)
    if len(pa) == 0 or len(pb) == 0:
        return np.nan
    if ta in POINT_TYPES and tb in POINT_TYPES:
        d = np.hypot(pa[:, None, 0] - pb[None, :, 0],
                     pa[:, None, 1] - pb[None, :, 1])
        return float(d.min())
    if _pair_intersects(ga, i, gb, j):
        return 0.0
    sa, sb = _geom_segments(ga, i), _geom_segments(gb, j)
    cands = [np.hypot(pa[:, None, 0] - pb[None, :, 0],
                      pa[:, None, 1] - pb[None, :, 1]).min()]
    if len(sb):
        cands.append(_point_seg_dist(pa, sb).min())
    if len(sa):
        cands.append(_point_seg_dist(pb, sa).min())
    return float(min(cands))


def _pairwise(ga, gb, fn, dtype, fill, skip=None):
    n = len(ga)
    if len(gb) != n:
        raise ValueError("pairwise op requires equal lengths")
    out = np.full(n, fill, dtype=dtype)
    ma = ga.is_missing() | ga.is_empty()
    mb = gb.is_missing() | gb.is_empty()
    for i in range(n):
        if ma[i] or mb[i] or (skip is not None and skip[i]):
            continue
        out[i] = fn(ga, i, gb, i)
    return out


def _pip_rows(pts_ga, poly_gb):
    """Row mask where pts_ga is a 1-coordinate POINT and poly_gb polygonal
    — the vectorizable sjoin-refine hot path."""
    return ((pts_ga.types == GT_POINT) & (pts_ga.coords_per_geom() == 1) &
            ((poly_gb.types == GT_POLYGON) |
             (poly_gb.types == GT_MULTIPOLYGON)) &
            (poly_gb.coords_per_geom() > 0))


def _pairwise_point_in_poly(pts_ga, poly_gb, rows):
    """Vectorized pairwise point-in-polygon classification for `rows`
    (each row's point vs that row's OWN polygon). One numpy pass over the
    selected polygons' segments (`_row_segments`): each is tested against
    its row's point by `_on_and_crossing` — no per-row Python loop. This
    is the distributed refine hot path of the grid spatial join (SURVEY
    §2.4)."""
    rows = np.asarray(rows)
    if len(rows) == 0:
        return rows, np.zeros(0, dtype=np.int8)
    poff = pts_ga.coord_offsets_per_geom()
    px = pts_ga.coords[poff[rows], 0]
    py = pts_ga.coords[poff[rows], 1]
    s0, s1, tgt = _row_segments(poly_gb, rows)
    on, crossing = _on_and_crossing(px[tgt], py[tgt], s0[:, 0], s0[:, 1],
                                    s1[:, 0], s1[:, 1])
    boundary = np.bincount(tgt[on], minlength=len(rows)) > 0
    inside = np.bincount(tgt[crossing], minlength=len(rows)) % 2 == 1
    cls = np.where(inside, 2, 0).astype(np.int8)
    cls[boundary] = 1
    return rows, cls


def _row_segments(g, rows):
    """All segments of the selected rows, flattened and grouped by row:
    (s0 (S,2), s1 (S,2), tgt (S,) position into `rows`). Ring/part-last
    coords emit no segment. tgt is nondecreasing (rows sorted)."""
    pos_of_row = np.full(len(g), -1, dtype=np.int64)
    pos_of_row[rows] = np.arange(len(rows))
    starts = g.ring_offsets[:-1]
    ends = g.ring_offsets[1:]
    valid = np.ones(g.n_coords, dtype=bool)
    lasts = ends[ends > starts] - 1
    valid[lasts] = False
    idx = np.nonzero(valid)[0]
    tgt = pos_of_row[g.coord_geom_index()[idx]]
    sel = tgt >= 0
    idx, tgt = idx[sel], tgt[sel]
    # np.take: a row gather by fancy index costs ~8x more on (n, 2)
    return (np.take(g.coords, idx, axis=0),
            np.take(g.coords, idx + 1, axis=0), tgt)


def _row_vertices(g, rows):
    """All coords of the selected rows: (v (V,2), tgt (V,) position into
    `rows`), matching _geom_points' per-row point set (ring-closing
    duplicates included — harmless for parity/boundary tests)."""
    pos_of_row = np.full(len(g), -1, dtype=np.int64)
    pos_of_row[rows] = np.arange(len(rows))
    tgt = pos_of_row[g.coord_geom_index()]
    sel = tgt >= 0
    return g.coords[sel], tgt[sel]


# Expanded (segment, point) entries per chunk of a cross-product kernel.
# An entry costs ~140 B of temporaries, so a chunk holds ~10 MB (1 << 22
# entries would hold ~0.6 GB per Python worker); on a 1M-entry
# point-in-polygon batch (4-core host) larger chunks were no faster.
_CHUNK = 1 << 16


def _cross_chunks(cnt_a, cnt_b):
    """Split row positions [0, R) into chunks whose per-row cross-product
    totals (cnt_a*cnt_b) each stay under ``_CHUNK`` expanded entries (a
    row is never split, so one row may exceed it)."""
    reps = (cnt_a * cnt_b).astype(np.int64)
    cum = np.cumsum(reps)
    out = []
    lo = 0
    while lo < len(reps):
        base = cum[lo - 1] if lo else 0
        hi = int(np.searchsorted(cum, base + _CHUNK, side="right"))
        hi = max(hi, lo + 1)
        out.append((lo, hi))
        lo = hi
    return out


def _expand_pairs(cnt_a, cnt_b, lo, hi, off_a, off_b):
    """Flat cross-product indices for row positions [lo, hi): returns
    (ia, ib, row) where ia/ib index the CONCATENATED per-row element
    arrays (off_* = exclusive prefix starts per row position)."""
    ca, cb = cnt_a[lo:hi], cnt_b[lo:hi]
    reps = ca * cb
    total = int(reps.sum())
    if total == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    row = np.repeat(np.arange(lo, hi), reps)
    local = np.arange(total) - np.repeat(np.cumsum(reps) - reps, reps)
    rb = np.repeat(cb, reps)
    a_local = local // rb
    b_local = local - a_local * rb
    ia = np.repeat(off_a[lo:hi], reps) + a_local
    ib = np.repeat(off_b[lo:hi], reps) + b_local
    return ia, ib, row


def _seg_pairs_hit(p0, p1, q0, q1):
    """Per expanded pair: does segment (p0,p1) intersect (q0,q1) under
    the same _EPS semantics as _segs_intersect_flags (parametric hit,
    collinear overlap, zero-length segments as points)?"""
    r = p1 - p0
    s = q1 - q0
    rr = (r * r).sum(-1)
    ss = (s * s).sum(-1)
    la, lb = rr > 0, ss > 0
    qp = q0 - p0
    denom = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    t_num = qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]
    u_num = qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = t_num / denom
        u = u_num / denom
    nonpar = (denom != 0) & la & lb
    hit = nonpar & (t >= -_EPS) & (t <= 1 + _EPS) & \
        (u >= -_EPS) & (u <= 1 + _EPS)
    # collinear overlap (parallel, on the same line, ranges touch)
    par = la & lb & (denom == 0) & (np.abs(t_num) <= _EPS)
    if par.any():
        rr_s = np.where(rr == 0, 1.0, rr)
        t0 = (qp * r).sum(-1) / rr_s
        t1 = t0 + (s * r).sum(-1) / rr_s
        lo_ = np.minimum(t0, t1)
        hi_ = np.maximum(t0, t1)
        hit |= par & (hi_ >= -_EPS) & (lo_ <= 1 + _EPS)
    # degenerate segments are POINTS (same as _segs_intersect_flags)
    dg = ~(la & lb)
    if dg.any():
        def _pt_seg(P, A, B, m):
            AB = B[m] - A[m]
            den = (AB * AB).sum(-1)
            tt = np.clip(((P[m] - A[m]) * AB).sum(-1)
                         / np.where(den == 0, 1.0, den), 0, 1)
            proj = A[m] + tt[:, None] * AB
            return np.hypot(*(P[m] - proj).T) <= _EPS
        m = dg & ~la & lb          # p is a point vs segment q
        if m.any():
            hit[m] |= _pt_seg(p0, q0, q1, m)
        m = dg & la & ~lb          # q is a point vs segment p
        if m.any():
            hit[m] |= _pt_seg(q0, p0, p1, m)
        m = dg & ~la & ~lb         # point vs point
        if m.any():
            hit[m] |= np.abs(p0[m] - q0[m]).max(-1) <= _EPS
    return hit


def _vec_classify_points(vx, vy, s0, s1, cnt_v_full, cnt_s_full, sel):
    """Per-POINT classification of each selected row's probe points
    against the row's polygon (0 exterior / 1 boundary / 2 interior —
    global even-odd parity + on-segment boundary by `_on_and_crossing`).
    Points and segments are grouped by row, ``cnt_*_full`` per row.
    Returns int8[len(vx)]; points of unselected rows keep 0. Expanded in
    ``_cross_chunks`` chunks."""
    cls = np.zeros(len(vx), dtype=np.int8)
    off_s = np.concatenate([[0], np.cumsum(cnt_s_full)])[:-1]
    off_v = np.concatenate([[0], np.cumsum(cnt_v_full)])[:-1]
    cnt_s = np.where(sel, cnt_s_full, 0)
    cnt_v = np.where(sel, cnt_v_full, 0)
    for lo, hi in _cross_chunks(cnt_s, cnt_v):
        isg, iv, row = _expand_pairs(cnt_s, cnt_v, lo, hi, off_s, off_v)
        if len(row) == 0:
            continue
        on, crossing = _on_and_crossing(vx[iv], vy[iv], s0[isg, 0],
                                        s0[isg, 1], s1[isg, 0], s1[isg, 1])
        v0 = int(off_v[lo])          # the chunk's points: [v0, v0 + m)
        m = int(off_v[hi - 1] + cnt_v[hi - 1]) - v0
        ncross = np.bincount(iv - v0, weights=crossing, minlength=m)
        win = cls[v0:v0 + m]
        win[ncross.astype(np.int64) % 2 == 1] = 2
        win[np.bincount(iv[on] - v0, minlength=m) > 0] = 1
    return cls


def _seg_pairs_proper(p0, p1, q0, q1):
    """Per expanded pair: PROPER crossing under the same parametric
    strict bounds as _segs_intersect_flags (t, u strictly inside
    (_EPS, 1-_EPS); degenerate segments never proper)."""
    r = p1 - p0
    s = q1 - q0
    rr = (r * r).sum(-1)
    ss = (s * s).sum(-1)
    qp = q0 - p0
    denom = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    t_num = qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]
    u_num = qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = t_num / denom
        u = u_num / denom
    return ((denom != 0) & (rr > 0) & (ss > 0) &
            (t > _EPS) & (t < 1 - _EPS) & (u > _EPS) & (u < 1 - _EPS))


# max per-row segment cross product the vectorized path will expand;
# denser rows keep the per-pair path (same asymptotic work, bounded
# peak memory)
_FAST_PAIR_CAP = 1 << 20


def _rect_rows(g, b) -> np.ndarray:
    """Rows that are exact axis-aligned rectangles (single 5-coord ring,
    every vertex on a bbox corner, axis-parallel alternating edges,
    positive extent). For two such rows, intersects == bbox overlap —
    a rectangle is the product of two intervals, and products of
    intervals intersect iff both axes overlap — so rect×rect pairs
    decide with no segment/containment expansion at all (r11: gridded
    tiles and bbox geometries are a dominant real-world polygon
    population; PostGIS ships the same short-circuit)."""
    cpg = g.coords_per_geom()
    out = (g.types == GT_POLYGON) & (cpg == 5)
    rows = np.nonzero(out)[0]
    if len(rows) == 0:
        return out
    o = g.coord_offsets_per_geom()[rows]
    idx = o[:, None] + np.arange(5)[None, :]
    # row-gather the contiguous (N,2) coords once, then split: fancy
    # indexing the strided column views costs ~5x (r12 profile)
    xy = g.coords[idx.ravel()]
    xs = xy[:, 0].reshape(-1, 5)
    ys = xy[:, 1].reshape(-1, 5)
    onx = (xs == b[rows, 0][:, None]) | (xs == b[rows, 2][:, None])
    ony = (ys == b[rows, 1][:, None]) | (ys == b[rows, 3][:, None])
    good = onx.all(1) & ony.all(1)
    ex = xs[:, 1:] == xs[:, :-1]
    ey = ys[:, 1:] == ys[:, :-1]
    good &= (ex ^ ey).all(1)            # axis-parallel, never zero-length
    good &= (ex[:, :-1] != ex[:, 1:]).all(1)    # axes alternate
    out[rows] = good
    return out


def _pairwise_edge_predicate_rows(ga, gb):
    """Rows eligible for the vectorized lineal/polygonal intersects path:
    both sides LINE or POLYGON typed with coordinates (points and
    GEOMETRYCOLLECTIONs keep the generic per-pair path)."""
    lp = (GT_LINESTRING, GT_MULTILINESTRING, GT_POLYGON, GT_MULTIPOLYGON)
    ea = np.isin(ga.types, lp) & (ga.coords_per_geom() > 0)
    eb = np.isin(gb.types, lp) & (gb.coords_per_geom() > 0)
    return ea & eb


def _sat_rows(g, rows):
    """(eligible bool[nrows], ccw_sign float[nrows]) — single-ring
    convex polygon rows, the convex-SAT precondition. Vectorized
    mirror of _is_convex (wrap-around edge pair included); degenerate
    zero-area rings are ineligible, and so are rings with a repeated
    vertex, whose zero-length edge would hide a reflex turn between
    its neighbours (they take the generic path)."""
    n = len(rows)
    ok = np.zeros(n, dtype=bool)
    sign = np.zeros(n)
    cand = np.nonzero((g.types[rows] == GT_POLYGON) &
                      (g.rings_per_geom()[rows] == 1) &
                      (g.coords_per_geom()[rows] >= 4))[0]
    if len(cand) == 0:
        return ok, sign
    co = g.coord_offsets_per_geom()
    nseg = g.coords_per_geom()[rows[cand]] - 1
    ends = np.cumsum(nseg)
    total = int(ends[-1])
    local = np.arange(total) - np.repeat(ends - nseg, nseg)
    idx0 = np.repeat(co[rows[cand]], nseg) + local
    c0 = g.coords[idx0]
    c1 = g.coords[idx0 + 1]
    v = c1 - c0
    nxt = np.arange(total) + 1
    nxt[ends - 1] = ends - nseg                  # wrap to ring start
    cr = v[:, 0] * v[nxt, 1] - v[:, 1] * v[nxt, 0]
    off = ends - nseg
    mn = np.minimum.reduceat(cr, off)
    mx = np.maximum.reduceat(cr, off)
    conv = (mn >= -_EPS) | (mx <= _EPS)
    area2 = np.add.reduceat(
        c0[:, 0] * c1[:, 1] - c1[:, 0] * c0[:, 1], off)
    zero = np.add.reduceat((v[:, 0] == 0) & (v[:, 1] == 0), off)
    good = conv & (area2 != 0) & (zero == 0)
    ok[cand[good]] = True
    sign[cand[good]] = np.sign(area2[good])
    return ok, sign


def _sat_lin(s0, s1, s_tgt, sign):
    """Linearize the inside-signed cross per SEGMENT once — s = Dx·vy −
    Dy·vx − C with the row's orientation sign folded into (Dx, Dy, C) —
    so each expanded combo costs 5 scalar gathers + 4 flops instead of
    (N,2) row gathers + 8 flops. r13: split out of _sat_best so the
    deep-overlap probe and both full SAT directions share ONE
    linearization pass instead of rebuilding it per call."""
    sgnseg = sign[s_tgt]
    Dx = (s1[:, 0] - s0[:, 0]) * sgnseg
    Dy = (s1[:, 1] - s0[:, 1]) * sgnseg
    C = Dx * s0[:, 1] - Dy * s0[:, 0]
    return Dx, Dy, C


def _sat_center_probe(lin, s_tgt, cnt_s_full, cx, cy, sel, nrows):
    """min over a row's edges of the inside-signed distance to ONE
    partner point (its bbox center) — the deep-overlap probe. With a
    single partner vertex the generic _sat_best degenerates to
    max-over-1 reduceat groups (per-group overhead with zero
    amortization, ~3M combos/s measured); this specialization is one
    vectorized pass over the segments: no expansion, no chunking.
    +inf where unselected (callers mask by their own sel)."""
    Dx, Dy, C = lin
    if len(Dx) == 0:
        return np.full(nrows, np.inf)
    s = Dx * cy[s_tgt]
    s -= Dy * cx[s_tgt]
    s -= C
    off = np.concatenate([[0], np.cumsum(cnt_s_full)])[:-1]
    mn = np.minimum.reduceat(s, np.minimum(off, len(s) - 1))
    return np.where(sel & (cnt_s_full > 0), mn, np.inf)


def _sat_best(lin, s_tgt, cnt_s_full, vx, vy, cnt_v_full,
              sel, nrows):
    """Per selected row: min over the row's OWN edges of (max over the
    partner's verts of the inside-signed cross) — one half of the
    convex SAT. For a CCW convex polygon, its extreme projection on an
    edge's outward normal IS that edge, so 'all partner verts strictly
    outside some edge' == 'a separating axis exists among this side's
    normals'. +inf where unselected. ``lin`` is the shared _sat_lin
    output."""
    Dx, Dy, C = lin
    best = np.full(nrows, np.inf)
    off_s = np.concatenate([[0], np.cumsum(cnt_s_full)])[:-1]
    off_v = np.concatenate([[0], np.cumsum(cnt_v_full)])[:-1]
    cnt_s = np.where(sel, cnt_s_full, 0)
    cnt_v = np.where(sel, cnt_v_full, 0)
    for lo, hi in _cross_chunks(cnt_s, cnt_v):
        isg, iv, row = _expand_pairs(cnt_s, cnt_v, lo, hi, off_s, off_v)
        if len(row) == 0:
            continue
        s = Dx[isg] * vy[iv]
        s -= Dy[isg] * vx[iv]
        s -= C[isg]
        # combos are a-major per row: per-(row,edge) groups contiguous
        ng = np.empty(len(isg), dtype=bool)
        ng[0] = True
        ng[1:] = isg[1:] != isg[:-1]
        gs = np.nonzero(ng)[0]
        smax = np.maximum.reduceat(s, gs)
        segid = isg[gs]
        # per-row min: segid (hence its row) is sorted within the chunk
        rt = s_tgt[segid]
        rg_ = np.empty(len(rt), dtype=bool)
        rg_[0] = True
        rg_[1:] = rt[1:] != rt[:-1]
        rs = np.nonzero(rg_)[0]
        rmin = np.minimum.reduceat(smax, rs)
        ur = rt[rs]
        np.minimum.at(best, ur, rmin)      # ≤1 entry per row per chunk
    return best


def _poly_line_intersects_fast(ga, gb):
    """(fast_mask, results) for lineal/polygonal pairs — the sjoin,
    overlay and clip refine hot path, vectorized across the batch
    (r11: the per-pair Python loop ran the 600k×100k box×box stress at
    0.12M pairs/s vs 1.1M for point×box; the kernel, not the plan, was
    the bottleneck). Semantics match _pair_intersects: bbox reject,
    any segment hit (parametric + collinear + degenerate), else any
    vertex of one side inside-or-on the other polygonal side."""
    n = len(ga)
    fast = np.zeros(n, dtype=bool)
    res = np.zeros(n, dtype=bool)
    elig = _pairwise_edge_predicate_rows(ga, gb) & \
        ~(ga.is_missing() | ga.is_empty() | gb.is_missing() | gb.is_empty())
    if not elig.any():
        return fast, res
    rows = np.nonzero(elig)[0]
    # bbox reject, vectorized (same as _pair_intersects' first test)
    ba, bb = bounds(ga), bounds(gb)
    bo = ~((ba[rows, 2] < bb[rows, 0]) | (bb[rows, 2] < ba[rows, 0]) |
           (ba[rows, 3] < bb[rows, 1]) | (bb[rows, 3] < ba[rows, 1]))
    fast[rows] = True          # rejected rows are decided: False
    rows = rows[bo]
    if len(rows) == 0:
        return fast, res
    nrows = len(rows)
    # rect×rect short-circuit: both sides exact axis-aligned rectangles
    # and (post-filter) overlapping bboxes → True, no expansion
    rect_pair = (_rect_rows(ga, ba) & _rect_rows(gb, bb))[rows]
    res[rows[rect_pair]] = True
    if rect_pair.all():
        return fast, res
    live = ~rect_pair
    a0, a1, ta_ = _row_segments(ga, rows)
    b0, b1, tb_ = _row_segments(gb, rows)
    cnt_a_full = np.bincount(ta_, minlength=nrows)
    cnt_b_full = np.bincount(tb_, minlength=nrows)
    cnt_a = np.where(live, cnt_a_full, 0)
    cnt_b = np.where(live, cnt_b_full, 0)
    # overflow-prone rows keep the per-pair path
    big = (cnt_a.astype(np.int64) * cnt_b) > _FAST_PAIR_CAP
    if big.any():
        fast[rows[big]] = False
    # convex×convex SAT (r12, VERDICT #3): single-ring convex pairs
    # decide with (A-edges × B-verts) + (B-edges × A-verts) sign work —
    # ~4 flops per combo vs ~20 for the generic segment-hit expansion,
    # and no follow-up containment passes. A pair whose deciding margin
    # falls inside the floating-point envelope stays on the generic
    # exact path, so boundary semantics are unchanged (buffered points,
    # convex hulls, envelopes and MBCs are the dominant real polygon
    # classes this catches — 64-gon candidate refine ran at 0.05M
    # pairs/s through the segment expansion).
    sat_true = np.zeros(nrows, dtype=bool)
    oka, sgna = _sat_rows(ga, rows)
    okb, sgnb = _sat_rows(gb, rows)
    sat_elig = live & ~big & oka & okb
    if sat_elig.any():
        bm = np.maximum(np.abs(ba[rows]).max(axis=1),
                        np.abs(bb[rows]).max(axis=1))
        ext = np.maximum(ba[rows, 2] - ba[rows, 0],
                         bb[rows, 2] - bb[rows, 0])
        ext = np.maximum(ext, np.maximum(ba[rows, 3] - ba[rows, 1],
                                         bb[rows, 3] - bb[rows, 1]))
        tol = 1e-14 * (1.0 + ext) * (1.0 + bm) + _EPS
        linA = _sat_lin(a0, a1, ta_, sgna)
        linB = _sat_lin(b0, b1, tb_, sgnb)
        # stage 1 — deep-overlap probe: the partner's bbox CENTER
        # strictly inside decides True at (edges × 1) cost. r12 gated
        # the probe on ring size (median > 24) because its fixed
        # machinery wasn't worth ~8-vertex rings — which left dense-hit
        # small-ring ensembles paying BOTH full SAT directions for
        # every positive pair (0.09M pairs/s at 89% hits, VERDICT r12
        # #6). r13 gates PER ROW on bbox-overlap fraction instead:
        # pairs whose bbox intersection covers > 35% of the smaller
        # bbox are overwhelmingly deep hits the probe decides at 1/v of
        # the combo cost, while sparse ensembles skip the probe almost
        # entirely (overlap fraction is already computed from the
        # bounds in hand). Big rings keep the always-probe behavior.
        deep = np.zeros(nrows, dtype=bool)
        ox = np.maximum(np.minimum(ba[rows, 2], bb[rows, 2]) -
                        np.maximum(ba[rows, 0], bb[rows, 0]), 0.0)
        oy = np.maximum(np.minimum(ba[rows, 3], bb[rows, 3]) -
                        np.maximum(ba[rows, 1], bb[rows, 1]), 0.0)
        aa_ = (ba[rows, 2] - ba[rows, 0]) * (ba[rows, 3] - ba[rows, 1])
        ab_ = (bb[rows, 2] - bb[rows, 0]) * (bb[rows, 3] - bb[rows, 1])
        frac = (ox * oy) / np.maximum(np.minimum(aa_, ab_), 1e-300)
        szs = cnt_a_full[sat_elig] + cnt_b_full[sat_elig]
        big_rings = bool(len(szs)) and float(np.median(szs)) > 24
        probe_sel = sat_elig if big_rings else sat_elig & (frac > 0.35)
        if probe_sel.any():
            cbx = (bb[rows, 0] + bb[rows, 2]) * 0.5
            cby = (bb[rows, 1] + bb[rows, 3]) * 0.5
            cax = (ba[rows, 0] + ba[rows, 2]) * 0.5
            cay = (ba[rows, 1] + ba[rows, 3]) * 0.5
            inA = _sat_center_probe(linA, ta_, cnt_a_full, cbx, cby,
                                    probe_sel, nrows) > tol
            inB = _sat_center_probe(linB, tb_, cnt_b_full, cax, cay,
                                    probe_sel & ~inA, nrows) > tol
            deep = probe_sel & (inA | inB)
        # stage 2 — full SAT, direction A; robust separation decides
        # False without running direction B. r13: a single-ring closed
        # polygon's segment STARTS (a0/b0) are exactly its unique
        # vertex set, so the partner-vertex arrays are the segment
        # arrays already in hand — the two _row_vertices passes (and
        # their bincounts) were pure duplication. Non-SAT rows have
        # different seg/vert counts, but they are never selected here.
        rem = sat_elig & ~deep
        bestA = _sat_best(linA, ta_, cnt_a_full, b0[:, 0], b0[:, 1],
                          cnt_b_full, rem, nrows)
        sepA = rem & (bestA < -tol)
        rem2 = rem & ~sepA
        bestB = _sat_best(linB, tb_, cnt_b_full, a0[:, 0], a0[:, 1],
                          cnt_a_full, rem2, nrows)
        best = np.minimum(bestA, bestB)
        dec2 = rem2 & np.isfinite(best) & (np.abs(best) > tol)
        dec = deep | sepA | dec2
        sat_true = deep | (dec2 & (best > 0))
        live = live & ~dec
        cnt_a = np.where(live, cnt_a_full, 0)
        cnt_b = np.where(live, cnt_b_full, 0)
    hit = np.zeros(nrows, dtype=bool)
    # offsets index the concatenated segment arrays → FULL counts
    off_a = np.concatenate([[0], np.cumsum(cnt_a_full)])[:-1]
    off_b = np.concatenate([[0], np.cumsum(cnt_b_full)])[:-1]
    cz = np.where(big, 0, cnt_a)        # zero out big rows' expansion
    czb = np.where(big, 0, cnt_b)
    for lo, hi in _cross_chunks(cz, czb):
        ia, ib, row = _expand_pairs(cz, czb, lo, hi, off_a, off_b)
        if len(row) == 0:
            continue
        hit[row[_seg_pairs_hit(a0[ia], a1[ia], b0[ib], b1[ib])]] = True
    # containment: only live rows not yet hit, only polygonal sides
    rem = ~hit & ~big & live
    if rem.any():
        pa_poly = np.isin(ga.types[rows], (GT_POLYGON, GT_MULTIPOLYGON))
        pb_poly = np.isin(gb.types[rows], (GT_POLYGON, GT_MULTIPOLYGON))
        va, tva = _row_vertices(ga, rows)
        vb, tvb = _row_vertices(gb, rows)
        cva = np.bincount(tva, minlength=nrows)
        cvb = np.bincount(tvb, minlength=nrows)
        sel = rem & pa_poly
        if sel.any():   # B's vertices inside-or-on polygon A
            cls = _vec_classify_points(vb[:, 0], vb[:, 1], a0, a1,
                                       cvb, cnt_a_full, sel)
            hit |= np.bincount(tvb[cls > 0], minlength=nrows) > 0
        sel = rem & pb_poly & ~hit
        if sel.any():   # A's vertices inside-or-on polygon B
            cls = _vec_classify_points(va[:, 0], va[:, 1], b0, b1,
                                       cva, cnt_b_full, sel)
            hit |= np.bincount(tva[cls > 0], minlength=nrows) > 0
    res[rows[~big]] = hit[~big] | rect_pair[~big] | sat_true[~big]
    return fast, res


def _vec_vertex_seg_min(vx, vy, v_tgt, s0, s1, s_tgt, cnt_v_full,
                        cnt_s_full, sel, nrows):
    """Per selected row: MIN distance from the row's vertex set to the
    row's partner segment set (chunked ragged expansion, same machinery
    as the containment pass). Returns float64[nrows], inf where
    unselected/empty."""
    out = np.full(nrows, np.inf)
    off_s = np.concatenate([[0], np.cumsum(cnt_s_full)])[:-1]
    off_v = np.concatenate([[0], np.cumsum(cnt_v_full)])[:-1]
    cnt_s = np.where(sel, cnt_s_full, 0)
    cnt_v = np.where(sel, cnt_v_full, 0)
    for lo, hi in _cross_chunks(cnt_s, cnt_v):
        isg, iv, row = _expand_pairs(cnt_s, cnt_v, lo, hi, off_s, off_v)
        if len(row) == 0:
            continue
        a = s0[isg]
        ab = s1[isg] - a
        den = (ab * ab).sum(-1)
        px = vx[iv] - a[:, 0]
        py = vy[iv] - a[:, 1]
        t = np.clip((px * ab[:, 0] + py * ab[:, 1])
                    / np.where(den == 0, 1.0, den), 0, 1)
        dx = px - t * ab[:, 0]
        dy = py - t * ab[:, 1]
        d = np.hypot(dx, dy)
        np.minimum.at(out, row, d)
    return out


def _pt_box_gap(px, py, bx, t):
    """Per-element lower bound: distance from point (px,py) to its
    row's partner bbox bx[t] (0 inside)."""
    gx = np.maximum(np.maximum(bx[t, 0] - px, px - bx[t, 2]), 0.0)
    gy = np.maximum(np.maximum(bx[t, 1] - py, py - bx[t, 3]), 0.0)
    return np.hypot(gx, gy)


def _seg_box_gap(s0, s1, bx, t):
    """Per-element lower bound: distance from segment (s0,s1) bbox to
    its row's partner bbox bx[t]."""
    sx0 = np.minimum(s0[:, 0], s1[:, 0])
    sx1 = np.maximum(s0[:, 0], s1[:, 0])
    sy0 = np.minimum(s0[:, 1], s1[:, 1])
    sy1 = np.maximum(s0[:, 1], s1[:, 1])
    gx = np.maximum(np.maximum(bx[t, 0] - sx1, sx0 - bx[t, 2]), 0.0)
    gy = np.maximum(np.maximum(bx[t, 1] - sy1, sy0 - bx[t, 3]), 0.0)
    return np.hypot(gx, gy)


def _poly_line_distance_fast(ga, gb):
    """(fast_mask, results) for lineal/polygonal pairwise distance —
    the sjoin_nearest / dwithin refine hot path, vectorized across the
    batch (r11: the per-pair loop ran box-pair distance at 0.007M
    pairs/s). Semantics match _pair_distance: 0 when the pair
    intersects, else the min vertex-to-partner-segment distance both
    ways (non-crossing segment pairs attain their minimum at an
    endpoint, and clamped point-segment distance subsumes
    vertex-vertex).

    r12 (VERDICT #2) — two prunes ahead of the vertex×segment cross
    product, which previously ran unpruned both ways (box pairs:
    0.05M pairs/s):
    - rect×rect closed form: axis-aligned rectangles are interval
      products, so distance == hypot of the per-axis bbox gaps (0 when
      overlapping) — exact, no expansion at all;
    - representative upper bound + bbox lower-bound pruning: an
      attained first-vertex→partner-segments distance bounds the true
      distance from above, so any vertex/segment whose bbox gap to the
      partner exceeds it cannot host the minimum and is dropped before
      expansion. The bound carries a 1e-9 relative slack so ulp-level
      rounding in the hypot lower bounds can never drop the attaining
      element — the surviving set always contains it, keeping the min
      bit-identical to the unpruned pass."""
    n = len(ga)
    res = np.full(n, np.nan)
    elig = _pairwise_edge_predicate_rows(ga, gb) & \
        ~(ga.is_missing() | ga.is_empty() | gb.is_missing() | gb.is_empty())
    if not elig.any():
        return np.zeros(n, dtype=bool), res
    ba, bb = bounds(ga), bounds(gb)
    rect = elig & _rect_rows(ga, ba) & _rect_rows(gb, bb)
    fastm = rect.copy()
    if rect.any():
        rr_ = np.nonzero(rect)[0]
        gx = np.maximum(np.maximum(bb[rr_, 0] - ba[rr_, 2],
                                   ba[rr_, 0] - bb[rr_, 2]), 0.0)
        gy = np.maximum(np.maximum(bb[rr_, 1] - ba[rr_, 3],
                                   ba[rr_, 1] - bb[rr_, 3]), 0.0)
        res[rr_] = np.hypot(gx, gy)
    todo = elig & ~rect
    if not todo.any():
        return fastm, res
    f_int, r_int = _poly_line_intersects_fast(ga, gb)
    sub = todo & f_int           # big rows already excluded by f_int
    fastm |= sub
    rows = np.nonzero(sub)[0]
    if len(rows) == 0:
        return fastm, res
    res[rows[r_int[rows]]] = 0.0
    need = rows[~r_int[rows]]
    if len(need):
        a0, a1, ta_ = _row_segments(ga, need)
        b0, b1, tb_ = _row_segments(gb, need)
        va, tva = _row_vertices(ga, need)
        vb, tvb = _row_vertices(gb, need)
        nn = len(need)
        bna, bnb = ba[need], bb[need]
        cnt_sa = np.bincount(ta_, minlength=nn)
        cnt_sb = np.bincount(tb_, minlength=nn)
        cva = np.bincount(tva, minlength=nn)
        cvb = np.bincount(tvb, minlength=nn)
        all_sel = np.ones(nn, dtype=bool)
        # prune rows with separated bboxes (touching/overlapping bboxes
        # — the sjoin-refine population — can't discriminate elements:
        # every lower bound is 0, so the bound passes would be pure
        # overhead there)
        gpx = np.maximum(np.maximum(bnb[:, 0] - bna[:, 2],
                                    bna[:, 0] - bnb[:, 2]), 0.0)
        gpy = np.maximum(np.maximum(bnb[:, 1] - bna[:, 3],
                                    bna[:, 1] - bnb[:, 3]), 0.0)
        # separating direction û between bbox centers: d(p,q) >= (q-p)·û
        # for ANY unit û, so per-element projections give lower bounds
        # that DO discriminate facing from far boundary elements —
        # axis-aligned bbox gaps alone cannot (every element of a
        # small-extent far pair has gap ≈ the pair distance)
        ux = (bnb[:, 0] + bnb[:, 2]) - (bna[:, 0] + bna[:, 2])
        uy = (bnb[:, 1] + bnb[:, 3]) - (bna[:, 1] + bna[:, 3])
        ulen = np.hypot(ux, uy)
        prow = ((gpx > 0) | (gpy > 0)) & (ulen > 0)
        ub = np.full(nn, np.inf)
        if prow.any():
            un = np.where(ulen == 0, 1.0, ulen)
            ux, uy = ux / un, uy / un
            pva = va[:, 0] * ux[tva] + va[:, 1] * uy[tva]
            pvb = vb[:, 0] * ux[tvb] + vb[:, 1] * uy[tvb]
            pa_max = _group_reduce(pva, cva, np.maximum, -np.inf)
            pb_min = _group_reduce(pvb, cvb, np.minimum, np.inf)
            # representative = each side's FACING vertex (extreme
            # projection along û): its exact distance to all partner
            # segments is an attained upper bound within a boundary-
            # wiggle of the true distance
            ra_ = _group_argext(pva, tva, cva, nn, largest=True)
            rb_ = _group_argext(pvb, tvb, cvb, nn, largest=False)
            one = np.ones(nn, dtype=np.int64)
            u1 = _vec_vertex_seg_min(
                va[ra_, 0], va[ra_, 1], np.arange(nn),
                b0, b1, tb_, one, cnt_sb, prow, nn)
            u2 = _vec_vertex_seg_min(
                vb[rb_, 0], vb[rb_, 1], np.arange(nn),
                a0, a1, ta_, one, cnt_sa, prow, nn)
            ub = np.minimum(u1, u2)
            ubs = ub * (1 + 1e-9)        # inf for unpruned rows: keep all
            # keep an element iff BOTH its bbox-gap and its projection
            # lower bound admit the upper bound
            kva = (_pt_box_gap(va[:, 0], va[:, 1], bnb, tva) <= ubs[tva]) \
                & (pb_min[tva] - pva <= ubs[tva])
            kvb = (_pt_box_gap(vb[:, 0], vb[:, 1], bna, tvb) <= ubs[tvb]) \
                & (pvb - pa_max[tvb] <= ubs[tvb])
            psa = np.maximum(a0[:, 0] * ux[ta_] + a0[:, 1] * uy[ta_],
                             a1[:, 0] * ux[ta_] + a1[:, 1] * uy[ta_])
            psb = np.minimum(b0[:, 0] * ux[tb_] + b0[:, 1] * uy[tb_],
                             b1[:, 0] * ux[tb_] + b1[:, 1] * uy[tb_])
            ksa = (_seg_box_gap(a0, a1, bnb, ta_) <= ubs[ta_]) \
                & (pb_min[ta_] - psa <= ubs[ta_])
            ksb = (_seg_box_gap(b0, b1, bna, tb_) <= ubs[tb_]) \
                & (psb - pa_max[tb_] <= ubs[tb_])
            va, tva = va[kva], tva[kva]
            vb, tvb = vb[kvb], tvb[kvb]
            a0, a1, ta_ = a0[ksa], a1[ksa], ta_[ksa]
            b0, b1, tb_ = b0[ksb], b1[ksb], tb_[ksb]
            cnt_sa = np.bincount(ta_, minlength=nn)
            cnt_sb = np.bincount(tb_, minlength=nn)
            cva = np.bincount(tva, minlength=nn)
            cvb = np.bincount(tvb, minlength=nn)
        d1 = _vec_vertex_seg_min(va[:, 0], va[:, 1], tva, b0, b1, tb_,
                                 cva, cnt_sb, all_sel, nn)
        d2 = _vec_vertex_seg_min(vb[:, 0], vb[:, 1], tvb, a0, a1, ta_,
                                 cvb, cnt_sa, all_sel, nn)
        res[need] = np.minimum(np.minimum(d1, d2), ub)
    return fastm, res


def _group_reduce(vals, cnt, op, init):
    """Per-group ufunc reduce over consecutive groups of sizes `cnt`
    (vals ordered by group). Empty groups get `init` — reduceat is fed
    only the non-empty groups' starts, whose spans are then exact."""
    out = np.full(len(cnt), init)
    nz = cnt > 0
    if nz.any():
        starts = np.concatenate([[0], np.cumsum(cnt)])[:-1]
        out[nz] = op.reduceat(vals, starts[nz])
    return out


def _group_argext(vals, tgt, cnt, n, largest):
    """Index (into vals) of each group's max (largest=True) or min
    element; groups ordered/sized by tgt/cnt. Empty groups return 0 —
    callers gate on a selection that implies non-empty groups."""
    order = np.lexsort((vals if largest else -vals, tgt))
    ends = np.cumsum(cnt)
    out = np.zeros(n, dtype=np.int64)
    nz = cnt > 0
    out[nz] = order[ends[nz] - 1]
    return out


def _pip_predicate(ga, gb, interior_only):
    """(fast_mask, results) for the point-in-polygon rows of a predicate;
    rows outside the mask need the generic per-pair path."""
    out = np.zeros(len(ga), dtype=bool)
    fast = np.zeros(len(ga), dtype=bool)
    r1 = np.nonzero(_pip_rows(ga, gb))[0]
    if len(r1):
        rows, cls = _pairwise_point_in_poly(ga, gb, r1)
        out[rows] = cls == 2 if interior_only else cls > 0
        fast[rows] = True
    return fast, out


def intersects(ga, gb):
    fast, fres = _pip_predicate(ga, gb, False)
    if not fast.all():
        f2, r2 = _pip_predicate(gb, ga, False)
        swap = f2 & ~fast
        fres[swap] = r2[swap]
        fast |= swap
    if not fast.all():
        # lineal/polygonal pairs: vectorized edge + containment path
        # (r11 — the per-pair loop was the box×box stress bottleneck)
        f3, r3 = _poly_line_intersects_fast(ga, gb)
        take = f3 & ~fast
        fres[take] = r3[take]
        fast |= take
    out = _pairwise(ga, gb, _pair_intersects, bool, False, skip=fast)
    out[fast] = fres[fast]
    return out


def disjoint(ga, gb):
    out = ~intersects(ga, gb)
    # GEOS: disjoint with empty → True
    return out


def _covers_screen(ga, gb, require_interior):
    """Vectorized (decided_mask, results) screen for polygonal-A
    covers/contains over lineal/polygonal B (r11 — the per-pair path
    ran box pairs at 0.002M pairs/s and an sjoin refine feeds it
    mostly-False candidates):
    - bbox(B) escaping bbox(A) → False (covers implies containment);
    - any B probe point (vertices + edge midpoints) strictly exterior
      to A (global even-odd) → False;
    - any proper ring-edge crossing → False;
    - A an exact axis-aligned rectangle → decided EXACTLY (convexity
      makes the vertex probes sufficient; contains additionally needs
      one probe strictly inside — a B edge spanning two different
      rectangle edges always yields one);
    - anything else that survives stays UNDECIDED and takes the exact
      per-pair path (hole pokes need the boolean difference)."""
    n = len(ga)
    decided = np.zeros(n, dtype=bool)
    res = np.zeros(n, dtype=bool)
    lp = (GT_LINESTRING, GT_MULTILINESTRING, GT_POLYGON, GT_MULTIPOLYGON)
    elig = (np.isin(ga.types, (GT_POLYGON, GT_MULTIPOLYGON))
            & (ga.coords_per_geom() > 0)
            & np.isin(gb.types, lp) & (gb.coords_per_geom() > 0)
            & ~(ga.is_missing() | ga.is_empty()
                | gb.is_missing() | gb.is_empty()))
    if not elig.any():
        return decided, res
    rows = np.nonzero(elig)[0]
    ba, bbx = bounds(ga), bounds(gb)
    inside_bb = ((bbx[rows, 0] >= ba[rows, 0] - _EPS) &
                 (bbx[rows, 1] >= ba[rows, 1] - _EPS) &
                 (bbx[rows, 2] <= ba[rows, 2] + _EPS) &
                 (bbx[rows, 3] <= ba[rows, 3] + _EPS))
    decided[rows[~inside_bb]] = True          # bbox escape → False
    rows = rows[inside_bb]
    if len(rows) == 0:
        return decided, res
    nn = len(rows)
    a0, a1, ta_ = _row_segments(ga, rows)
    b0, b1, tb_ = _row_segments(gb, rows)
    vb, tvb = _row_vertices(gb, rows)
    cnt_sa = np.bincount(ta_, minlength=nn)
    cnt_sb = np.bincount(tb_, minlength=nn)
    big = (cnt_sa.astype(np.int64) * cnt_sb) > _FAST_PAIR_CAP
    live = ~big
    # probes: B vertices + B edge midpoints (same set _pair_covers
    # samples), classified against A
    mid = (b0 + b1) * 0.5
    px = np.concatenate([vb[:, 0], mid[:, 0]])
    py = np.concatenate([vb[:, 1], mid[:, 1]])
    ptgt = np.concatenate([tvb, tb_])
    order = np.argsort(ptgt, kind="stable")
    px, py, ptgt = px[order], py[order], ptgt[order]
    cnt_p = np.bincount(ptgt, minlength=nn)
    cls = _vec_classify_points(px, py, a0, a1, cnt_p, cnt_sa, live)
    out_rows = np.zeros(nn, dtype=bool)
    oz = ptgt[cls == 0]
    if len(oz):
        out_rows = np.bincount(oz, minlength=nn) > 0
    out_rows &= live
    decided[rows[out_rows]] = True            # probe escaped → False
    live &= ~out_rows
    # proper crossings among still-live rows
    if live.any():
        proper = np.zeros(nn, dtype=bool)
        ca = np.where(live, cnt_sa, 0)
        cb = np.where(live, cnt_sb, 0)
        off_a = np.concatenate([[0], np.cumsum(cnt_sa)])[:-1]
        off_b = np.concatenate([[0], np.cumsum(cnt_sb)])[:-1]
        for lo, hi in _cross_chunks(ca, cb):
            ia, ib, row = _expand_pairs(ca, cb, lo, hi, off_a, off_b)
            if len(row) == 0:
                continue
            proper[row[_seg_pairs_proper(a0[ia], a1[ia], b0[ib],
                                         b1[ib])]] = True
        decided[rows[proper & live]] = True   # proper cross → False
        live &= ~proper
    # rectangle-A rows decide exactly
    if live.any():
        rect = _rect_rows(ga, ba)[rows] & live
        if rect.any():
            if require_interior:
                si = ptgt[cls == 2]
                strict = (np.bincount(si, minlength=nn) > 0) \
                    if len(si) else np.zeros(nn, dtype=bool)
                # a polygonal B with positive area inside closure(A)
                # always meets interior(A) — the boundary has empty
                # interior — so contains(A, A) itself decides True even
                # though every probe sits ON the boundary
                areab = area(gb)
                polyb = np.isin(gb.types, (GT_POLYGON, GT_MULTIPOLYGON))
                ok = strict | (polyb[rows] & (areab[rows] > 0))
                res[rows[rect]] = ok[rect]
            else:
                res[rows[rect]] = True
            decided[rows[rect]] = True
    return decided, res


def contains(ga, gb):
    fast, fres = _pip_predicate(gb, ga, True)  # point b inside polygon a
    if not fast.all():
        f2, r2 = _covers_screen(ga, gb, True)
        take = f2 & ~fast
        fres[take] = r2[take]
        fast |= take
    out = _pairwise(ga, gb,
                    lambda a, i, b, j: _pair_covers_dispatch(a, i, b, j,
                                                             True),
                    bool, False, skip=fast)
    out[fast] = fres[fast]
    return out


def within(ga, gb):
    return contains(gb, ga)


def _pointwise_boundary(row):
    """Union of child boundaries per dimension class — the pointwise
    boundary set of any row, incl. GEOMETRYCOLLECTION (where GEOS
    leaves boundary() undefined and ours returns EMPTY)."""
    parts = []
    for keep in ("polygon", "line"):
        sub = resolve_collections(row, keep)
        if len(sub) and not bool(sub.is_empty()[0]):
            bd = boundary(sub)
            if len(bd) and not bool(bd.is_empty()[0]):
                parts.append(bd)
    if not parts:
        bb_ = GeometryBuilder()
        bb_.append_empty(GT_GEOMETRYCOLLECTION)
        return bb_.finish()
    if len(parts) == 1:
        return parts[0]
    return union(parts[0], parts[1])


def _covers_pointwise(a, i, b, j) -> bool:
    """covers with GEOMETRYCOLLECTION operand(s): RelateNG's pointwise
    semantics — closure(A) ⊇ B ⟺ B − A = ∅.  The GC-aware difference
    handles joint coverage by multiple children (a line covered half by
    one polygon child and half by another), which per-child pair tests
    cannot see.  Empty B is covered by nothing (GEOS convention)."""
    if bool(b.is_empty()[j]):
        return False
    return bool(difference(b.take([j]), a.take([i])).is_empty()[0])


def _pair_covers_dispatch(a, i, b, j, require_interior):
    if (int(a.types[i]) == GT_GEOMETRYCOLLECTION
            or int(b.types[j]) == GT_GEOMETRYCOLLECTION):
        if not _covers_pointwise(a, i, b, j):
            return False
        if not require_interior:
            return True
        # contains additionally needs interior-interior contact: some
        # part of B must lie OFF A's boundary (pointwise boundary —
        # plain boundary() of a GC row is EMPTY)
        bd = _pointwise_boundary(a.take([i]))
        return not bool(difference(b.take([j]), bd).is_empty()[0])
    return _pair_covers(a, i, b, j, require_interior)


def covers(ga, gb):
    fast, fres = _pip_predicate(gb, ga, False)
    if not fast.all():
        f2, r2 = _covers_screen(ga, gb, False)
        take = f2 & ~fast
        fres[take] = r2[take]
        fast |= take
    out = _pairwise(ga, gb,
                    lambda a, i, b, j: _pair_covers_dispatch(a, i, b, j,
                                                             False),
                    bool, False, skip=fast)
    out[fast] = fres[fast]
    return out


def covered_by(ga, gb):
    return covers(gb, ga)


def _pairwise_point_dist(pts_ga, gb, rows):
    """Vectorized rowwise distance from pts_ga[row] (1-coord POINT) to
    gb[row] (any geometry), for `rows`: one vertex gather + one segment
    gather + one point-in-polygon pass — no per-row Python loop. Matches
    _pair_distance bit-for-bit (same np.hypot / clamped-projection math).
    This is the dwithin/nearest grid-join refine hot path."""
    rows = np.asarray(rows, dtype=np.int64)
    n = len(rows)
    if n == 0:
        return np.zeros(0)
    pos_of_row = np.full(len(gb), -1, dtype=np.int64)
    pos_of_row[rows] = np.arange(n)
    poff = pts_ga.coord_offsets_per_geom()
    px = pts_ga.coords[poff[rows], 0]
    py = pts_ga.coords[poff[rows], 1]
    best = np.full(n, np.inf)
    # vertex distances (covers point/multipoint gb rows entirely)
    tgtv = pos_of_row[gb.coord_geom_index()]
    selv = np.nonzero(tgtv >= 0)[0]
    tv = tgtv[selv]
    np.minimum.at(best, tv, np.hypot(gb.coords[selv, 0] - px[tv],
                                     gb.coords[selv, 1] - py[tv]))
    # segment distances (line/polygon rows): clamped projection
    s0, s1, tgt = _row_segments(gb, rows)
    if len(tgt):
        x0, y0 = s0[:, 0], s0[:, 1]
        dx, dy = s1[:, 0] - x0, s1[:, 1] - y0
        X, Y = px[tgt], py[tgt]
        denom = dx * dx + dy * dy
        t = np.clip(((X - x0) * dx + (Y - y0) * dy) /
                    np.where(denom == 0, 1.0, denom), 0, 1)
        np.minimum.at(best, tgt,
                      np.hypot(X - (x0 + t * dx), Y - (y0 + t * dy)))
    # interior/boundary containment → 0 (the _pair_intersects short-cut)
    poly = rows[(gb.types[rows] == GT_POLYGON) |
                (gb.types[rows] == GT_MULTIPOLYGON)]
    if len(poly):
        rr, cls = _pairwise_point_in_poly(pts_ga, gb, poly)
        best[pos_of_row[rr[cls > 0]]] = 0.0
    empty = (pts_ga.coords_per_geom()[rows] == 0) |         (gb.coords_per_geom()[rows] == 0)
    best[empty] = np.nan
    return best


def distance(ga, gb):
    # all-points fast path; sqrt(dx²+dy²) (not hypot) so results are
    # bit-identical to the plain-SQL formula used by oracle queries
    if ((ga.types == GT_POINT).all() and (gb.types == GT_POINT).all()
            and ga.n_coords == len(ga) and gb.n_coords == len(gb)):
        d = ga.coords - gb.coords
        return np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1])
    # vectorized point-vs-geometry rows (either orientation); remaining
    # mixed rows take the per-pair path
    apt = (ga.types == GT_POINT) & (ga.coords_per_geom() == 1)
    bpt = (gb.types == GT_POINT) & (gb.coords_per_geom() == 1)
    rows_ab = np.nonzero(apt)[0]          # point vs anything (incl. point:
    rows_ba = np.nonzero(bpt & ~apt)[0]   # vertex gather = pair-path hypot)
    fast = np.zeros(len(ga), dtype=bool)
    out = np.full(len(ga), np.nan)
    if len(rows_ab):
        out[rows_ab] = _pairwise_point_dist(ga, gb, rows_ab)
        fast[rows_ab] = True
    if len(rows_ba):
        out[rows_ba] = _pairwise_point_dist(gb, ga, rows_ba)
        fast[rows_ba] = True
    if fast.all():
        return out
    # lineal/polygonal pairs: vectorized intersects + vertex-to-segment
    # min (r11 — per-pair box distance ran at 0.007M pairs/s)
    f3, r3 = _poly_line_distance_fast(ga, gb)
    take = f3 & ~fast
    out[take] = r3[take]
    fast |= take
    if fast.all():
        return out
    rest = _pairwise(ga, gb, _pair_distance, np.float64, np.nan, skip=fast)
    out[~fast] = rest[~fast]
    return out


def dwithin(ga, gb, dist):
    return distance(ga, gb) <= dist


def _line_poly_interior_exterior(line_ga, i, poly_ga, j):
    """(has_interior, has_exterior): whether the LINE's interior has a
    positive-length piece strictly inside / strictly outside the
    polygon.  EXACT — split every line segment at every ring-edge
    crossing, classify piece midpoints (each piece is uniformly in /
    out / on-boundary).  Replaces the sampled vertex/mid/quarter-point
    probes, which missed short corner chords (r8 DE-9IM consistency
    fuzz find: a line entering through a corner region for 3%% of its
    length had no sample point inside)."""
    segs = _geom_segments(line_ga, i)
    rings = _geom_rings_closed(poly_ga, j)
    if len(segs) == 0 or not rings:
        return False, bool(len(segs))
    E0, E1 = _flatten_edges(rings)
    esegs = np.stack([E0, E1], axis=1)
    has_int = has_ext = False
    for s in segs:
        for p in _split_segment_by_edges(s[0], s[1], E0, E1):
            mid = (p[0] + p[1]) * 0.5
            if _point_seg_dist(mid.reshape(1, 2), esegs)[0] <= _EPS:
                continue                      # boundary-collinear piece
            if points_in_rings(mid[:1], mid[1:], rings)[0] > 0:
                has_int = True
            else:
                has_ext = True
            if has_int and has_ext:
                return True, True
    return has_int, has_ext


def _lines_interior_contacts(a, i, b, j):
    """(point_contact, length_contact): does interior(A) ∩ interior(B)
    contain an isolated point / a positive-length collinear piece?
    Exact — proper crossings, collinear overlaps, and non-endpoint
    vertex-on-interior contacts (a line's boundary is its mod-2
    endpoint set; everything else is interior).  r8 DE-9IM fuzz find:
    touches() treated a 1-dimensional collinear overlap as boundary
    contact, and crosses() missed interior vertex contacts."""
    sa, sb = _geom_segments(a, i), _geom_segments(b, j)
    if len(sa) == 0 or len(sb) == 0:
        return False, False
    _, proper = _segs_intersect_flags(sa, sb)
    ov_segs, ov_pts = _collinear_overlaps(sa[:, 0], sa[:, 1],
                                          sb[:, 0], sb[:, 1])
    has_len = bool(ov_segs)
    if proper and has_len:
        return True, True
    ea, eb = _line_endpoints(a, i), _line_endpoints(b, j)

    def interior_of(p, ends):
        return not len(ends) or \
            bool((np.abs(np.asarray(p)[None] - ends).max(-1) > _EPS).all())

    has_pt = bool(proper)
    if not has_pt:
        for p in (list(ov_pts) +
                  _edge_cross_points(sa[:, 0], sa[:, 1],
                                     sb[:, 0], sb[:, 1])):
            if interior_of(p, ea) and interior_of(p, eb):
                has_pt = True
                break
    return has_pt, has_len


def _rect_touch_overlap(ga, gb):
    """(mask, touches, overlaps) decided EXACTLY for rect×rect rows:
    rectangles are interval products, so interiors overlap iff both
    axis overlaps are positive, touch iff they intersect with a
    degenerate axis, and A\\B nonempty iff closed bbox containment
    fails (r11 — the per-pair touches/overlaps loop ran box pairs at
    0.005/0.002M pairs/s)."""
    ba, bb = bounds(ga), bounds(gb)
    m = _rect_rows(ga, ba) & _rect_rows(gb, bb)
    if not m.any():
        z = np.zeros(len(ga), dtype=bool)
        return m, z, z
    ow = np.minimum(ba[:, 2], bb[:, 2]) - np.maximum(ba[:, 0], bb[:, 0])
    oh = np.minimum(ba[:, 3], bb[:, 3]) - np.maximum(ba[:, 1], bb[:, 1])
    inter = (ow >= 0) & (oh >= 0)
    touch = inter & ((ow == 0) | (oh == 0))
    a_in_b = (ba[:, 0] >= bb[:, 0]) & (ba[:, 1] >= bb[:, 1]) & \
        (ba[:, 2] <= bb[:, 2]) & (ba[:, 3] <= bb[:, 3])
    b_in_a = (bb[:, 0] >= ba[:, 0]) & (bb[:, 1] >= ba[:, 1]) & \
        (bb[:, 2] <= ba[:, 2]) & (bb[:, 3] <= ba[:, 3])
    over = (ow > 0) & (oh > 0) & ~a_in_b & ~b_in_a
    return m, touch & m, over & m



def touches(ga, gb):
    # vectorized reject (r11): touches implies intersects, and
    # the lineal/polygonal intersects fast path decides most
    # sjoin candidates without the per-pair loop
    _f, _r = _poly_line_intersects_fast(ga, gb)
    _skip = _f & ~_r
    _rm, _rt, _ro = _rect_touch_overlap(ga, gb)
    _skip |= _rm
    def f(a, i, b, j):
        if not _pair_intersects(a, i, b, j):
            return False
        if (int(a.types[i]) == GT_GEOMETRYCOLLECTION
                or int(b.types[j]) == GT_GEOMETRYCOLLECTION):
            # pointwise matrix: boundary contact without interior contact
            m = _relate_gc_pointwise(a, i, b, j)
            return m[0] == "F" and (m[1] != "F" or m[3] != "F"
                                    or m[4] != "F")
        sa, sb = _geom_segments(a, i), _geom_segments(b, j)
        _, proper = _segs_intersect_flags(sa, sb)
        if proper:
            return False
        ta0, tb0 = int(a.types[i]), int(b.types[j])
        if ta0 in LINE_TYPES and tb0 in LINE_TYPES:
            has_pt, has_len = _lines_interior_contacts(a, i, b, j)
            return not (has_pt or has_len)
        ta, tb = int(a.types[i]), int(b.types[j])
        if ta in POINT_TYPES and tb in POINT_TYPES:
            # a point's boundary is empty: any point/point intersection
            # is interior-interior, so pure-point pairs never touch
            return False
        pa, pb = _geom_points(a, i), _geom_points(b, j)
        if ta in POLYGON_TYPES:
            if tb in LINE_TYPES:
                if _line_poly_interior_exterior(b, j, a, i)[0]:
                    return False
            else:
                test = pb if not len(sb) else \
                    np.concatenate([pb, sb.mean(axis=1)])
                if (points_in_geom(test[:, 0], test[:, 1], a, i)
                        == 2).any():
                    return False
        if tb in POLYGON_TYPES:
            if ta in LINE_TYPES:
                if _line_poly_interior_exterior(a, i, b, j)[0]:
                    return False
            else:
                test = pa if not len(sa) else \
                    np.concatenate([pa, sa.mean(axis=1)])
                if (points_in_geom(test[:, 0], test[:, 1], b, j)
                        == 2).any():
                    return False
        if ta in LINE_TYPES and tb in POINT_TYPES:
            ends = _line_endpoints(a, i)
            return bool(len(ends) and
                        (np.abs(pb[:, None] - ends[None]).max(-1) <= _EPS).any())
        if tb in LINE_TYPES and ta in POINT_TYPES:
            ends = _line_endpoints(b, j)
            return bool(len(ends) and
                        (np.abs(pa[:, None] - ends[None]).max(-1) <= _EPS).any())
        if ta in POLYGON_TYPES and tb in POLYGON_TYPES:
            # coincident/crossing-boundary pairs defeat the sampled
            # probes above: every vertex/midpoint can land ON the other
            # polygon's shell or HOLE boundary while the interiors
            # still overlap (r8 fuzz: two holed squares overlapping by
            # a hole-width stripe).  Exact: interiors intersect iff
            # area(A ∩ B) > 0 via the boolean kernel.
            inter_p = _mr.boolean_op(_geom_rings_closed(a, i),
                                     _geom_rings_closed(b, j),
                                     _mr.INTERSECTION)
            for poly in inter_p:
                a_ = abs(_mr._ring_signed_area(_mr._close(poly[0])))
                for hole in poly[1:]:
                    a_ -= abs(_mr._ring_signed_area(_mr._close(hole)))
                if a_ > 1e-12:
                    return False
        return True
    out = _pairwise(ga, gb, f, bool, False, skip=_skip)
    out[_rm] = _rt[_rm]
    return out


def crosses(ga, gb):
    # vectorized reject (r11): crosses implies intersects, and
    # the lineal/polygonal intersects fast path decides most
    # sjoin candidates without the per-pair loop
    _f, _r = _poly_line_intersects_fast(ga, gb)
    _skip = _f & ~_r
    def f(a, i, b, j):
        ta, tb = int(a.types[i]), int(b.types[j])
        if ta == GT_GEOMETRYCOLLECTION or tb == GT_GEOMETRYCOLLECTION:
            # pointwise matrix + GC max-child dimension rule
            def _d(g, k):
                t = int(g.types[k])
                if t in POINT_TYPES:
                    return 0
                if t in LINE_TYPES:
                    return 1
                if t in POLYGON_TYPES:
                    return 2
                dims = [0] + [2 if ct in POLYGON_TYPES else
                              1 if ct in LINE_TYPES else 0
                              for ct, _p in g.children_of(k)]
                return max(dims)
            da_, db_ = _d(a, i), _d(b, j)
            m = _relate_gc_pointwise(a, i, b, j)
            if da_ == db_ == 1:
                return m[0] == "0"
            if da_ < db_:
                return m[0] != "F" and m[2] != "F"
            if da_ > db_:
                return m[0] != "F" and m[6] != "F"
            return False
        if ta in LINE_TYPES and tb in LINE_TYPES:
            # DE-9IM 0********: interior contact exists and is purely
            # 0-dimensional (a collinear overlap makes dim(II)=1 →
            # overlaps, not crosses)
            has_pt, has_len = _lines_interior_contacts(a, i, b, j)
            return has_pt and not has_len
        if ta in LINE_TYPES and tb in POLYGON_TYPES:
            return _line_crosses_poly(a, i, b, j)
        if ta in POLYGON_TYPES and tb in LINE_TYPES:
            return _line_crosses_poly(b, j, a, i)
        if ta in POINT_TYPES and tb not in POINT_TYPES:
            return _multipoint_crosses(a, i, b, j)
        if tb in POINT_TYPES and ta not in POINT_TYPES:
            return _multipoint_crosses(b, j, a, i)
        return False
    return _pairwise(ga, gb, f, bool, False, skip=_skip)


def _line_crosses_poly(line_ga, i, poly_ga, j) -> bool:
    # DE-9IM T*T****** for dim(a) < dim(b): the line's interior must
    # meet BOTH the polygon's interior and its exterior — exact
    # split-based classification (see _line_poly_interior_exterior)
    has_int, has_ext = _line_poly_interior_exterior(line_ga, i,
                                                    poly_ga, j)
    return has_int and has_ext


def _multipoint_crosses(pt_ga, i, other, j) -> bool:
    pts = _geom_points(pt_ga, i)
    if len(pts) < 2:
        return False
    t = int(other.types[j])
    if t in POLYGON_TYPES:
        cls = points_in_geom(pts[:, 0], pts[:, 1], other, j)
        return bool((cls == 2).any() and (cls == 0).any())
    # a line's interior excludes its mod-2 boundary: a point on an
    # endpoint touches the line, it does not cross it
    on = _point_seg_dist(pts, _geom_segments(other, j)) <= _EPS
    ends = _line_endpoints(other, j)
    at_end = np.hypot(pts[:, None, 0] - ends[None, :, 0],
                      pts[:, None, 1] - ends[None, :, 1]) <= _EPS
    return bool((on & ~at_end.any(axis=1)).any() and (~on).any())


def overlaps(ga, gb):
    # vectorized reject (r11): overlaps implies intersects, and
    # the lineal/polygonal intersects fast path decides most
    # sjoin candidates without the per-pair loop
    _f, _r = _poly_line_intersects_fast(ga, gb)
    _skip = _f & ~_r
    _rm, _rt, _ro = _rect_touch_overlap(ga, gb)
    _skip |= _rm
    def f(a, i, b, j):
        ta, tb = int(a.types[i]), int(b.types[j])
        dim = {**{t: 0 for t in POINT_TYPES}, **{t: 1 for t in LINE_TYPES},
               **{t: 2 for t in POLYGON_TYPES}}
        if ta == GT_GEOMETRYCOLLECTION or tb == GT_GEOMETRYCOLLECTION:
            # GEOS RelateNG pointwise mixed-GC semantics (closes the
            # r5-documented deviation): overlaps requires equal GC
            # dimensions (max child dim), an interior-interior
            # intersection OF that dimension (dominant-dim children),
            # and NEITHER side pointwise-covering the other — so a
            # protruding lower-dim child (uncovered interior) now makes
            # a covered dominant part overlap rather than not.
            def _gcdim(g, k):
                t = int(g.types[k])
                if t != GT_GEOMETRYCOLLECTION:
                    return dim[t]
                return max((dim[ct] for ct, _ in g.children_of(k)
                            if ct in dim), default=0)
            dd = _gcdim(a, i)
            if dd != _gcdim(b, j):
                return False
            keep = {0: "point", 1: "line", 2: "polygon"}[dd]
            ra = resolve_collections(a.take([i]), keep) \
                if ta == GT_GEOMETRYCOLLECTION else a.take([i])
            rb = resolve_collections(b.take([j]), keep) \
                if tb == GT_GEOMETRYCOLLECTION else b.take([j])
            inter = intersection(ra, rb)
            if dd == 2:
                dim_ok = bool(np.nansum(area(inter)) > _EPS)
            elif dd == 1:
                dim_ok = bool(np.nansum(length(inter)) > _EPS)
            else:
                dim_ok = not bool(inter.is_empty()[0])
            if not dim_ok:
                return False
            return (not _covers_pointwise(a, i, b, j)
                    and not _covers_pointwise(b, j, a, i))
        if dim[ta] != dim[tb]:
            return False
        if not _pair_intersects(a, i, b, j):
            return False
        if _pair_covers(a, i, b, j, False) or _pair_covers(b, j, a, i, False):
            return False
        if dim[ta] == 2:
            sa, sb = _geom_segments(a, i), _geom_segments(b, j)
            _, proper = _segs_intersect_flags(sa, sb)
            if proper:
                return True
            pa, pb = _geom_points(a, i), _geom_points(b, j)
            if ((points_in_geom(pb[:, 0], pb[:, 1], a, i) == 2).any() or
                    (points_in_geom(pa[:, 0], pa[:, 1], b, j) == 2).any()):
                return True
            # aligned-edge case: boundaries only touch along shared edge
            # lines yet interiors still intersect (e.g. [0,10]² vs
            # [5,15]×[0,10]) — decide by positive intersection area
            inter = intersection(a.take([i]), b.take([j]))
            return bool(area(inter)[0] > _EPS)
        if dim[ta] == 0:
            pa, pb = _geom_points(a, i), _geom_points(b, j)
            shared = (np.abs(pa[:, None] - pb[None]).max(-1) <= _EPS)
            return bool(shared.any() and not shared.any(axis=1).all()
                        and not shared.any(axis=0).all())
        # line-line overlap: share a positive-length collinear piece but
        # neither covers the other. Check every segment pair for parallel
        # collinear 1-D interval overlap (midpoint probes miss partial
        # overlaps like (0,0)-(10,0) vs (8,0)-(20,0)).
        sa, sb = _geom_segments(a, i), _geom_segments(b, j)
        d1 = sa[:, 1] - sa[:, 0]                      # (n,2)
        len1 = np.hypot(d1[:, 0], d1[:, 1])
        ok = len1 > _EPS
        if not ok.any():
            return False
        sa, d1, len1 = sa[ok], d1[ok], len1[ok]
        # cross products of both b endpoints vs each a segment: (n,m)
        r0 = sb[None, :, 0] - sa[:, None, 0]          # (n,m,2)
        r1 = sb[None, :, 1] - sa[:, None, 0]
        cr0 = d1[:, None, 0] * r0[..., 1] - d1[:, None, 1] * r0[..., 0]
        cr1 = d1[:, None, 0] * r1[..., 1] - d1[:, None, 1] * r1[..., 0]
        tol = _EPS * np.maximum(len1[:, None], 1.0)
        collinear = (np.abs(cr0) <= tol) & (np.abs(cr1) <= tol)
        if not collinear.any():
            return False
        # param of b endpoints along a segment, overlap length of [0, len1]
        t0 = (d1[:, None, 0] * r0[..., 0] + d1[:, None, 1] * r0[..., 1]) / len1[:, None]
        t1 = (d1[:, None, 0] * r1[..., 0] + d1[:, None, 1] * r1[..., 1]) / len1[:, None]
        lo = np.minimum(t0, t1)
        hi = np.maximum(t0, t1)
        ov = np.minimum(hi, len1[:, None]) - np.maximum(lo, 0.0)
        return bool((collinear & (ov > _EPS)).any())
    out = _pairwise(ga, gb, f, bool, False, skip=_skip)
    out[_rm] = _ro[_rm]
    return out


def geom_equals(ga, gb):
    def f(a, i, b, j):
        return (_pair_covers_dispatch(a, i, b, j, False) and
                _pair_covers_dispatch(b, j, a, i, False))
    return _pairwise(ga, gb, f, bool, False)


# ---------------------------------------------------------------------------
# constructive ops
# ---------------------------------------------------------------------------

def centroid(ga: GeometryArray) -> GeometryArray:
    """Area/length/count-weighted centroid by highest dimension present.

    Reference: geopandas/base.py:1020 (GEOS centroid semantics)."""
    # magnitude normalization (same 2^17 gate as _signed_ring_areas):
    # the cross-product second moments cancel at web-mercator magnitudes
    # — a box centroid at coords ~1e7 was off by 0.2 units. Centroid is
    # translation-equivariant, so compute near the origin and shift back
    # (the gate keeps small-coordinate values bit-identical).
    c_all = ga.coords
    if len(c_all):
        mx = float(np.abs(c_all).max())
        if np.isfinite(mx) and mx >= 131072.0:
            tx = float(np.floor(c_all[:, 0].min()))
            ty = float(np.floor(c_all[:, 1].min()))
            if (np.isfinite(tx) and np.isfinite(ty) and
                    max(abs(float(c_all[:, 0].max()) - tx),
                        abs(float(c_all[:, 1].max()) - ty),
                        abs(float(c_all[:, 0].min()) - tx),
                        abs(float(c_all[:, 1].min()) - ty)) < 0.5 * mx):
                return translate(centroid(translate(ga, -tx, -ty)), tx, ty)
    n = len(ga)
    cx = np.full(n, np.nan)
    cy = np.full(n, np.nan)
    types = ga.types
    # r12: vectorized paths for the three homogeneous row classes — the
    # per-row loop (two ndarray.mean calls per row) was ~25 µs/row and
    # dominated the honest buffer/centroid sweep. Accumulation order
    # mirrors the loop exactly (per ring in ring order, per part in part
    # order), so decided rows are bit-identical; degenerate rows
    # (zero-area polygons, zero-length lines), multipoints (np.mean's
    # pairwise summation differs from sequential bincount) and GC rows
    # fall through to the loop.
    done = ga.is_missing() | ga.is_empty()
    cpg = ga.coords_per_geom()
    if n and ga.n_coords:
        co = ga.coords
        nrings = ga.n_rings
        ring_sizes = np.diff(ga.ring_offsets)
        row_of_part = np.repeat(np.arange(len(ga.geom_offsets) - 1),
                                np.diff(ga.geom_offsets))
        part_of_ring = np.repeat(np.arange(len(ga.part_offsets) - 1),
                                 np.diff(ga.part_offsets))
        row_of_ring = row_of_part[part_of_ring]
        last = ga.ring_offsets[1:] - 1
        segmask = np.ones(ga.n_coords, dtype=bool)
        segmask[last[last >= 0]] = False
        sidx = np.nonzero(segmask)[0]
        ring_of_coord = np.repeat(np.arange(nrings), ring_sizes)
        seg_ring = ring_of_coord[sidx]
        x0 = co[sidx, 0]
        y0 = co[sidx, 1]
        x1 = co[sidx + 1, 0]
        y1 = co[sidx + 1, 1]
        # polygons: ring shoelace + second moments, holes negated
        poly = np.isin(types, (GT_POLYGON, GT_MULTIPOLYGON)) & ~done
        if poly.any():
            cr = x0 * y1 - x1 * y0
            a_ring = 0.5 * np.bincount(seg_ring, cr, minlength=nrings)
            sx_ring = np.bincount(seg_ring, (x0 + x1) * cr,
                                  minlength=nrings) / 6.0
            sy_ring = np.bincount(seg_ring, (y0 + y1) * cr,
                                  minlength=nrings) / 6.0
            shell = np.arange(nrings) == ga.part_offsets[part_of_ring]
            flip = np.where(shell, 1.0, -1.0) * np.sign(a_ring)
            pr = poly[row_of_ring]
            A = np.bincount(row_of_ring[pr], (flip * a_ring)[pr],
                            minlength=n)
            SX = np.bincount(row_of_ring[pr], (flip * sx_ring)[pr],
                             minlength=n)
            SY = np.bincount(row_of_ring[pr], (flip * sy_ring)[pr],
                             minlength=n)
            ok = poly & (A != 0)
            cx[ok] = SX[ok] / A[ok]
            cy[ok] = SY[ok] / A[ok]
            done |= ok
        # lines: length-weighted segment midpoints, per part then row
        lin = np.isin(types, (GT_LINESTRING, GT_MULTILINESTRING)) & ~done
        if lin.any():
            seg = np.sqrt((x1 - x0) ** 2 + (y1 - y0) ** 2)
            nparts = len(ga.part_offsets) - 1
            part_of_seg = part_of_ring[seg_ring]
            Lp = np.bincount(part_of_seg, seg, minlength=nparts)
            SXp = np.bincount(part_of_seg, seg * ((x0 + x1) / 2.0),
                              minlength=nparts)
            SYp = np.bincount(part_of_seg, seg * ((y0 + y1) / 2.0),
                              minlength=nparts)
            lp = lin[row_of_part]
            L = np.bincount(row_of_part[lp], Lp[lp], minlength=n)
            SX = np.bincount(row_of_part[lp], SXp[lp], minlength=n)
            SY = np.bincount(row_of_part[lp], SYp[lp], minlength=n)
            ok = lin & (L > 0)
            cx[ok] = SX[ok] / L[ok]
            cy[ok] = SY[ok] / L[ok]
            done |= ok
        # single-coord points: centroid is the point itself
        pt = (types == GT_POINT) & (cpg == 1) & ~done
        if pt.any():
            off = ga.coord_offsets_per_geom()[:-1][pt]
            cx[pt] = co[off, 0]
            cy[pt] = co[off, 1]
            done |= pt
    for i in np.nonzero(~done)[0]:
        t = int(types[i])
        if t == GT_MISSING:
            continue
        parts = ga.geom_slices(i)
        if not parts:
            continue
        if t in POLYGON_TYPES:
            A = 0.0
            sx = sy = 0.0
            for p in parts:
                for k, r in enumerate(p):
                    x0, y0 = r[:-1, 0], r[:-1, 1]
                    x1, y1 = r[1:, 0], r[1:, 1]
                    cr = x0 * y1 - x1 * y0
                    a = 0.5 * cr.sum()
                    if a == 0:
                        continue
                    sign = (1.0 if k == 0 else -1.0)
                    # normalize orientation so shell positive, hole negative
                    flip = sign * (1.0 if a > 0 else -1.0)
                    A += flip * a
                    sx += flip * ((x0 + x1) * cr).sum() / 6.0
                    sy += flip * ((y0 + y1) * cr).sum() / 6.0
            if A != 0:
                cx[i] = sx / A
                cy[i] = sy / A
                continue
            t = GT_LINESTRING  # degenerate: fall back to length method
        if t in LINE_TYPES or t == GT_LINESTRING:
            L = 0.0
            sx = sy = 0.0
            for p in parts:
                r = p[0]
                if len(r) < 2:
                    continue
                d = np.diff(r, axis=0)
                seg = np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1])
                mid = (r[:-1] + r[1:]) / 2.0
                L += seg.sum()
                sx += (seg * mid[:, 0]).sum()
                sy += (seg * mid[:, 1]).sum()
            if L > 0:
                cx[i] = sx / L
                cy[i] = sy / L
                continue
            t = GT_POINT
        pts = _geom_points(ga, i)
        if len(pts):
            cx[i] = pts[:, 0].mean()
            cy[i] = pts[:, 1].mean()
    return _points_with_empties(cx, cy, ga.is_missing(),
                                (~ga.is_missing()) & ga.is_empty())


def _points_with_empties(cx, cy, missing, empty) -> GeometryArray:
    """Point array where ``missing`` rows are NULL and ``empty`` rows are
    POINT EMPTY — GEOS distinguishes the two (centroid/interpolate of an
    empty geometry is POINT EMPTY, not missing)."""
    n = len(cx)
    val = ~(missing | empty)
    types = np.where(missing, GT_MISSING, GT_POINT).astype(np.uint8)
    counts = val.astype(np.int64)
    geom_offsets = np.concatenate([[0], np.cumsum(counts)])
    npts = int(counts.sum())
    ppr = np.arange(npts + 1, dtype=np.int64)
    coords = np.column_stack([np.asarray(cx)[val], np.asarray(cy)[val]])
    return GeometryArray(types, geom_offsets, ppr, ppr.copy(), coords)


def envelope(ga: GeometryArray) -> GeometryArray:
    """Axis-aligned bounding geometry (point/line degenerate cases kept,
    GEOS envelope semantics). Reference: base.py:1428."""
    bb = bounds(ga)
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            b.append_null()
            continue
        xmin, ymin, xmax, ymax = bb[i]
        if np.isnan(xmin):
            b.append_empty(int(ga.types[i]))
        elif xmin == xmax and ymin == ymax:
            b.append_point(xmin, ymin)
        elif xmin == xmax or ymin == ymax:
            b.append(GT_LINESTRING, [[np.array([[xmin, ymin], [xmax, ymax]])]])
        else:
            b.append(GT_POLYGON, [[np.array([
                [xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax],
                [xmin, ymin]])]])
    return b.finish()


def boundary(ga: GeometryArray) -> GeometryArray:
    """Polygon → rings as (Multi)LineString; line → endpoint MultiPoint;
    point → empty. Reference: base.py:986."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        parts = ga.geom_slices(i)
        if t in POLYGON_TYPES:
            rings = [r for p in parts for r in p]
            if not rings:
                b.append_empty(GT_MULTILINESTRING)
            elif len(rings) == 1:
                b.append(GT_LINESTRING, [[rings[0]]])
            else:
                b.append(GT_MULTILINESTRING, [[r] for r in rings])
        elif t in LINE_TYPES:
            ends = _line_endpoints(ga, i)
            if len(ends) == 0:
                b.append_empty(GT_MULTIPOINT)
            else:
                b.append(GT_MULTIPOINT, [[e.reshape(1, 2)] for e in ends])
        else:
            # point boundary is the empty set — GEOS types it as an empty
            # GEOMETRYCOLLECTION
            b.append_empty(GT_GEOMETRYCOLLECTION if t in POINT_TYPES
                           else t)
    return b.finish()


def convex_hull(ga: GeometryArray) -> GeometryArray:
    """Andrew monotone chain per geometry. Reference: base.py:1156."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        pts = _geom_points(ga, i)
        if len(pts) == 0:
            b.append_empty(t)
            continue
        hull = _monotone_chain(np.unique(pts, axis=0))
        if len(hull) == 1:
            b.append_point(hull[0, 0], hull[0, 1])
        elif len(hull) == 2:
            b.append(GT_LINESTRING, [[hull]])
        else:
            ring = np.concatenate([hull, hull[:1]], axis=0)
            b.append(GT_POLYGON, [[ring]])
    return b.finish()


def _monotone_chain(pts: np.ndarray) -> np.ndarray:
    """CCW hull of unique lexicographically-sorted points."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
    if len(pts) <= 2:
        return pts
    def half(seq):
        h = []
        for p in seq:
            while len(h) >= 2 and np.cross(h[-1] - h[-2], p - h[-2]) <= 0:
                h.pop()
            h.append(p)
        return h
    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def simplify(ga: GeometryArray, tol,
             preserve_topology: bool = False) -> GeometryArray:
    """Douglas-Peucker simplification (GEOS simplify). Reference:
    base.py:5475 (its default is preserve_topology=True).

    ``preserve_topology=True`` is a conservative approximation of GEOS's
    TopologyPreservingSimplifier: a simplified ring that would collapse
    (<4 points / zero area) or become self-intersecting falls back to its
    original vertices — output validity is guaranteed, at the cost of
    sometimes simplifying less than GEOS would."""
    tol = np.broadcast_to(np.asarray(tol, dtype=np.float64), (len(ga),))
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        parts = ga.geom_slices(i)
        if not parts:
            b.append_empty(t)
            continue
        is_poly = t in POLYGON_TYPES
        new_parts = []
        for p in parts:
            new_rings = []
            for r in p:
                s = _dp(r, tol[i])
                if preserve_topology:
                    bad = False
                    if is_poly:
                        area = (abs(float(np.cross(s[:-1], s[1:]).sum()))
                                * 0.5 if len(s) >= 4 else 0.0)
                        bad = (len(s) < 4 or area == 0.0
                               or _ring_self_intersects(s))
                    elif t in LINE_TYPES and len(s) >= 2:
                        bad = _ring_self_intersects(s, closed=False) and \
                            not _ring_self_intersects(r, closed=False)
                    if bad:
                        s = r
                new_rings.append(s)
            new_parts.append(new_rings)
        b.append(t, new_parts)
    return b.finish()


def _dp(ring: np.ndarray, tol: float) -> np.ndarray:
    n = len(ring)
    if n <= 2:
        return ring
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi <= lo + 1:
            continue
        seg = ring[hi] - ring[lo]
        pts = ring[lo + 1:hi]
        L = np.hypot(*seg)
        if L == 0:
            d = np.hypot(*(pts - ring[lo]).T)
        else:
            d = np.abs(np.cross(seg, pts - ring[lo])) / L
        k = int(np.argmax(d))
        if d[k] > tol:
            keep[lo + 1 + k] = True
            stack.append((lo, lo + 1 + k))
            stack.append((lo + 1 + k, hi))
    return ring[keep]


def _disk_ring(cx, cy, d, nseg):
    ang = 2 * np.pi * np.arange(nseg) / nseg
    ring = np.column_stack([cx + d * np.cos(ang), cy + d * np.sin(ang)])
    return np.concatenate([ring, ring[:1]], axis=0)


def _seg_rect(p0, p1, d):
    dx, dy = p1[0] - p0[0], p1[1] - p0[1]
    ln = (dx * dx + dy * dy) ** 0.5
    if ln == 0:
        return None
    nx, ny = -dy / ln * d, dx / ln * d
    return np.array([[p0[0] + nx, p0[1] + ny], [p1[0] + nx, p1[1] + ny],
                     [p1[0] - nx, p1[1] - ny], [p0[0] - nx, p0[1] - ny],
                     [p0[0] + nx, p0[1] + ny]])


def _union_polys(polys):
    """Union of oriented polygons (each ``[shell(CCW), hole(CW), ...]``,
    closed rings) in one ``clipping.union_many`` sweep. If the sweep
    raises ``ValueError`` or returns nothing, the pairwise Martinez–Rueda
    tree over the byte-distinct operands gives the result; that tree is
    also the reference the union cross-check tests force (by patching
    ``union_many`` to raise)."""
    if not polys:
        return []
    try:
        out = _mr.union_many(polys)
        if out:
            return out
    except ValueError:
        pass
    # byte-identical operands add nothing to a union, and stacked copies
    # cascaded through the tree leave near-parallel fragments the probe
    # tracer cannot separate (union_many dedupes its directed segments)
    items = list({b"".join(r.tobytes() for r in p): p
                  for p in polys}.values())
    while len(items) > 1:
        nxt = []
        for k in range(0, len(items) - 1, 2):
            res = _mr.boolean_op(items[k], items[k + 1], _mr.UNION)
            nxt.append([r for poly in res for r in poly])
        if len(items) % 2:
            nxt.append(items[-1])
        items = nxt
    return _mr.assemble_rings(items[0])


def _union_ring_sets(items):
    """Union of flat even-odd ring sets: each is nested into oriented
    polygons, then all go through one ``_union_polys``."""
    return _union_polys([poly for it in items if it
                         for poly in _mr.assemble_rings(it)])


def _dilation_rings(parts, d, nseg):
    """Ring sets of the Minkowski dilation pieces of a geometry's segments
    and vertices (per-segment rectangles + per-vertex disks).

    Disks are circumscribed (radius d/cos(pi/nseg)) so the vertex disk
    strictly contains the tangency point with its segment rectangles —
    every sweep intersection is a clean transversal crossing instead of a
    degenerate tangency. Radial error ~d*7.5e-4 at quad_segs=16, inside
    the polygonization chord error GEOS itself accepts."""
    dr = d / np.cos(np.pi / nseg)  # disks only — rects stay at d
    out = []
    for p in parts:
        for r in p:
            for k in range(len(r) - 1):
                rect = _seg_rect(r[k], r[k + 1], d)
                if rect is not None:
                    out.append([rect])
            seen = set()
            for v in (r[:-1] if len(r) > 1 else r):
                key = (v[0], v[1])
                if key not in seen:
                    seen.add(key)
                    out.append([_disk_ring(v[0], v[1], dr, nseg)])
            if len(r) >= 2 and not np.array_equal(r[0], r[-1]):
                out.append([_disk_ring(r[-1][0], r[-1][1], dr, nseg)])
    return out


def _join_pieces(v, u1, u2, d, join_style, mitre_limit):
    """Join fill at vertex v between unit directions u1 (incoming) and u2
    (outgoing), both sides (the inner-side piece is swallowed by the
    segment-rectangle union). Returns list of rings."""
    cross = u1[0] * u2[1] - u1[1] * u2[0]
    if abs(cross) < 1e-12:          # collinear: rectangles already meet
        return []
    out = []
    for s in (1.0, -1.0):
        n1 = np.array([-u1[1], u1[0]]) * d * s
        n2 = np.array([-u2[1], u2[0]]) * d * s
        a, c = v + n1, v + n2
        if join_style == "bevel":
            out.append(np.array([v, a, c, v]))
            continue
        # mitre apex: intersection of the two offset lines
        # (v+n1)+t*u1 = (v+n2)+s2*u2
        rhs = n2 - n1
        det = u1[0] * (-u2[1]) - u1[1] * (-u2[0])
        t = (rhs[0] * (-u2[1]) - rhs[1] * (-u2[0])) / det
        apex = a + t * u1
        if np.hypot(*(apex - v)) > mitre_limit * abs(d):
            out.append(np.array([v, a, c, v]))   # over limit: bevel
            continue
        out.append(np.array([v, a, apex, c, v]))
    return out


def _cap_pieces(e, u, d, cap_style, nseg):
    """End cap at endpoint e with outward unit direction u."""
    if cap_style == "flat":
        return []
    if cap_style == "square":
        n = np.array([-u[1], u[0]]) * d
        q = np.array([e + n, e + n + u * d, e - n + u * d, e - n, e + n])
        return [q]
    dr = d / np.cos(np.pi / nseg)
    return [_disk_ring(e[0], e[1], dr, nseg)]


def _styled_dilation_rings(parts, d, nseg, cap_style, join_style,
                           mitre_limit, closed_rings):
    """Dilation pieces with explicit cap/join styles (reference
    geopandas/array.py:916-943 buffer kwargs; GEOS BufferParameters).
    ``closed_rings`` True treats every ring as closed (polygon outline:
    joins at all vertices, no caps)."""
    out = []
    for p in parts:
        for r in p:
            if len(r) < 2:
                if cap_style != "flat":
                    out.append([_disk_ring(r[0][0], r[0][1],
                                           d / np.cos(np.pi / nseg), nseg)])
                continue
            for k in range(len(r) - 1):
                rect = _seg_rect(r[k], r[k + 1], d)
                if rect is not None:
                    out.append([rect])
            isring = closed_rings or np.array_equal(r[0], r[-1])
            segs = []
            for k in range(len(r) - 1):
                dvec = r[k + 1] - r[k]
                L = np.hypot(*dvec)
                if L > 0:
                    segs.append((r[k], r[k + 1], dvec / L))
            if not segs:
                continue
            if join_style == "round":
                dr = d / np.cos(np.pi / nseg)
                vs = [s[0] for s in segs[1:]] + ([segs[0][0]] if isring else [])
                for v in vs:
                    out.append([_disk_ring(v[0], v[1], dr, nseg)])
            else:
                for k in range(1, len(segs)):
                    pieces = _join_pieces(segs[k][0], segs[k - 1][2],
                                          segs[k][2], d, join_style,
                                          mitre_limit)
                    out.extend([pc] for pc in pieces)
                if isring:
                    pieces = _join_pieces(segs[0][0], segs[-1][2],
                                          segs[0][2], d, join_style,
                                          mitre_limit)
                    out.extend([pc] for pc in pieces)
            if not isring:
                for e, u in ((segs[0][0], -segs[0][2]),
                             (segs[-1][1], segs[-1][2])):
                    out.extend([pc] for pc in
                               _cap_pieces(e, u, d, cap_style, nseg))
    return out


def _single_sided_rings(parts, d):
    """Left (d>0) / right (d<0) one-sided strip of each polyline
    (GEOS single-sided buffer: flat ends, strip between the line and its
    offset curve)."""
    out = []
    for p in parts:
        for r in p:
            for k in range(len(r) - 1):
                dvec = r[k + 1] - r[k]
                L = np.hypot(*dvec)
                if L == 0:
                    continue
                u = dvec / L
                n = np.array([-u[1], u[0]]) * d
                out.append([np.array([r[k], r[k + 1], r[k + 1] + n,
                                      r[k] + n, r[k]])])
            # wedge fill at interior vertices on the offset side
            for k in range(1, len(r) - 1):
                u1 = r[k] - r[k - 1]
                u2 = r[k + 1] - r[k]
                L1, L2 = np.hypot(*u1), np.hypot(*u2)
                if L1 == 0 or L2 == 0:
                    continue
                u1, u2 = u1 / L1, u2 / L2
                n1 = np.array([-u1[1], u1[0]]) * d
                n2 = np.array([-u2[1], u2[0]]) * d
                out.append([np.array([r[k], r[k] + n1, r[k] + n2, r[k]])])
    return out


def buffer(ga: GeometryArray, dist, quad_segs: int = 16,
           cap_style: str = "round", join_style: str = "round",
           mitre_limit: float = 5.0,
           single_sided: bool = False) -> GeometryArray:
    """Magnitude-normalizing wrapper: rows whose bbox center exceeds
    2^20 are buffered in a LOCAL frame (integer-shifted to the origin)
    and translated back.  The Minkowski/offset constructions intersect
    irrational arc chords with polygon edges; at web-mercator
    magnitudes those crossings land within an ULP (~1e-8) of each
    other and the union mis-assembles (r8 translate-invariance
    fuzz find: buffer(+1) at |x| ≈ 6.7e7 returned HALF the area).
    Integer shifts keep small-coordinate rows bit-identical (they skip
    the wrapper entirely) and cost one add per coordinate otherwise."""
    bb = bounds(ga)
    with np.errstate(invalid="ignore"):
        cx = np.floor((bb[:, 0] + bb[:, 2]) * 0.5)
        cy = np.floor((bb[:, 1] + bb[:, 3]) * 0.5)
    cx = np.where(np.isfinite(cx), cx, 0.0)
    cy = np.where(np.isfinite(cy), cy, 0.0)
    big = (np.abs(cx) > 2.0 ** 20) | (np.abs(cy) > 2.0 ** 20)
    if not big.any():
        return _buffer_impl(ga, dist, quad_segs, cap_style, join_style,
                            mitre_limit, single_sided)
    cx = np.where(big, cx, 0.0)
    cy = np.where(big, cy, 0.0)
    row_of = ga.coord_geom_index()
    nc = ga.coords.copy()
    nc[:, 0] -= cx[row_of]
    nc[:, 1] -= cy[row_of]
    out = _buffer_impl(_with_coords(ga, nc), dist, quad_segs, cap_style,
                       join_style, mitre_limit, single_sided)
    orow = out.coord_geom_index()
    oc = out.coords.copy()
    oc[:, 0] += cx[orow]
    oc[:, 1] += cy[orow]
    return _with_coords(out, oc)


def _buffer_impl(ga: GeometryArray, dist, quad_segs: int = 16,
                 cap_style: str = "round", join_style: str = "round",
                 mitre_limit: float = 5.0,
                 single_sided: bool = False) -> GeometryArray:
    """Buffer with round joins. quad_segs default 16 matches the reference
    (geopandas/array.py:916-943, not shapely's 8).

    ``cap_style`` ∈ {round, flat, square}, ``join_style`` ∈ {round, mitre,
    bevel}, ``single_sided`` — the reference's full buffer kwarg matrix
    (geopandas/array.py:916-943). Non-default styles supported for
    positive distances; negative distances keep round semantics.

    Fast paths: points (regular 4*quad_segs-gon), single convex rings,
    negative buffer of axis-aligned boxes. General path (any polygon /
    line, positive d): Minkowski decomposition — union of the geometry
    with per-segment rectangles and per-vertex disks in one
    ``_union_polys`` sweep. General negative d: erosion as
    A − dilation(boundary(A), |d|), the set-theoretic identity
    A ⊖ D = A − (∂A ⊕ D). Round joins are polygonized (full 4*quad_segs
    circle per vertex) — areas agree with GEOS to the same chord error,
    vertex layout differs (documented deviation)."""
    dist = np.broadcast_to(np.asarray(dist, dtype=np.float64), (len(ga),))
    nseg = 4 * quad_segs
    # bulk fast path (r12): a batch of pure POINT rows with round caps
    # builds every ring in ONE vectorized pass — identical formulas to
    # the per-row branch below (bit-exact), but the per-row
    # GeometryBuilder costs ~3 µs/row, which under the honest bench
    # protocol was the entire buffer_centroid_sweep headline
    if (cap_style == "round" and not single_sided and len(ga) > 1 and
            (ga.types == GT_POINT).all() and
            (ga.coords_per_geom() == 1).all() and (dist > 0).all()):
        n = len(ga)
        ang = 2 * np.pi * np.arange(nseg) / nseg
        coords = np.empty((n, nseg + 1, 2))
        coords[:, :nseg, 0] = ga.coords[:, 0:1] + dist[:, None] * \
            np.cos(ang)[None, :]
        coords[:, :nseg, 1] = ga.coords[:, 1:2] + dist[:, None] * \
            np.sin(ang)[None, :]
        coords[:, nseg] = coords[:, 0]
        one = np.arange(n + 1, dtype=np.int64)
        return GeometryArray(np.full(n, GT_POLYGON, np.uint8), one,
                             one.copy(),
                             one * np.int64(nseg + 1),
                             coords.reshape(-1, 2))
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        d = float(dist[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        parts = ga.geom_slices(i)
        if not parts or d == 0:
            if parts:
                b.append_from(ga, i)
            else:
                b.append_empty(GT_POLYGON)
            continue
        if single_sided and t in LINE_TYPES:
            items = _single_sided_rings(parts, d)
            _append_polys(b, _union_ring_sets(items))
            continue
        styled = cap_style != "round" or join_style != "round"
        if styled and d > 0:
            if t in POINT_TYPES:
                if cap_style == "flat":
                    b.append_empty(GT_POLYGON)
                    continue
                if cap_style == "square":
                    items = [[np.array([[v[0] - d, v[1] - d],
                                        [v[0] + d, v[1] - d],
                                        [v[0] + d, v[1] + d],
                                        [v[0] - d, v[1] + d],
                                        [v[0] - d, v[1] - d]])]
                             for v in _geom_points(ga, i)]
                    _append_polys(b, _union_ring_sets(items))
                    continue
                # round cap on points: default path below
            else:
                items = _styled_dilation_rings(
                    parts, d, nseg, cap_style, join_style, mitre_limit,
                    closed_rings=t in POLYGON_TYPES)
                if t in POLYGON_TYPES:
                    items.append([_mr._close(r) for p in parts for r in p])
                _append_polys(b, _union_ring_sets(items))
                continue
        if t == GT_POINT and d > 0:
            c = parts[0][0][0]
            ang = 2 * np.pi * np.arange(nseg) / nseg
            ring = np.column_stack([c[0] + d * np.cos(ang),
                                    c[1] + d * np.sin(ang)])
            ring = np.concatenate([ring, ring[:1]], axis=0)
            b.append(GT_POLYGON, [[ring]])
        elif t == GT_POLYGON and d > 0 and len(parts[0]) == 1 and \
                _is_convex(_ensure_ccw(parts[0][0])):
            ring = _ensure_ccw(parts[0][0])
            b.append(GT_POLYGON, [[_buffer_convex_ring(ring, d, quad_segs)]])
        elif t == GT_POLYGON and d < 0 and len(parts[0]) == 1 and \
                _is_axis_aligned_box(parts[0][0]):
            r = parts[0][0]
            xmin, ymin = r.min(axis=0)
            xmax, ymax = r.max(axis=0)
            if xmin - d * 2 >= xmax or ymin - d * 2 >= ymax:
                b.append_empty(GT_POLYGON)
            else:
                bb = boxes_from_bounds([xmin - d], [ymin - d], [xmax + d],
                                       [ymax + d])
                b.append_from(bb, 0)
        elif t in POINT_TYPES and d > 0:
            items = [[_disk_ring(v[0], v[1], d, nseg)]
                     for v in _geom_points(ga, i)]
            _append_polys(b, _union_ring_sets(items))
        elif d > 0:
            items = _dilation_rings(parts, d, nseg)
            if t in POLYGON_TYPES:
                items.append([_mr._close(r) for p in parts for r in p])
            _append_polys(b, _union_ring_sets(items))
        elif t in POLYGON_TYPES:  # general negative: offset-curve erosion
            _append_polys(b, _erode_polygon(parts, -d, nseg))
        else:
            # GEOS: negative (or zero) buffer of lines/points is empty —
            # lower-dimensional geometry has no interior to erode
            b.append_empty(GT_POLYGON)
    return b.finish()


def _ring_scan_y(r: np.ndarray):
    """A scanline y strictly between two distinct vertex ys of the ring."""
    ys = np.unique(r[:, 1])
    if len(ys) < 2:
        return None
    mid = 0.5 * (ys[0] + ys[-1])
    k = np.searchsorted(ys, mid)
    k = min(max(k, 1), len(ys) - 1)
    return 0.5 * (ys[k - 1] + ys[k])


def _ring_crossings(r: np.ndarray, ym: float) -> np.ndarray:
    y0, y1 = r[:-1, 1], r[1:, 1]
    x0, x1 = r[:-1, 0], r[1:, 0]
    crossing = (y0 <= ym) != (y1 <= ym)
    if not crossing.any():
        return np.empty(0)
    tpar = (ym - y0[crossing]) / (y1[crossing] - y0[crossing])
    return np.sort(x0[crossing] + tpar * (x1[crossing] - x0[crossing]))


def _ring_interior_point(r: np.ndarray, others=(), avoid_on=()):
    """A point strictly inside ring ``r`` and outside any NESTED ring
    from ``others`` — scanline crossings, midpoint between r's first
    crossing and the next crossing of ANY ring (the sliver immediately
    inside r's boundary belongs to r's arrangement face, not to a
    nested ring). No tiny-offset probes; robust for sliver faces.

    ``avoid_on``: rings whose BOUNDARY the returned point must not lie
    on (make_valid probes the point against the ORIGINAL self-
    intersecting rings — a probe landing on an original vertex or edge
    classifies as boundary and silently drops the face, r10 even-odd
    oracle find). Alternate scanlines are tried until one clears."""
    ys = np.unique(r[:, 1])
    if len(ys) < 2:
        return None
    ylo, yhi = float(ys[0]), float(ys[-1])
    cand = None
    for frac in (None, 0.381966, 0.618034, 0.236068, 0.763932,
                 0.145898, 0.854102):
        ym = (_ring_scan_y(r) if frac is None
              else ylo + frac * (yhi - ylo))
        if ym is None or not (ylo < ym < yhi):
            continue
        own = _ring_crossings(r, ym)
        if len(own) < 2:
            continue
        x0 = own[0]
        x_next = own[1]
        for o in others:
            if o is r:
                continue
            if o[:, 1].min() > ym or o[:, 1].max() < ym:
                continue
            oc = _ring_crossings(o, ym)
            oc = oc[oc > x0 + 1e-12]
            if len(oc) and oc[0] < x_next:
                x_next = oc[0]
        if x_next <= x0 + 1e-12:
            continue
        pt = (0.5 * (x0 + x_next), ym)
        if cand is None:
            cand = pt
        if avoid_on:
            px = np.array([pt[0]])
            py = np.array([pt[1]])
            if any(points_in_rings(px, py, [a])[0] == 1
                   for a in avoid_on):
                continue
        return pt
    return cand


def _point_boundary_distance(px: float, py: float, segs: np.ndarray) -> float:
    """Distance from one point to a (S,2,2) segment set (vectorized)."""
    a = segs[:, 0]
    v = segs[:, 1] - segs[:, 0]
    w0 = px - a[:, 0]
    w1 = py - a[:, 1]
    den = v[:, 0] * v[:, 0] + v[:, 1] * v[:, 1]
    tpar = np.clip((w0 * v[:, 0] + w1 * v[:, 1]) /
                   np.where(den == 0.0, 1.0, den), 0.0, 1.0)
    dx = w0 - tpar * v[:, 0]
    dy = w1 - tpar * v[:, 1]
    return float(np.sqrt(dx * dx + dy * dy).min())


def _erode_polygon(parts, d: float, nseg: int) -> list:
    """Erosion A ⊖ d via the offset curve (the standard algorithm; GEOS
    buffers negatively the same way): shift every boundary edge distance
    d to the INTERIOR side, bridge reflex vertices with polygonized arcs,
    node the offset linework TOGETHER WITH the original boundary (so
    every arrangement face is uniformly inside or outside A — r5
    fuzz fix), trace the faces, and keep the region whose points are
    inside A at boundary distance >= d.

    Face classification uses scanline interior points + exact
    point-to-segment distances — no tiny side probes, so dense chordal
    rings (outputs of a positive round buffer — the morphological
    closing composition) erode correctly where the earlier
    boundary-band subtraction collapsed (property-fuzz find).
    Returns boolean_op-shaped polys."""
    rings = []
    for p in parts:
        for k, r in enumerate(p):
            r = _mr._close(np.asarray(r, dtype=np.float64))
            if len(r) < 4:
                continue
            a = _mr._ring_signed_area(r)
            if a == 0:
                continue
            # interior on the LEFT: shells CCW, holes CW
            if (a > 0) != (k == 0):
                r = r[::-1]
            rings.append(r)
    if not rings:
        return []
    bsegs = np.concatenate(
        [np.stack([r[:-1], r[1:]], axis=1) for r in rings], axis=0)

    lw = GeometryBuilder()
    arc_step = np.pi / 2 / max(nseg // 4, 4)
    for r in rings:
        v = np.diff(r, axis=0)
        ln = np.hypot(v[:, 0], v[:, 1])
        keep = ln > 0
        v, ln = v[keep], ln[keep]
        pts = r[:-1][keep]
        n = len(pts)
        if n < 2:
            continue
        ux, uy = v[:, 0] / ln, v[:, 1] / ln
        # left normal (interior side)
        nx, ny = -uy * d, ux * d
        seg_a = pts + np.column_stack([nx, ny])
        seg_b = pts + v + np.column_stack([nx, ny])
        for k in range(n):
            lw.append(GT_LINESTRING, [[np.array([seg_a[k], seg_b[k]])]])
            k2 = (k + 1) % n
            crossz = ux[k] * uy[k2] - uy[k] * ux[k2]
            if crossz < 0:      # reflex interior vertex: bridge with arc
                vtx = pts[k2] if k2 != 0 else pts[0]
                a1 = np.arctan2(ny[k], nx[k])
                a2 = np.arctan2(ny[k2], nx[k2])
                while a2 > a1:          # rotate clockwise the short way
                    a2 -= 2 * np.pi
                steps = max(1, int(np.ceil((a1 - a2) / arc_step)))
                angs = a1 + (a2 - a1) * np.arange(steps + 1) / steps
                arc = vtx + abs(d) * np.column_stack(
                    [np.cos(angs), np.sin(angs)])
                lw.append(GT_LINESTRING, [[arc]])
    # the ORIGINAL boundary joins the arrangement: faces are then
    # uniformly inside or outside A, so a chord-tolerance misclassified
    # face can never leak area past ∂A (fuzz-found: a sliver face near a
    # spiky hole straddled the boundary and the erosion poked outside A)
    for r in rings:
        lw.append(GT_LINESTRING, [[r]])
    faces = polygonize(lw.finish(), _faces_only=True)
    if len(faces) == 0:
        return []
    tol = abs(d) * 1e-2 + 1e-9
    face_rings = [faces.geom_slices(k)[0][0] for k in range(len(faces))]

    def _face_probe(fr):
        """Interior probes on several scanlines; trust the most DECISIVE
        (max |dist - d|). A single probe can land arbitrarily close to
        the offset curve, where the chord-sag tolerance window flips the
        verdict — property-fuzz find: the hole-offset loop's face
        classified as kept from a probe at dist = d - 1e-3, erasing the
        hole from the erosion of a holed polygon."""
        ys = np.unique(fr[:, 1])
        if len(ys) < 2:
            return None
        best = None
        for frac in (0.5, 0.25, 0.75, 0.1, 0.9):
            yq = ys[0] + frac * (ys[-1] - ys[0])
            k2 = min(max(np.searchsorted(ys, yq), 1), len(ys) - 1)
            ym = 0.5 * (ys[k2 - 1] + ys[k2])
            own = _ring_crossings(fr, ym)
            if len(own) < 2:
                continue
            x0, x_next = own[0], own[1]
            for o in face_rings:
                if o is fr:
                    continue
                if o[:, 1].min() > ym or o[:, 1].max() < ym:
                    continue
                oc = _ring_crossings(o, ym)
                oc = oc[oc > x0 + 1e-12]
                if len(oc) and oc[0] < x_next:
                    x_next = oc[0]
            if x_next <= x0 + 1e-12:
                continue
            ip = (0.5 * (x0 + x_next), ym)
            dist = _point_boundary_distance(ip[0], ip[1], bsegs)
            margin = abs(dist - abs(d))
            if best is None or margin > best[0]:
                best = (margin, ip, dist)
        return best

    keep_info = []
    for k in range(len(faces)):
        fr = face_rings[k]
        probe = _face_probe(fr)
        if probe is None:
            continue
        _margin, ip, dist = probe
        inside = bool(_mr._point_in_ringset(ip[0], ip[1], rings))
        keep_info.append((fr, ip, inside and dist >= abs(d) - tol))
    if not keep_info:
        return []
    # laminar nesting: a ring's parent is the smallest face containing its
    # interior point; a ring bounds the result iff its class differs from
    # its parent's (even-odd over the kept rings reconstructs the region)
    areas = [abs(_mr._ring_signed_area(fr)) for fr, _, _ in keep_info]
    order = sorted(range(len(keep_info)), key=lambda q: areas[q])
    out_rings = []
    for qi, (fr, ip, cls) in enumerate(keep_info):
        parent_cls = False
        best = np.inf
        for qj in order:
            if qj == qi or areas[qj] <= areas[qi] or areas[qj] >= best:
                continue
            fr2 = keep_info[qj][0]
            if (fr2[:, 0].min() <= ip[0] <= fr2[:, 0].max()
                    and fr2[:, 1].min() <= ip[1] <= fr2[:, 1].max()
                    and _mr._point_in_ring(ip[0], ip[1], fr2)):
                parent_cls = keep_info[qj][2]
                best = areas[qj]
        if cls != parent_cls:
            out_rings.append(fr)
    if not out_rings:
        return []
    # adjacent kept faces each emit their full ring, so shared offset
    # edges appear twice in opposite directions — coverage union cancels
    # them into maximal polygons while nested (hole-boundary) rings
    # survive once and re-nest
    tmp = GeometryBuilder()
    for r in out_rings:
        tmp.append(GT_POLYGON, [[_mr._close(r)]])
    merged = _coverage_union(tmp.finish())
    if merged is not None:
        return [list(poly) for poly in merged.geom_slices(0)]
    return _mr.assemble_rings(out_rings)


def _ensure_ccw(ring: np.ndarray) -> np.ndarray:
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    if 0.5 * (x0 * y1 - x1 * y0).sum() < 0:
        return ring[::-1]
    return ring


def _is_convex(ring: np.ndarray) -> bool:
    """Convexity of a closed ring. The wrap-around edge pair
    (last edge → first edge) MUST be included: a ring reflex only at its
    starting vertex is otherwise misclassified as convex, which sent
    such polygons down the Sutherland–Hodgman / convex-buffer fast paths
    and produced wrong boolean results (caught by the star-polygon
    property fuzz). A repeated vertex (zero-length edge) has no turn of
    its own, so it is dropped before the edges are paired."""
    v = np.diff(ring, axis=0)
    v = v[(v != 0).any(axis=1)]
    cr = np.cross(v, np.roll(v, -1, axis=0))
    return bool((cr >= -_EPS).all() or (cr <= _EPS).all())


def _is_axis_aligned_box(ring: np.ndarray) -> bool:
    if len(ring) != 5:
        return False
    xs = np.unique(ring[:, 0])
    ys = np.unique(ring[:, 1])
    return len(xs) == 2 and len(ys) == 2


def _buffer_convex_ring(ring: np.ndarray, d: float, quad_segs: int) -> np.ndarray:
    """Minkowski sum of a convex CCW ring with a disc (round joins)."""
    pts = ring[:-1]
    n = len(pts)
    out = []
    for k in range(n):
        prev = pts[k - 1]
        cur = pts[k]
        nxt = pts[(k + 1) % n]
        v1 = cur - prev
        v2 = nxt - cur
        n1 = np.array([v1[1], -v1[0]])
        n1 = n1 / np.hypot(*n1) if np.hypot(*n1) > 0 else n1
        n2 = np.array([v2[1], -v2[0]])
        n2 = n2 / np.hypot(*n2) if np.hypot(*n2) > 0 else n2
        a1 = np.arctan2(n1[1], n1[0])
        a2 = np.arctan2(n2[1], n2[0])
        da = a2 - a1
        if da < -1e-9:
            da += 2 * np.pi
        elif da < 0.0:
            # exactly-collinear vertex: the two normals differ by an ulp;
            # a raw `while a2 < a1: a2 += 2pi` would sweep a full
            # backwards circle here and corrupt the ring (hypothesis-found)
            da = 0.0
        steps = max(1, int(np.ceil(da / (np.pi / 2 / quad_segs))))
        angs = a1 + da * np.arange(steps + 1) / steps
        arc = cur + d * np.column_stack([np.cos(angs), np.sin(angs)])
        out.append(arc)
    ring_out = np.concatenate(out, axis=0)
    return np.concatenate([ring_out, ring_out[:1]], axis=0)


def reverse(ga: GeometryArray) -> GeometryArray:
    """Reverse coordinate order per ring (reference base.py:2184).

    A within-ring index permutation: structure (offsets, gc_meta) is
    unchanged, so Z/M buffers permute along and GEOMETRYCOLLECTION rows
    survive — and the whole pass is three vectorized gathers instead of
    the per-row builder loop this replaced."""
    n = ga.n_coords
    if n == 0:
        return _with_coords(ga, ga.coords.copy())
    ro = ga.ring_offsets
    sizes = np.diff(ro)
    starts = np.repeat(ro[:-1], sizes)
    ends = np.repeat(ro[1:], sizes)
    idx = starts + ends - 1 - np.arange(n, dtype=np.int64)
    return _with_coords(ga, ga.coords[idx],
                        z=(ga.z[idx] if ga.z is not None else None),
                        m=(ga.m[idx] if ga.m is not None else None))


_KEEP = object()


def _with_coords(ga: GeometryArray, nc, z=_KEEP, m=_KEEP) -> GeometryArray:
    """Rebuild an array with new coordinates but identical structure:
    offsets, gc_meta (GEOMETRYCOLLECTION child layout) and — since the
    coord count is unchanged — the parallel z/m buffers all carry over.
    Every coord-only kernel (affine family, set_precision, to_crs) must go
    through this so GC rows don't silently collapse to EMPTY."""
    return GeometryArray(ga.types, ga.geom_offsets, ga.part_offsets,
                         ga.ring_offsets, nc,
                         z=(ga.z if z is _KEEP else z),
                         m=(ga.m if m is _KEEP else m),
                         gc_meta=ga.gc_meta)


def affine_transform(ga: GeometryArray, a, b_, d, e, xoff, yoff) -> GeometryArray:
    """x' = a*x + b*y + xoff ; y' = d*x + e*y + yoff  (shapely.affinity
    matrix order [a, b, d, e, xoff, yoff]). Reference: base.py:5970.
    Z/M buffers carry through unchanged (a 2-D matrix leaves z alone,
    matching shapely.affinity.affine_transform on 3-D input)."""
    c = ga.coords
    nc = np.empty_like(c)
    nc[:, 0] = a * c[:, 0] + b_ * c[:, 1] + xoff
    nc[:, 1] = d * c[:, 0] + e * c[:, 1] + yoff
    return _with_coords(ga, nc)


def affine_transform12(ga: GeometryArray, a, b_, c_, d, e, f_, g, h, i_,
                       xoff, yoff, zoff) -> GeometryArray:
    """Full 3-D affine, shapely's 12-tuple matrix order
    [a b c d e f g h i xoff yoff zoff] (reference base.py:5970 passes it
    straight to shapely.affinity.affine_transform):

        x' = a x + b y + c z + xoff
        y' = d x + e y + f z + yoff
        z' = g x + h y + i z + zoff

    2-D rows (z NaN / absent) use only the 2-D terms and stay 2-D."""
    c = ga.coords
    z = ga.z
    zz = np.zeros(len(c)) if z is None else np.nan_to_num(z)
    nc = np.empty_like(c)
    nc[:, 0] = a * c[:, 0] + b_ * c[:, 1] + c_ * zz + xoff
    nc[:, 1] = d * c[:, 0] + e * c[:, 1] + f_ * zz + yoff
    if z is None:
        return _with_coords(ga, nc)
    nz = g * c[:, 0] + h * c[:, 1] + i_ * zz + zoff
    nz = np.where(np.isnan(z), np.nan, nz)
    return _with_coords(ga, nc, z=nz)


def translate(ga, xoff=0.0, yoff=0.0, zoff=0.0):
    out = affine_transform(ga, 1.0, 0.0, 0.0, 1.0, xoff, yoff)
    if np.any(zoff != 0.0) and ga.z is not None:
        out = _with_coords(out, out.coords, z=ga.z + zoff)  # NaN stays NaN
    return out


def _per_geom_origin(ga: GeometryArray, origin):
    if origin == "center":
        bb = bounds(ga)
        ox = (bb[:, 0] + bb[:, 2]) / 2.0
        oy = (bb[:, 1] + bb[:, 3]) / 2.0
    elif origin == "centroid":
        cg = centroid(ga)
        ox = get_x(cg)
        oy = get_y(cg)
    else:
        ox = np.full(len(ga), float(origin[0]))
        oy = np.full(len(ga), float(origin[1]))
    idx = ga.coord_geom_index()
    return ox[idx], oy[idx]


def scale(ga, xfact=1.0, yfact=1.0, zfact=1.0, origin="center"):
    ox, oy = _per_geom_origin(ga, origin)
    c = ga.coords
    nc = np.empty_like(c)
    nc[:, 0] = ox + xfact * (c[:, 0] - ox)
    nc[:, 1] = oy + yfact * (c[:, 1] - oy)
    if zfact == 1.0 or ga.z is None:
        return _with_coords(ga, nc)
    # z origin: explicit 3-tuple origin, else per-geom z midrange (shapely
    # scales about the 3-D bounding-box center for origin="center")
    if not isinstance(origin, str) and len(origin) >= 3:
        oz = float(origin[2])
    else:
        co = ga.coord_offsets_per_geom()
        oz = np.zeros(len(ga))
        for k in range(len(ga)):
            zs = ga.z[co[k]:co[k + 1]]
            zs = zs[~np.isnan(zs)]
            if len(zs):
                oz[k] = (zs.min() + zs.max()) / 2.0
        oz = oz[ga.coord_geom_index()]
    return _with_coords(ga, nc, z=oz + zfact * (ga.z - oz))


def rotate(ga, angle_deg, origin="center"):
    ox, oy = _per_geom_origin(ga, origin)
    th = np.deg2rad(angle_deg)
    ct, st = np.cos(th), np.sin(th)
    c = ga.coords
    nc = np.empty_like(c)
    dx = c[:, 0] - ox
    dy = c[:, 1] - oy
    nc[:, 0] = ox + ct * dx - st * dy
    nc[:, 1] = oy + st * dx + ct * dy
    return _with_coords(ga, nc)


def skew(ga, xs_deg=0.0, ys_deg=0.0, origin="center"):
    ox, oy = _per_geom_origin(ga, origin)
    tx = np.tan(np.deg2rad(xs_deg))
    ty = np.tan(np.deg2rad(ys_deg))
    c = ga.coords
    nc = np.empty_like(c)
    dx = c[:, 0] - ox
    dy = c[:, 1] - oy
    nc[:, 0] = ox + dx + tx * dy
    nc[:, 1] = oy + dy + ty * dx
    return _with_coords(ga, nc)


# ---------------------------------------------------------------------------
# clipping / set ops (round-1 scope: convex clip windows; see SURVEY §7.3)
# ---------------------------------------------------------------------------

def _sh_clip_ring(ring: np.ndarray, clip_ring: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip (closed) subject ring by convex CCW clip
    ring. 'Fast/dirty' semantics, same caveat as the reference's
    clip_by_rect (geopandas/tools/clip.py:87-99)."""
    subject = ring[:-1] if len(ring) >= 2 and np.array_equal(ring[0], ring[-1]) \
        else ring
    out = subject
    cr = clip_ring[:-1]
    m = len(cr)
    for k in range(m):
        if len(out) == 0:
            break
        a = cr[k]
        bdir = cr[(k + 1) % m] - a
        prev = out[-1]
        res = []
        prev_in = np.cross(bdir, prev - a) >= -_EPS
        for p in out:
            cur_in = np.cross(bdir, p - a) >= -_EPS
            if cur_in != prev_in:
                # intersection of edge (prev,p) with clip line
                d = p - prev
                denom = np.cross(bdir, d)
                t = np.cross(bdir, a - prev) / denom if denom != 0 else 0.0
                q = prev + t * d
                # axis-aligned lines pin their constant coordinate exactly
                # (the parametric form loses it: (13/23)*23 != 13); integer
                # -grid boolean ops must stay bit-exact
                if bdir[0] == 0.0:
                    q[0] = a[0]
                elif d[0] == 0.0:
                    q[0] = prev[0]
                if bdir[1] == 0.0:
                    q[1] = a[1]
                elif d[1] == 0.0:
                    q[1] = prev[1]
                res.append(q)
            if cur_in:
                res.append(p)
            prev = p
            prev_in = cur_in
        out = np.array(res) if res else np.empty((0, 2))
    if len(out) < 3:
        return np.empty((0, 2))
    return np.concatenate([out, out[:1]], axis=0)


def _clip_segments_convex(segs: np.ndarray, clip_ring: np.ndarray):
    """Clip each segment to a convex CCW ring (parametric Cyrus–Beck)."""
    if len(segs) == 0:
        return []
    cr = clip_ring[:-1]
    edges_a = cr
    edges_n = np.stack([-(np.roll(cr, -1, axis=0) - cr)[:, 1],
                        (np.roll(cr, -1, axis=0) - cr)[:, 0]], axis=1)
    # inward normal of CCW ring edge (dx,dy) is (-dy,dx)
    out = []
    for s in segs:
        p0, p1 = s[0], s[1]
        d = p1 - p0
        t0, t1 = 0.0, 1.0
        ok = True
        for a, nrm in zip(edges_a, edges_n):
            denom = nrm @ d
            num = nrm @ (a - p0)
            if denom == 0:
                if num > _EPS:  # outside, parallel
                    ok = False
                    break
            elif denom > 0:  # entering
                t0 = max(t0, num / denom)
            else:
                t1 = min(t1, num / denom)
            if t0 > t1:
                ok = False
                break
        if ok and t1 - t0 > _EPS:
            out.append(np.array([p0 + t0 * d, p0 + t1 * d]))
    return out


def subdivide(ga: GeometryArray, max_vertices: int = 256):
    """PostGIS-style ST_Subdivide (engine-added, beyond the reference):
    recursively halve each geometry's bbox along its longer axis and
    rectangle-clip until every piece has <= max_vertices coordinates.

    THE standard 100-TB trick for monster polygons (continent coastlines,
    basin boundaries): pieces bound per-row refine cost, index tighter in
    the grid join (smaller bboxes -> fewer candidate cells), and spread
    one hot row across tasks. Area/length are preserved exactly up to the
    clip arithmetic; re-union of the pieces = the input (it's an
    edge-matched coverage, so union_all(method='coverage') reassembles it
    without a sweep).

    Returns (parts, parent_index): a GeometryArray of pieces and the
    originating row per piece — the same shape as get_parts, made for
    ``posexplode`` after the st-layer array wrapper."""
    if max_vertices < 8:
        raise ValueError("subdivide needs max_vertices >= 8")
    out = GeometryBuilder()
    parent = []

    def _emit(g1, i_src):
        out.append_from(g1, 0)
        parent.append(i_src)

    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING or t not in POLYGON_TYPES | LINE_TYPES:
            _emit(ga.take([i]), i)
            continue
        stack = [ga.take([i])]
        guard = 0
        # every emitted piece costs >= 1 pop plus ~2x interior splits, so
        # the pop budget must scale with the expected piece count — a
        # fixed guard trips on legitimate giant inputs (e.g. a 15M-vertex
        # coastline at max_vertices=256 needs >100k pops)
        n0 = int(ga.coords_per_geom()[i])
        guard_limit = max(100000, 8 * (n0 // max_vertices + 1) + 64)
        while stack:
            guard += 1
            if guard > guard_limit:
                raise RuntimeError("subdivide failed to converge")
            g1 = stack.pop()
            if g1.is_empty()[0]:
                continue
            n = int(g1.coords_per_geom()[0])
            if n <= max_vertices:
                _emit(g1, i)
                continue
            x0, y0, x1, y1 = bounds(g1)[0]
            if not (x1 > x0 or y1 > y0):
                _emit(g1, i)      # degenerate extent: cannot split
                continue
            if (x1 - x0) >= (y1 - y0):
                xm = (x0 + x1) * 0.5
                halves = ((x0, y0, xm, y1), (xm, y0, x1, y1))
            else:
                ym = (y0 + y1) * 0.5
                halves = ((x0, y0, x1, ym), (x0, ym, x1, y1))
            pieces = []
            polygonal = int(g1.types[0]) in POLYGON_TYPES
            for hx0, hy0, hx1, hy1 in halves:
                if polygonal:
                    # boolean-kernel clip, NOT the fast/dirty
                    # Sutherland-Hodgman: S-H connects the lobes of a
                    # concave polygon with zero-width bridges along the
                    # cut line — invalid pinched rings whose shoelace
                    # area is inflated and whose re-union double-counts
                    # lobes (r9 subdivide fuzz find). The coverage
                    # contract (pieces re-union exactly to the input)
                    # needs clean pieces.
                    box = boxes_from_bounds([hx0], [hy0], [hx1], [hy1])
                    piece = intersection(g1, box)
                else:
                    piece = clip_by_rect(g1, hx0, hy0, hx1, hy1)
                if not piece.is_empty()[0]:
                    pieces.append(piece)
            if any(int(p.coords_per_geom()[0]) < n for p in pieces):
                stack.extend(pieces)
            else:
                # no half shed a vertex (degenerate input): emit as-is
                # rather than loop forever
                for p in pieces:
                    _emit(p, i)
    return out.finish(), np.asarray(parent, dtype=np.int64)


def clip_by_rect(ga: GeometryArray, xmin, ymin, xmax, ymax) -> GeometryArray:
    """Fast/dirty rectangle clip (reference: base.py:4880, GEOS
    clip_by_rect): polygons via Sutherland–Hodgman, lines via parametric
    clipping, points filtered by closed bounds."""
    rect = np.array([[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax],
                     [xmin, ymin]], dtype=np.float64)
    return _clip_convex(ga, rect)


def _clip_convex(ga: GeometryArray, clip_ring: np.ndarray) -> GeometryArray:
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        parts = ga.geom_slices(i)
        if not parts:
            b.append_empty(t)
            continue
        if t in POINT_TYPES:
            pts = _geom_points(ga, i)
            cls = points_in_rings(pts[:, 0], pts[:, 1], [clip_ring])
            keep = pts[cls > 0]
            if len(keep) == 0:
                b.append_empty(t)
            elif len(keep) == 1:
                b.append_point(keep[0, 0], keep[0, 1])
            else:
                b.append(GT_MULTIPOINT, [[k.reshape(1, 2)] for k in keep])
        elif t in LINE_TYPES:
            segs = _geom_segments(ga, i)
            clipped = _clip_segments_convex(segs, clip_ring)
            merged = _merge_chains(clipped)
            if not merged:
                b.append_empty(t)
            elif len(merged) == 1:
                b.append(GT_LINESTRING, [[merged[0]]])
            else:
                b.append(GT_MULTILINESTRING, [[m] for m in merged])
        else:
            new_parts = []
            for p in parts:
                shell = _sh_clip_ring(p[0], clip_ring)
                if len(shell) == 0:
                    continue
                # touching-only clips collapse to a zero-area sliver
                # (e.g. two squares sharing an edge) — drop them so the
                # polygonal-only contract stays "empty", not degenerate
                sx, sy = shell[:, 0], shell[:, 1]
                if abs(np.dot(sx, np.roll(sy, -1)) -
                       np.dot(sy, np.roll(sx, -1))) == 0.0:
                    continue
                rings = [shell]
                for hole in p[1:]:
                    h = _sh_clip_ring(hole, clip_ring)
                    if len(h):
                        rings.append(h)
                new_parts.append(rings)
            if not new_parts:
                b.append_empty(GT_POLYGON)
            elif len(new_parts) == 1:
                b.append(GT_POLYGON, new_parts)
            else:
                b.append(GT_MULTIPOLYGON, new_parts)
    return b.finish()


def _merge_chains(segs: list) -> list:
    """Greedy merge of clipped segments back into polylines.

    Join tolerance is absolute + a few coordinate ULPs — NOT
    np.allclose, whose default rtol=1e-5 is ~200 units at web-mercator
    magnitude and merged pieces across a genuine gap (r8 magnitude
    fuzz find: line−polygon difference returned the unclipped line at
    |x| ≈ 2e7)."""
    chains = []
    for s in segs:
        placed = False
        for c in chains:
            m = max(abs(c[-1][0]), abs(c[-1][1]), 1.0)
            tol = 1e-9 + 8.0 * np.spacing(m)
            if abs(c[-1][0] - s[0][0]) <= tol and \
                    abs(c[-1][1] - s[0][1]) <= tol:
                c.append(s[1])
                placed = True
                break
        if not placed:
            chains.append([s[0], s[1]])
    return [np.array(c) for c in chains if len(c) >= 2]


def _geom_rings_closed(g: GeometryArray, i: int) -> list:
    """All rings of row i (shells + holes + all parts, flattened, closed).

    The Martinez–Rueda core uses even-odd parity, so nesting/orientation is
    irrelevant for valid (non-self-overlapping) polygons."""
    rings = []
    for part in g.geom_slices(i):
        for r in part:
            rings.append(_mr._close(r))
    return rings


def _append_polys(b: GeometryBuilder, polys: list):
    """Append a boolean_op result (list of [shell, *holes]) as (MULTI)POLYGON."""
    if not polys:
        b.append_empty(GT_POLYGON)
    elif len(polys) == 1:
        b.append(GT_POLYGON, polys)
    else:
        b.append(GT_MULTIPOLYGON, polys)


def _split_segment_by_edges(p0, p1, E0, E1):
    """Split segment (p0,p1) at every crossing with edges (E0[k],E1[k]).

    Returns list of (2,2) sub-segments, ordered from p0 to p1. Vectorized
    over the edge array; collinear-overlap endpoints also split."""
    d = p1 - p0
    e = E1 - E0
    diff = E0 - p0
    denom = d[0] * e[:, 1] - d[1] * e[:, 0]
    params = []
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (diff[:, 0] * e[:, 1] - diff[:, 1] * e[:, 0]) / denom
        u = (diff[:, 0] * d[1] - diff[:, 1] * d[0]) / denom
    cross_mask = (denom != 0) & (t > 0) & (t < 1) & (u >= 0) & (u <= 1)
    params.extend(t[cross_mask].tolist())
    # collinear overlaps: project edge endpoints onto the segment
    dd = d @ d
    if dd > 0:
        col = (denom == 0) & (diff[:, 0] * d[1] - diff[:, 1] * d[0] == 0)
        if col.any():
            t0 = ((E0[col] - p0) @ d) / dd
            t1 = ((E1[col] - p0) @ d) / dd
            for tv in np.concatenate([t0, t1]):
                if 0 < tv < 1:
                    params.append(float(tv))
    ts = sorted(set([0.0, 1.0] + params))
    out = []
    for k in range(len(ts) - 1):
        a = p0 + ts[k] * d
        bq = p0 + ts[k + 1] * d
        if abs(bq[0] - a[0]) > _EPS or abs(bq[1] - a[1]) > _EPS:
            out.append(np.array([a, bq]))
    return out


def _flatten_edges(rings: list):
    """Ring list → (E0, E1) edge endpoint arrays."""
    e0s, e1s = [], []
    for r in rings:
        e0s.append(r[:-1])
        e1s.append(r[1:])
    return np.concatenate(e0s, axis=0), np.concatenate(e1s, axis=0)


def _clip_line_by_polygon(g_line: GeometryArray, i: int,
                          g_poly: GeometryArray, j: int,
                          keep_inside: bool) -> list:
    """Line ∩/− polygon via segment splitting at ring crossings + even-odd
    midpoint classification. Returns merged chains (list of (k,2) arrays)."""
    segs = _geom_segments(g_line, i)
    rings = _geom_rings_closed(g_poly, j)
    if len(segs) == 0 or not rings:
        return [] if keep_inside else [s for s in segs]
    E0, E1 = _flatten_edges(rings)
    pieces = []
    for s in segs:
        pieces.extend(_split_segment_by_edges(s[0], s[1], E0, E1))
    out = []
    for p in pieces:
        mid = (p[0] + p[1]) * 0.5
        inside = points_in_rings(mid[:1], mid[1:], rings)[0] > 0
        on_b = _point_seg_dist(mid.reshape(1, 2),
                               np.stack([E0, E1], axis=1))[0] <= _EPS
        if (inside or on_b) if keep_inside else (not inside and not on_b):
            out.append(p)
    return _merge_chains(out)


def _append_chains(b: GeometryBuilder, chains: list):
    if not chains:
        b.append_empty(GT_LINESTRING)
    elif len(chains) == 1:
        b.append(GT_LINESTRING, [[chains[0]]])
    else:
        b.append(GT_MULTILINESTRING, [[c] for c in chains])


def _collinear_overlaps(E0a, E1a, E0b, E1b):
    """Collinear overlap pieces between two edge sets.

    Returns (segs, touch_pts): segs is a list of (2,2) arrays whose
    endpoints are drawn from the *input vertices* (never recomputed
    parametrically — bit-exact on integer-grid fixtures), touch_pts is a
    list of (x, y) single-point collinear touches (endpoint-to-endpoint
    along the same line)."""
    segs, pts = [], []
    for k in range(len(E0a)):
        p0, p1 = E0a[k], E1a[k]
        d = p1 - p0
        dd = float(d @ d)
        if dd == 0.0:
            continue
        cross_e = (E1b[:, 0] - E0b[:, 0]) * d[1] - \
            (E1b[:, 1] - E0b[:, 1]) * d[0]
        cross_p = (E0b[:, 0] - p0[0]) * d[1] - (E0b[:, 1] - p0[1]) * d[0]
        col = (cross_e == 0.0) & (cross_p == 0.0)
        if not col.any():
            continue
        q0, q1 = E0b[col], E1b[col]
        t0 = ((q0 - p0) @ d) / dd
        t1 = ((q1 - p0) @ d) / dd
        for idx in range(len(q0)):
            lo = max(0.0, min(t0[idx], t1[idx]))
            hi = min(1.0, max(t0[idx], t1[idx]))
            if hi < lo:
                continue

            def _pin(t):
                if t == 0.0:
                    return p0
                if t == 1.0:
                    return p1
                return q0[idx] if t == t0[idx] else q1[idx]

            a, c = _pin(lo), _pin(hi)
            if hi == lo:
                pts.append((float(a[0]), float(a[1])))
            else:
                segs.append(np.array([a, c], dtype=np.float64))
    return segs, pts


def _edge_cross_points(E0a, E1a, E0b, E1b):
    """Transversal/touching intersection points between two edge sets
    (exact endpoint / axis-constant pinning via _mr._segment_intersection;
    bbox-prefiltered per edge)."""
    pts = []
    for k in range(len(E0a)):
        p0, p1 = E0a[k], E1a[k]
        lo, hi = np.minimum(p0, p1), np.maximum(p0, p1)
        blo = np.minimum(E0b, E1b)
        bhi = np.maximum(E0b, E1b)
        cand = np.nonzero((blo[:, 0] <= hi[0]) & (bhi[:, 0] >= lo[0]) &
                          (blo[:, 1] <= hi[1]) & (bhi[:, 1] >= lo[1]))[0]
        for j in cand:
            for p in _mr._segment_intersection(
                    (p0[0], p0[1]), (p1[0], p1[1]),
                    (E0b[j, 0], E0b[j, 1]), (E1b[j, 0], E1b[j, 1])):
                pts.append((float(p[0]), float(p[1])))
    return pts


_MIX_EPS = 1e-9   # on-boundary tolerance for residue classification


def _poly_pair_mixed(ga: GeometryArray, i: int, gb: GeometryArray, j: int):
    """Full point-set intersection of two (multi)polygons: the polygonal
    part (Martinez–Rueda) plus the lower-dimensional residue — shared
    boundary pieces not absorbed by the area part (LineStrings) and
    isolated boundary touch points (Points). This is GEOS overlay-ng's
    mixed-dimension output (reference exposes it through
    overlay(keep_geom_type=False), tools/overlay.py:395-454).

    Returns (polys, chains, pts)."""
    ra = _geom_rings_closed(ga, i)
    rb = _geom_rings_closed(gb, j)
    polys = _mr.boolean_op(ra, rb, _mr.INTERSECTION)
    EA0, EA1 = _flatten_edges(ra)
    EB0, EB1 = _flatten_edges(rb)
    segs, cpts = _collinear_overlaps(EA0, EA1, EB0, EB1)

    rrings = [_mr._close(r) for poly in polys for r in poly]
    rsegs = (np.stack(_flatten_edges(rrings), axis=1) if rrings else None)

    def _covered(pt):
        """pt lies in the area part (interior or within eps of boundary)."""
        if not rrings:
            return False
        p = np.asarray(pt, dtype=np.float64).reshape(1, 2)
        if points_in_rings(p[:, 0], p[:, 1], rrings)[0] > 0:
            return True
        return _point_seg_dist(p, rsegs)[0] <= _MIX_EPS

    keep = [s for s in segs if not _covered((s[0] + s[1]) * 0.5)]
    chains = _merge_chains(keep)
    ch_segs = (np.concatenate([np.stack([c[:-1], c[1:]], axis=1)
                               for c in chains]) if chains else None)
    pts, seen = [], set()
    for p in cpts + _edge_cross_points(EA0, EA1, EB0, EB1):
        if p in seen:
            continue
        seen.add(p)
        if _covered(p):
            continue
        if ch_segs is not None and _point_seg_dist(
                np.array([p], dtype=np.float64), ch_segs)[0] <= _MIX_EPS:
            continue
        pts.append(p)
    return polys, chains, pts


def _append_mixed(b: GeometryBuilder, polys: list, chains: list, pts):
    """Assemble a mixed-dimension op result: single-type output when only
    one dimension is present (GEOS convention), GEOMETRYCOLLECTION when
    dimensions mix, POLYGON EMPTY when nothing intersects."""
    pts = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    nkinds = int(bool(polys)) + int(bool(chains)) + int(len(pts) > 0)
    if nkinds == 0:
        b.append_empty(GT_POLYGON)
        return
    if nkinds == 1:
        if polys:
            _append_polys(b, polys)
        elif chains:
            _append_chains(b, chains)
        else:
            _append_points(b, pts, GT_POINT)
        return
    children = [(GT_POLYGON, [poly]) for poly in polys]
    children += [(GT_LINESTRING, [[c]]) for c in chains]
    children += [(GT_POINT, [[p.reshape(1, 2)]]) for p in pts]
    b.append_collection(children)


def _gc_typed_rows(ga: GeometryArray, i: int) -> list:
    """Row i as up to three single-row typed arrays (multi-polygon /
    -line / -point) — a GEOMETRYCOLLECTION decomposed by dimension
    class; non-GC rows yield themselves."""
    if int(ga.types[i]) != GT_GEOMETRYCOLLECTION:
        return [ga.take([i])]
    out = []
    for multi_t, want in ((GT_MULTIPOLYGON, POLYGON_TYPES),
                          (GT_MULTILINESTRING, LINE_TYPES),
                          (GT_MULTIPOINT, POINT_TYPES)):
        parts = [rings for ct, cparts in ga.children_of(i)
                 if ct in want for rings in cparts]
        if parts:
            b = GeometryBuilder()
            b.append(multi_t, parts)
            out.append(b.finish())
    return out


def _append_combined_setop(b: GeometryBuilder, rows: list):
    """Combine per-component set-op results into ONE row with GEOS
    OverlayNG normalization: polygonal parts unioned, lineal parts
    unioned then reduced by the polygonal region, points deduped and
    dropped where covered by a higher-dimensional part."""
    poly_rows, line_rows, pt_list = [], [], []
    stack = list(rows)
    while stack:
        r = stack.pop()
        if len(r) == 0 or int(r.types[0]) == GT_MISSING or r.is_empty()[0]:
            continue
        t = int(r.types[0])
        if t == GT_GEOMETRYCOLLECTION:
            stack.extend(_gc_typed_rows(r, 0))
        elif t in POLYGON_TYPES:
            poly_rows.append(r)
        elif t in LINE_TYPES:
            line_rows.append(r)
        else:
            pt_list.append(_geom_points(r, 0))
    polys_row = lines_row = None
    if poly_rows:
        tmp = GeometryBuilder()
        for r in poly_rows:
            tmp.append_from(r, 0)
        polys_row = union_all(tmp.finish())
        if polys_row.is_empty()[0]:
            polys_row = None
    if line_rows:
        tmp = GeometryBuilder()
        for r in line_rows:
            tmp.append_from(r, 0)
        lines_row = union_all(tmp.finish())
        if polys_row is not None and not lines_row.is_empty()[0]:
            lines_row = difference(lines_row, polys_row)
        if lines_row.is_empty()[0]:
            lines_row = None
    pts = (np.concatenate(pt_list) if pt_list
           else np.empty((0, 2), dtype=np.float64))
    if len(pts):
        pts = np.unique(pts, axis=0)
        keep = np.ones(len(pts), dtype=bool)
        if polys_row is not None:
            keep &= ~_points_member_mask(pts, polys_row, 0)
        if lines_row is not None:
            keep &= ~_points_member_mask(pts, lines_row, 0)
        pts = pts[keep]
    polys = ([list(p) for p in polys_row.geom_slices(0)]
             if polys_row is not None else [])
    chains = ([p[0] for p in lines_row.geom_slices(0)]
              if lines_row is not None else [])
    _append_mixed(b, polys, chains, pts)


def _gc_setop(b: GeometryBuilder, op: str, ga: GeometryArray,
              gb: GeometryArray, i: int):
    """Set operation with GEOMETRYCOLLECTION operand(s) (reference
    base.py:4405-4879; GEOS OverlayNG accepts GC input): dispatch per
    dimension class of the decomposed operands, then merge with the
    standard normalization. ∩ distributes over the component union;
    − subtracts each subtrahend component in turn; ∪/⊕ compose."""
    A = _gc_typed_rows(ga, i)
    B = _gc_typed_rows(gb, i)
    rows = []
    if op == "intersection":
        for ra in A:
            for rb in B:
                rows.append(intersection(ra, rb, mixed=True))
    elif op == "union":
        rows = A + B
    elif op == "difference":
        for ra in A:
            cur = ra
            for rb in B:
                cur = difference(cur, rb)
            rows.append(cur)
    else:  # symmetric_difference = (A − B) ∪ (B − A)
        for ra in A:
            cur = ra
            for rb in B:
                cur = difference(cur, rb)
            rows.append(cur)
        for rb in B:
            cur = rb
            for ra in A:
                cur = difference(cur, ra)
            rows.append(cur)
    _append_combined_setop(b, rows)


def _row_segs_with_z(g: GeometryArray, i: int):
    """Segments of row i with endpoint Z: (s0 (S,2), s1 (S,2), z0, z1)
    or None when the row has no 2+-coord ring."""
    co = g.coord_offsets_per_geom()
    lo, hi = co[i], co[i + 1]
    ro = g.ring_offsets
    sel = (ro[:-1] >= lo) & (ro[1:] <= hi) & (ro[1:] - ro[:-1] >= 2)
    starts, ends = ro[:-1][sel], ro[1:][sel]
    if len(starts) == 0:
        return None
    idx = np.concatenate([np.arange(s, e - 1) for s, e in
                          zip(starts, ends)])
    return (g.coords[idx], g.coords[idx + 1], g.z[idx], g.z[idx + 1])


def _carry_z(out: GeometryArray, ga: GeometryArray,
             gb: GeometryArray = None) -> GeometryArray:
    """Propagate Z through a 2-D kernel result (GEOS OverlayNG parity,
    r11 fuzz frontier (a)): per affected row, each output coordinate
    takes the Z of an exactly-matching input vertex (operand A
    preferred), else linear interpolation along the nearest input edge
    whose endpoints both carry Z, else the nearest input vertex's Z.
    Rows whose input operands are all 2-D stay 2-D; M is dropped
    through overlays (documented — GEOS pre-3.12 behavior)."""
    if out.n_coords == 0:
        return out
    has_a = ga.row_has_z() if ga.z is not None else \
        np.zeros(len(ga), dtype=bool)
    has_b = (gb.row_has_z() if gb is not None and gb.z is not None
             else np.zeros(len(ga), dtype=bool))
    rows = np.nonzero(has_a | has_b)[0]
    rows = rows[rows < len(out)]
    if len(rows) == 0:
        return out
    z = np.full(out.n_coords, np.nan)
    out_off = out.coord_offsets_per_geom()
    for i in rows:
        lo, hi = out_off[i], out_off[i + 1]
        if hi <= lo:
            continue
        P = out.coords[lo:hi]
        srcs = [(g, True) for g, h in ((ga, has_a[i]),) if h]
        if gb is not None and has_b[i]:
            srcs.append((gb, False))
        cs, zs, segs = [], [], []
        for g, _ in srcs:
            gco = g.coord_offsets_per_geom()
            a0, a1 = gco[i], gco[i + 1]
            cs.append(g.coords[a0:a1])
            zs.append(g.z[a0:a1])
            sw = _row_segs_with_z(g, i)
            if sw is not None:
                segs.append(sw)
        C = np.vstack(cs)
        Z = np.concatenate(zs)
        ok = ~np.isnan(Z)
        C, Z = C[ok], Z[ok]
        if len(C) == 0:
            continue
        zi = np.full(len(P), np.nan)
        # exact match on the kernel's 1e-9 canon grid; first (A-side)
        # occurrence wins
        lut = {}
        ck = np.round(C * 1e9).astype(np.int64)
        for k in range(len(C)):
            key = (ck[k, 0], ck[k, 1])
            if key not in lut:
                lut[key] = Z[k]
        pk = np.round(P * 1e9).astype(np.int64)
        for k in range(len(P)):
            v = lut.get((pk[k, 0], pk[k, 1]))
            if v is not None:
                zi[k] = v
        miss = np.nonzero(np.isnan(zi))[0]
        if len(miss) and segs:
            s0 = np.vstack([s[0] for s in segs])
            s1 = np.vstack([s[1] for s in segs])
            z0 = np.concatenate([s[2] for s in segs])
            z1 = np.concatenate([s[3] for s in segs])
            good = ~(np.isnan(z0) | np.isnan(z1))
            if good.any():
                s0, s1, z0, z1 = s0[good], s1[good], z0[good], z1[good]
                d = s1 - s0                               # (S, 2)
                den = (d * d).sum(-1)
                ap = P[miss][:, None, :] - s0[None]       # (Pm, S, 2)
                t = np.clip((ap * d[None]).sum(-1)
                            / np.where(den == 0, 1.0, den), 0, 1)
                proj = s0[None] + t[..., None] * d[None]
                dist = np.hypot(*(P[miss][:, None, :] - proj)
                                .transpose(2, 0, 1))
                pick = dist.argmin(axis=1)
                tt = t[np.arange(len(miss)), pick]
                zi[miss] = z0[pick] + tt * (z1[pick] - z0[pick])
        still = np.isnan(zi)
        if still.any():
            # nearest input vertex
            dd = np.abs(P[still][:, None, :] - C[None]).max(-1)
            zi[still] = Z[dd.argmin(axis=1)]
        z[lo:hi] = zi
    return GeometryArray(out.types, out.geom_offsets, out.part_offsets,
                         out.ring_offsets, out.coords, z=z, m=None,
                         gc_meta=out.gc_meta)


def intersection(ga: GeometryArray, gb: GeometryArray,
                 mixed: bool = False) -> GeometryArray:
    """Pairwise intersection (reference: geopandas/base.py:4762).

    point × any: membership filter. convex × convex polygons: vectorized
    Sutherland–Hodgman fast path. General (multi)polygon pairs:
    Martinez–Rueda sweep (geom/clipping.py). line × polygon: segment
    splitting + even-odd classification. line × line: crossing points +
    collinear overlap pieces.

    ``mixed=True`` additionally emits the lower-dimensional residue of
    polygon × polygon pairs (shared-edge LineStrings, touch Points —
    GEOS's true point-set semantics, surfaced by the reference's
    overlay(keep_geom_type=False)); the default keeps the historical
    polygonal-only output that most callers (clip, polygonal overlay)
    filter to anyway."""
    # rect×rect batch fast path (r11): the intersection of two interval
    # products with POSITIVE overlap area is the overlap box — decided
    # for the whole batch with no per-pair sweep (overlay/clip on
    # gridded corpora is dominated by exactly these rows). Degenerate
    # contact (shared edge/corner) keeps the general path: its result
    # is lower-dimensional (mixed) or empty (polygonal-only).
    rfast = None
    dfast = None
    if len(ga):
        ba_, bb_ = bounds(ga), bounds(gb)
        # strictly disjoint bboxes on a polygonal pair → empty POLYGON,
        # no sweep (r11: disjoint pairs paid the full Martinez–Rueda
        # run just to emit EMPTY; bbox contact keeps the general path —
        # mixed mode's shared-edge residue needs it)
        pp = (np.isin(ga.types, (GT_POLYGON, GT_MULTIPOLYGON)) &
              np.isin(gb.types, (GT_POLYGON, GT_MULTIPOLYGON)))
        with np.errstate(invalid="ignore"):
            dj = pp & ((np.minimum(ba_[:, 2], bb_[:, 2])
                        < np.maximum(ba_[:, 0], bb_[:, 0])) |
                       (np.minimum(ba_[:, 3], bb_[:, 3])
                        < np.maximum(ba_[:, 1], bb_[:, 1])))
        dfast = dj if dj.any() else None
        rm = _rect_rows(ga, ba_) & _rect_rows(gb, bb_)
        if rm.any():
            ox0 = np.maximum(ba_[:, 0], bb_[:, 0])
            oy0 = np.maximum(ba_[:, 1], bb_[:, 1])
            ox1 = np.minimum(ba_[:, 2], bb_[:, 2])
            oy1 = np.minimum(ba_[:, 3], bb_[:, 3])
            rm &= (ox1 > ox0) & (oy1 > oy0)
            if rm.any():
                from geopandas_spark.geom.array import boxes_from_bounds
                sel = np.nonzero(rm)[0]
                # shapely.box CCW rotation (SW corner first) — the same
                # ring order the convex Sutherland–Hodgman branch emits
                # for these pairs; the sweep branch's NW rotation is an
                # equally valid rotation of the same ring (the general
                # path was already branch-dependent here)
                boxes_out = boxes_from_bounds(ox0[sel], oy0[sel],
                                              ox1[sel], oy1[sel])
                pos = np.full(len(ga), -1, dtype=np.int64)
                pos[sel] = np.arange(len(sel))
                rfast = (rm, pos, boxes_out)
    b = GeometryBuilder()
    empty_a, empty_b = ga.is_empty(), gb.is_empty()
    for i in range(len(ga)):
        ta, tb = int(ga.types[i]), int(gb.types[i])
        if ta == GT_MISSING or tb == GT_MISSING:
            b.append_null()
            continue
        if empty_a[i] or empty_b[i]:
            b.append_empty(GT_POLYGON)
            continue
        if dfast is not None and dfast[i]:
            b.append_empty(GT_POLYGON)
            continue
        if rfast is not None and rfast[0][i]:
            b.append_from(rfast[2], int(rfast[1][i]))
            continue
        if ta == GT_GEOMETRYCOLLECTION or tb == GT_GEOMETRYCOLLECTION:
            _gc_setop(b, "intersection", ga, gb, i)
            continue
        if ta in POINT_TYPES:
            pts = _geom_points(ga, i)
            keep = pts[_points_member_mask(pts, gb, i)]
            _append_points(b, keep, ta)
            continue
        if tb in POINT_TYPES:
            pts = _geom_points(gb, i)
            keep = pts[_points_member_mask(pts, ga, i)]
            _append_points(b, keep, tb)
            continue
        if ta in POLYGON_TYPES and tb in POLYGON_TYPES:
            if mixed:
                _append_mixed(b, *_poly_pair_mixed(ga, i, gb, i))
                continue
            ca, cb = _as_convex_ring(ga, i), _as_convex_ring(gb, i)
            if ca is not None and cb is not None:
                sub = _clip_convex(ga.take([i]), cb)
                b.append_from(sub, 0)
            else:
                polys = _mr.boolean_op(_geom_rings_closed(ga, i),
                                       _geom_rings_closed(gb, i),
                                       _mr.INTERSECTION)
                _append_polys(b, polys)
            continue
        if (ta in LINE_TYPES and tb in POLYGON_TYPES) or \
                (ta in POLYGON_TYPES and tb in LINE_TYPES):
            gl, gp = (ga, gb) if ta in LINE_TYPES else (gb, ga)
            chains = _clip_line_by_polygon(gl, i, gp, i, True)
            if not mixed:
                _append_chains(b, chains)
                continue
            # tangent touch points: boundary crossings not on kept chains
            sl = _geom_segments(gl, i)
            E0, E1 = _flatten_edges(_geom_rings_closed(gp, i))
            cross = _edge_cross_points(sl[:, 0], sl[:, 1], E0, E1)
            ch_segs = (np.concatenate([np.stack([c[:-1], c[1:]], axis=1)
                                       for c in chains]) if chains else None)
            pts, seen = [], set()
            for p in cross:
                if p in seen:
                    continue
                seen.add(p)
                if ch_segs is not None and _point_seg_dist(
                        np.array([p], np.float64), ch_segs)[0] <= _MIX_EPS:
                    continue
                pts.append(p)
            _append_mixed(b, [], chains, pts)
            continue
        # line × line: split a's segments by b's, keep pieces lying on b
        sb = _geom_segments(gb, i)
        chains = []
        pts = []
        for s in _geom_segments(ga, i):
            for p in _split_segment_by_edges(s[0], s[1], sb[:, 0], sb[:, 1]):
                mid = ((p[0] + p[1]) * 0.5).reshape(1, 2)
                if _point_seg_dist(mid, sb)[0] <= _EPS:
                    chains.append(p)
        merged = _merge_chains(chains) if chains else []
        ch_segs = (np.concatenate([np.stack([c[:-1], c[1:]], axis=1)
                                   for c in merged]) if merged else None)
        if merged and not mixed:
            _append_chains(b, merged)
            continue
        for s in _geom_segments(ga, i):
            for q in sb:
                for p in _mr._segment_intersection(
                        tuple(s[0]), tuple(s[1]), tuple(q[0]), tuple(q[1])):
                    pts.append((float(p[0]), float(p[1])))
        uniq = [p for p in sorted(set(pts))
                if ch_segs is None or _point_seg_dist(
                    np.array([p], np.float64), ch_segs)[0] > _MIX_EPS]
        if mixed:
            _append_mixed(b, [], merged, uniq)
        else:
            _append_points(b, np.array(uniq, dtype=np.float64).reshape(-1, 2),
                           GT_POINT)
    return _carry_z(b.finish(), ga, gb)


def _points_member_mask(pts, g, i):
    t = int(g.types[i])
    if t in POLYGON_TYPES:
        return points_in_geom(pts[:, 0], pts[:, 1], g, i) > 0
    if t in LINE_TYPES:
        return _point_seg_dist(pts, _geom_segments(g, i)) <= _EPS
    gp = _geom_points(g, i)
    return (np.abs(pts[:, None] - gp[None]).max(-1) <= _EPS).any(axis=1)


def _append_points(b, pts, orig_type):
    if len(pts) == 0:
        b.append_empty(GT_POINT)
    elif len(pts) == 1:
        b.append_point(pts[0, 0], pts[0, 1])
    else:
        b.append(GT_MULTIPOINT, [[p.reshape(1, 2)] for p in pts])


def _as_convex_ring(g, i):
    t = int(g.types[i])
    if t != GT_POLYGON:
        return None
    parts = g.geom_slices(i)
    if len(parts) != 1 or len(parts[0]) != 1:
        return None
    ring = _ensure_ccw(parts[0][0])
    return ring if _is_convex(ring) else None


def difference(ga: GeometryArray, gb: GeometryArray) -> GeometryArray:
    """Pairwise A − B (reference: geopandas/base.py:4405).

    Martinez–Rueda for polygon − polygon; segment splitting for
    line − polygon / line − line; membership filter for point minuends;
    lower-dimensional subtrahends leave A unchanged (measure zero)."""
    b = GeometryBuilder()
    inter = intersects(ga, gb)
    empty_b = gb.is_empty()
    for i in range(len(ga)):
        ta, tb = int(ga.types[i]), int(gb.types[i])
        if ta == GT_MISSING or tb == GT_MISSING:
            b.append_null()
            continue
        if not inter[i] or empty_b[i]:
            b.append_from(ga, i)
            continue
        if ta == GT_GEOMETRYCOLLECTION or tb == GT_GEOMETRYCOLLECTION:
            _gc_setop(b, "difference", ga, gb, i)
            continue
        if ta in POINT_TYPES:
            pts = _geom_points(ga, i)
            keep = pts[~_points_member_mask(pts, gb, i)]
            _append_points(b, keep, ta)
            continue
        if tb in POINT_TYPES or (ta in POLYGON_TYPES and tb in LINE_TYPES):
            # subtracting a lower-dimensional geometry is a no-op
            b.append_from(ga, i)
            continue
        if ta in POLYGON_TYPES and tb in POLYGON_TYPES:
            polys = _mr.boolean_op(_geom_rings_closed(ga, i),
                                   _geom_rings_closed(gb, i), _mr.DIFFERENCE)
            _append_polys(b, polys)
            continue
        if ta in LINE_TYPES and tb in POLYGON_TYPES:
            _append_chains(b, _clip_line_by_polygon(ga, i, gb, i, False))
            continue
        # line − line: drop pieces collinear with b
        sb = _geom_segments(gb, i)
        out = []
        for s in _geom_segments(ga, i):
            for p in _split_segment_by_edges(s[0], s[1], sb[:, 0], sb[:, 1]):
                mid = ((p[0] + p[1]) * 0.5).reshape(1, 2)
                if _point_seg_dist(mid, sb)[0] > _EPS:
                    out.append(p)
        _append_chains(b, _merge_chains(out))
    return _carry_z(b.finish(), ga, gb)


_DIM = {GT_POINT: 0, GT_MULTIPOINT: 0, GT_LINESTRING: 1,
        GT_MULTILINESTRING: 1, GT_POLYGON: 2, GT_MULTIPOLYGON: 2}


def _lower_residual(glo, ghi, i):
    """lo − hi for a lower-dimensional lo operand: (chains, pts)."""
    tlo = int(glo.types[i])
    if tlo in POINT_TYPES:
        pts = _geom_points(glo, i)
        return [], pts[~_points_member_mask(pts, ghi, i)]
    return (_clip_line_by_polygon(glo, i, ghi, i, False),
            np.empty((0, 2), dtype=np.float64))


def _append_hi_plus_residual(b, ghi, i, chains, pts):
    """hi operand + lower-dim residual: plain hi row when the residual is
    fully absorbed (GEOS drops covered lower dims), else a
    GEOMETRYCOLLECTION of hi's parts and the residual pieces."""
    if not chains and len(pts) == 0:
        b.append_from(ghi, i)
        return
    thi = int(ghi.types[i])
    base = SINGLE_OF.get(thi, thi)
    children = [(base, [part]) for part in ghi.geom_slices(i)]
    children += [(GT_LINESTRING, [[c]]) for c in chains]
    children += [(GT_POINT, [[np.asarray(p).reshape(1, 2)]]) for p in pts]
    b.append_collection(children)


def union(ga: GeometryArray, gb: GeometryArray) -> GeometryArray:
    """Pairwise A ∪ B (reference: geopandas/base.py:4643).

    Polygons via Martinez–Rueda; point sets via coordinate dedupe; lines
    via noding at crossings + collinear-piece dedupe. Mixed-dimension
    pairs keep the higher-dim operand whole plus the lower-dim residual
    outside it (GEOMETRYCOLLECTION when not absorbed — GEOS union
    semantics)."""
    b = GeometryBuilder()
    empty_a, empty_b = ga.is_empty(), gb.is_empty()
    for i in range(len(ga)):
        ta, tb = int(ga.types[i]), int(gb.types[i])
        if ta == GT_MISSING or tb == GT_MISSING:
            b.append_null()
            continue
        if empty_a[i]:
            b.append_from(gb, i)
            continue
        if empty_b[i]:
            b.append_from(ga, i)
            continue
        if ta in POINT_TYPES and tb in POINT_TYPES:
            pts = np.unique(np.concatenate(
                [_geom_points(ga, i), _geom_points(gb, i)], axis=0), axis=0)
            _append_points(b, pts, GT_POINT)
            continue
        if ta in POLYGON_TYPES and tb in POLYGON_TYPES:
            polys = _mr.boolean_op(_geom_rings_closed(ga, i),
                                   _geom_rings_closed(gb, i), _mr.UNION)
            _append_polys(b, polys)
            continue
        if ta in LINE_TYPES and tb in LINE_TYPES:
            sa, sb = _geom_segments(ga, i), _geom_segments(gb, i)
            pieces = []
            for s in sa:
                pieces.extend(_split_segment_by_edges(s[0], s[1],
                                                      sb[:, 0], sb[:, 1]))
            for s in sb:
                for p in _split_segment_by_edges(s[0], s[1],
                                                 sa[:, 0], sa[:, 1]):
                    mid = ((p[0] + p[1]) * 0.5).reshape(1, 2)
                    if _point_seg_dist(mid, sa)[0] > _EPS:  # dedupe overlap
                        pieces.append(p)
            _append_chains(b, _merge_chains(pieces))
            continue
        if ta == GT_GEOMETRYCOLLECTION or tb == GT_GEOMETRYCOLLECTION:
            _gc_setop(b, "union", ga, gb, i)
            continue
        # mixed dimensions (GEOS union semantics): the higher-dimensional
        # operand survives whole; the lower-dim one contributes only its
        # residual outside it; absorbed residual → plain higher-dim output,
        # otherwise a GEOMETRYCOLLECTION
        ghi, glo = (ga, gb) if _DIM[ta] > _DIM[tb] else (gb, ga)
        chains, pts = _lower_residual(glo, ghi, i)
        _append_hi_plus_residual(b, ghi, i, chains, pts)
    return _carry_z(b.finish(), ga, gb)


def symmetric_difference(ga: GeometryArray, gb: GeometryArray) -> GeometryArray:
    """Pairwise A ⊕ B (reference: geopandas/base.py:4521). Polygons via
    Martinez–Rueda XOR; point sets via symmetric coordinate-set diff."""
    b = GeometryBuilder()
    empty_a, empty_b = ga.is_empty(), gb.is_empty()
    for i in range(len(ga)):
        ta, tb = int(ga.types[i]), int(gb.types[i])
        if ta == GT_MISSING or tb == GT_MISSING:
            b.append_null()
            continue
        if empty_a[i]:
            b.append_from(gb, i)
            continue
        if empty_b[i]:
            b.append_from(ga, i)
            continue
        if ta in POINT_TYPES and tb in POINT_TYPES:
            pa = {tuple(p) for p in _geom_points(ga, i)}
            pb = {tuple(p) for p in _geom_points(gb, i)}
            pts = np.array(sorted(pa ^ pb), dtype=np.float64).reshape(-1, 2)
            _append_points(b, pts, GT_POINT)
            continue
        if ta in POLYGON_TYPES and tb in POLYGON_TYPES:
            polys = _mr.boolean_op(_geom_rings_closed(ga, i),
                                   _geom_rings_closed(gb, i), _mr.XOR)
            _append_polys(b, polys)
            continue
        if ta in LINE_TYPES and tb in LINE_TYPES:
            # (A − B) ∪ (B − A): pieces of each not collinear with the other
            sa, sb = _geom_segments(ga, i), _geom_segments(gb, i)
            pieces = []
            for segs, other in ((sa, sb), (sb, sa)):
                for s in segs:
                    for p in _split_segment_by_edges(s[0], s[1],
                                                     other[:, 0],
                                                     other[:, 1]):
                        mid = ((p[0] + p[1]) * 0.5).reshape(1, 2)
                        if _point_seg_dist(mid, other)[0] > _EPS:
                            pieces.append(p)
            _append_chains(b, _merge_chains(pieces))
            continue
        if ta == GT_GEOMETRYCOLLECTION or tb == GT_GEOMETRYCOLLECTION:
            _gc_setop(b, "symmetric_difference", ga, gb, i)
            continue
        # mixed dimensions: the intersection is measure-zero in the higher
        # dim, so A ⊕ B = hi whole + (lo − hi) — same shape as union
        ghi, glo = (ga, gb) if _DIM[ta] > _DIM[tb] else (gb, ga)
        chains, pts = _lower_residual(glo, ghi, i)
        _append_hi_plus_residual(b, ghi, i, chains, pts)
    return _carry_z(b.finish(), ga, gb)


# ---------------------------------------------------------------------------
# parts / coords reshaping (reference: explode geoseries.py:1017,
# get_coordinates base.py:6242)
# ---------------------------------------------------------------------------

def get_parts(ga: GeometryArray):
    """→ (parts GeometryArray, parent_index int64[], part_ordinal int64[])."""
    b = GeometryBuilder()
    parent = []
    ordinal = []
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            continue
        if t == GT_GEOMETRYCOLLECTION:
            # top-level children (GEOS get_parts semantics)
            for k, (ct, cparts) in enumerate(ga.children_of(i)):
                if not cparts:
                    b.append_empty(ct)
                else:
                    b.append(ct, cparts)
                parent.append(i)
                ordinal.append(k)
            continue
        parts = ga.geom_slices(i)
        st = SINGLE_OF.get(t, t)
        if not parts:
            b.append_empty(st)
            parent.append(i)
            ordinal.append(0)
            continue
        for k, p in enumerate(parts):
            if st == GT_POINT:
                b.append_point(p[0][0, 0], p[0][0, 1])
            else:
                b.append(st, [p])
            parent.append(i)
            ordinal.append(k)
    return b.finish(), np.array(parent, dtype=np.int64), np.array(ordinal, dtype=np.int64)


def get_coordinates(ga: GeometryArray):
    """→ (coords float64[N,2], parent_index int64[N])."""
    return ga.coords.copy(), ga.coord_geom_index()


def collect(ga: GeometryArray, indices=None) -> tuple:
    """Gather all rows into one multi-geometry (reference:
    tools/util.py:13-44 collect). Returns a 1-row GeometryArray; mixed
    dimension classes (or GC rows) collect into a GEOMETRYCOLLECTION of
    every single-geometry part, like GEOS GeometryCollect."""
    types = set(int(t) for t in np.unique(ga.types) if t != GT_MISSING)
    singles = {SINGLE_OF.get(t, t) for t in types}
    if len(singles) > 1 or GT_GEOMETRYCOLLECTION in singles:
        b = GeometryBuilder()
        children = []
        for i in range(len(ga)):
            t = int(ga.types[i])
            if t == GT_MISSING:
                continue
            if t == GT_GEOMETRYCOLLECTION:
                children.extend(ga.children_of(i))
            else:
                children.append((t, ga.geom_slices(i)))
        if not children:
            b.append_null()
        else:
            b.append_collection(children)
        return b.finish()
    b = GeometryBuilder()
    if not singles:
        b.append_null()
        return b.finish()
    st = singles.pop()
    if st == GT_POINT and types <= {GT_POINT}:
        # all single points: missing/empty rows span zero coords, so the
        # coord buffer IS the part list — one vectorized block append
        # (the per-row geom_slices loop costs ~0.5 s per 100k rows)
        if len(ga.coords):
            b.append_multipoint(ga.coords)
        else:
            b.append_empty(GT_MULTIPOINT)
        return b.finish()
    parts = []
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            continue
        parts.extend(ga.geom_slices(i))
    if not parts:
        b.append_empty(MULTI_OF[st])
    else:
        b.append(MULTI_OF[st], parts)
    return b.finish()


def _coverage_union(ga: GeometryArray):
    """Union of an edge-matched polygonal coverage WITHOUT a sweep —
    O(E log E) edge cancellation (reference union_all(method="coverage"),
    geopandas/base.py:2500, array.py:1002-1019; GEOS CoverageUnion).

    Every interior (shared) edge of a valid coverage appears exactly twice
    with opposite directions and cancels under a net-signed count; the
    survivors are the union boundary, traced into rings (leftmost-turn at
    pinch vertices) and re-nested by containment parity. Returns None on
    DETECTABLE violations (an edge reused in the same direction,
    dangling boundaries, non-polygon rows, full cancellation) — callers
    fall back to the full union. Like GEOS CoverageUnion, overlaps that
    share no edge (crossing rings) are undetectable without a sweep: the
    result is undefined for such invalid coverages, per the reference
    contract. Associative across subsets of a coverage, so two-phase
    dissolve partials compose."""
    import math

    empty = ga.is_empty()
    idx = [i for i in range(len(ga))
           if ga.types[i] != GT_MISSING and not empty[i]]
    if not idx:
        return None
    if any(int(ga.types[i]) not in POLYGON_TYPES for i in idx):
        return None
    if len(idx) == 1:
        b = GeometryBuilder()
        _append_polys(b, [[r for r in p] for p in ga.geom_slices(idx[0])])
        return b.finish()
    ps, qs = [], []
    for i in idx:
        for r in _geom_rings_closed(ga, i):
            if len(r) >= 4:
                ps.append(r[:-1])
                qs.append(r[1:])
    if not ps:
        return None
    P = np.concatenate(ps, axis=0)
    Q = np.concatenate(qs, axis=0)
    keep = (P[:, 0] != Q[:, 0]) | (P[:, 1] != Q[:, 1])
    P, Q = P[keep], Q[keep]
    if len(P) == 0:
        return None
    swap = (P[:, 0] > Q[:, 0]) | ((P[:, 0] == Q[:, 0]) & (P[:, 1] > Q[:, 1]))
    A = np.where(swap[:, None], Q, P)
    B = np.where(swap[:, None], P, Q)
    sgn = np.where(swap, -1.0, 1.0)
    order = np.lexsort((B[:, 1], B[:, 0], A[:, 1], A[:, 0]))
    A, B, sgn = A[order], B[order], sgn[order]
    new = np.ones(len(A), dtype=bool)
    new[1:] = ((A[1:, 0] != A[:-1, 0]) | (A[1:, 1] != A[:-1, 1]) |
               (B[1:, 0] != B[:-1, 0]) | (B[1:, 1] != B[:-1, 1]))
    grp = np.cumsum(new) - 1
    net = np.bincount(grp, weights=sgn)
    if len(net) and np.abs(net).max() > 1.5:
        return None            # an edge used twice the same way: overlap
    starts = np.nonzero(new)[0]
    surv = np.nonzero(net != 0)[0]
    if len(surv) == 0:
        return None            # full cancellation (stacked duplicates)
    sA, sB, sd = A[starts[surv]], B[starts[surv]], net[surv]
    fwd = sd > 0
    frm = np.where(fwd[:, None], sA, sB)
    to = np.where(fwd[:, None], sB, sA)
    out_map = {}
    for e in range(len(frm)):
        out_map.setdefault((frm[e, 0], frm[e, 1]), []).append(e)
    used = np.zeros(len(frm), dtype=bool)
    rings = []
    for s0 in range(len(frm)):
        if used[s0]:
            continue
        first = (frm[s0, 0], frm[s0, 1])
        ring = [first]
        e = s0
        closed = False
        for _guard in range(len(frm) + 1):
            used[e] = True
            p = (frm[e, 0], frm[e, 1])
            q = (to[e, 0], to[e, 1])
            ring.append(q)
            if q == first:
                closed = True
                break
            cands = [c for c in out_map.get(q, ()) if not used[c]]
            if not cands:
                return None    # dangling boundary: not a clean coverage
            if len(cands) == 1:
                e = cands[0]
            else:              # pinch vertex: leftmost (most-CCW) turn
                inc = math.atan2(q[1] - p[1], q[0] - p[0])
                best, best_rel = cands[0], -1.0
                for c in cands:
                    cq = (to[c, 0], to[c, 1])
                    rel = (math.atan2(cq[1] - q[1], cq[0] - q[0])
                           - inc - math.pi) % (2 * math.pi)
                    if rel > best_rel:
                        best, best_rel = c, rel
                e = best
        if not closed or len(ring) < 4:
            return None
        rings.append(np.asarray(ring, dtype=np.float64))
    b = GeometryBuilder()
    _append_polys(b, _mr.assemble_rings(rings))
    return b.finish()


def _lineal_union(ga: GeometryArray, idx) -> GeometryArray:
    """Union of (multi)linestrings (reference base.py:2500-2553, GEOS
    unary_union over lineal input): node every segment at its crossings
    with all other segments, drop collinear-duplicate noded pieces
    (overlap dedupe — union length is exact), and re-chain each input
    part's surviving pieces, breaking at noding split points. Matches
    GEOS's noded output geometrically; piece layout deviates only where
    another line passes exactly through an interior VERTEX (GEOS splits
    there, we keep the chain — documented deviation, same point set).

    Noding is the vectorized per-segment split against the x-window
    bbox candidates (near-linear for locally-crossing networks;
    worst-case O(S^2) when one segment spans everything); callers at
    scale pre-partition by key."""
    seglists = []
    for i in idx:
        for p in ga.geom_slices(i):
            for r in p:
                if len(r) >= 2:
                    # snap to the canon quantum (the same 1e-9 grid the
                    # piece keys round to) BEFORE noding: ulp-separated
                    # near-collinear twins (y vs y+1e-15) otherwise pass
                    # neither the exact denom==0 collinear-overlap split
                    # nor the 0<t<1 crossing test, leaving a double-
                    # counted overlap the dedupe can't see (8th fuzz
                    # find: idempotence broke by the overlap length).
                    rs = np.round(np.asarray(r, np.float64), 9)
                    seglists.append(np.stack([rs[:-1], rs[1:]], axis=1))
    b = GeometryBuilder()
    if not seglists:
        b.append_empty(GT_MULTILINESTRING)
        return b.finish()

    def canon(p):
        return (round(float(p[0]), 9), round(float(p[1]), 9))

    def _pass(seglists):
        all_segs = np.concatenate(seglists, axis=0)
        lens = np.array([len(s) for s in seglists])
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        # x-window bbox prefilter for the noding: per segment, only edges
        # whose bbox can overlap are tested (the naive np.delete +
        # full-array split was O(S^2) copies — 8k segments took 3.1 s;
        # local road networks node near-linearly with the window)
        bx0 = np.minimum(all_segs[:, 0, 0], all_segs[:, 1, 0])
        bx1 = np.maximum(all_segs[:, 0, 0], all_segs[:, 1, 0])
        by0 = np.minimum(all_segs[:, 0, 1], all_segs[:, 1, 1])
        by1 = np.maximum(all_segs[:, 0, 1], all_segs[:, 1, 1])
        xorder = np.argsort(bx0, kind="stable")
        sbx0 = bx0[xorder]
        wmax = float((bx1 - bx0).max()) if len(bx0) else 0.0

        def _others_for(gidx):
            lo = np.searchsorted(sbx0, bx0[gidx] - wmax, "left")
            hi = np.searchsorted(sbx0, bx1[gidx], "right")
            cand = xorder[lo:hi]
            m = ((bx1[cand] >= bx0[gidx]) & (by0[cand] <= by1[gidx]) &
                 (by1[cand] >= by0[gidx]) & (cand != gidx))
            return all_segs[cand[m]]

        seen = set()
        pieces = []
        chain = None

        def flush():
            nonlocal chain
            if chain is not None and len(chain) >= 2:
                pieces.append(np.asarray(chain, dtype=np.float64))
            chain = None

        for pi, segs in enumerate(seglists):
            flush()
            for k in range(len(segs)):
                gidx = starts[pi] + k
                others = _others_for(gidx)
                p0, p1 = segs[k][0], segs[k][1]
                if len(others):
                    subs = _split_segment_by_edges(p0, p1, others[:, 0],
                                                   others[:, 1])
                else:
                    subs = [segs[k]]
                for si, sub in enumerate(subs):
                    a, b2 = canon(sub[0]), canon(sub[1])
                    if a == b2:
                        continue
                    key = (a, b2) if a <= b2 else (b2, a)
                    dup = key in seen
                    seen.add(key)
                    if si > 0:      # noding split point: always a break
                        flush()
                    if dup:
                        flush()
                        continue
                    if chain is None:
                        chain = [sub[0], sub[1]]
                    else:
                        chain.append(sub[1])
            flush()
        flush()
        return pieces

    # snap-rounding iteration: a pass over ON-GRID segments whose output
    # is still on-grid is a fixed point (collinear overlaps of on-grid
    # segments split at on-grid endpoints and dedupe by key; off-grid
    # coords only arise from transversal crossing points). When crossings
    # at sub-quantum angles mint off-grid split points, snapping them can
    # create collinear overlaps the pass couldn't see — re-node until the
    # output sits fully on the grid (real data: 1 pass). The r9
    # idempotence fuzz showed the old 3-pass cap gave up BEFORE the
    # cascade of snap-created collinear overlaps was fully deduped on
    # quantum-tilted-twin input (a second union over the output then
    # collapsed 0.5 of length); the same input converges to the on-grid
    # hard fixpoint within ~17 passes (each pass resolves one layer of
    # the snap-cascade: a rounded split point can re-cross its partner
    # a quantum away), so the cap is 24 — extra passes only run for
    # components that actually minted off-grid crossing points, which
    # real linework does not (1 pass).
    pieces = _pass(seglists)
    for _ in range(24):
        if not pieces:
            break
        flat = np.concatenate([p.ravel() for p in pieces])
        if np.array_equal(flat, np.round(flat, 9)):
            break                   # on-grid output is a hard fixpoint
        pieces = _pass([np.stack([q[:-1], q[1:]], axis=1)
                        for q in (np.round(p, 9) for p in pieces)])
    if not pieces:
        b.append_empty(GT_MULTILINESTRING)
    elif len(pieces) == 1:
        b.append(GT_LINESTRING, [[pieces[0]]])
    else:
        b.append(GT_MULTILINESTRING, [[p] for p in pieces])
    return b.finish()


def _bbox_pairs(bb, cap):
    """Index pairs ``(i, j)`` of the boxes in ``bb`` (rows minx, miny,
    maxx, maxy) that overlap or touch, from one x-sorted sweep; None
    once more than ``cap`` pairs are found.

    The sweep is batched: one searchsorted for all x-windows, one
    flattened candidate build and one y-mask (a per-box searchsorted +
    nonzero loop was ~25% of a 30k-box union). A dense input, whose
    x-windows total more than 8M candidates, takes the early-exiting
    per-box loop instead of a quadratic candidate array."""
    n = len(bb)
    order = np.argsort(bb[:, 0], kind="stable")
    x0, x1 = bb[order, 0], bb[order, 2]
    y0, y1 = bb[order, 1], bb[order, 3]
    his = np.searchsorted(x0, x1, side="right")
    cnt = his - np.arange(1, n + 1)
    np.maximum(cnt, 0, out=cnt)
    tot = int(cnt.sum())
    if tot <= 8_000_000:
        aa = np.repeat(np.arange(n), cnt)
        cc = (np.arange(tot, dtype=np.int64)
              - np.repeat(np.cumsum(cnt) - cnt, cnt)) + aa + 1
        m = (y0[cc] <= y1[aa]) & (y1[cc] >= y0[aa])
        if int(m.sum()) > cap:
            return None
        return list(zip(order[aa[m]].tolist(), order[cc[m]].tolist()))
    pairs = []
    for a in range(n):
        hi = his[a]
        if hi <= a + 1:
            continue
        cand = np.nonzero((y0[a + 1:hi] <= y1[a]) &
                          (y1[a + 1:hi] >= y0[a]))[0]
        pairs.extend((int(order[a]), int(order[a + 1 + c])) for c in cand)
        if len(pairs) > cap:
            return None
    return pairs


def _components(n, pairs):
    """Union-find over ``n`` items joined by ``pairs``: the root of each
    item's component."""
    uf = list(range(n))

    def find(a):
        root = a
        while uf[root] != root:
            root = uf[root]
        while uf[a] != root:
            uf[a], a = root, uf[a]
        return root

    for a, c in pairs:
        ra, rc = find(a), find(c)
        if ra != rc:
            uf[rc] = ra
    return [find(a) for a in range(n)]


def union_all(ga: GeometryArray, method: str = "unary") -> GeometryArray:
    """Union of all rows (reference: geopandas/base.py:2500-2553).

    Point sets: coordinate dedupe. Pairwise-disjoint polygons/lines: plain
    collect (matches GEOS). Overlapping polygons: the parts of every
    interacting component go through one ``_union_polys`` sweep (same
    result as GEOS's cascaded union up to ring ordering).

    ``method`` mirrors the reference (array.py:1002-1019): "coverage"
    takes the O(E log E) edge-cancellation fast path for edge-matched
    inputs (falling back to the full union when the input isn't a clean
    coverage); "unary" and "disjoint_subset" both run the
    connected-component decomposition below (which IS a disjoint-subset
    strategy: only overlapping components pay the sweep)."""
    if method not in ("unary", "coverage", "disjoint_subset"):
        raise ValueError(f"unknown union method {method!r}")
    if method == "coverage":
        out = _coverage_union(ga)
        if out is not None:
            return out
    types = set(int(t) for t in np.unique(ga.types) if t != GT_MISSING)
    singles = {SINGLE_OF.get(t, t) for t in types}
    b = GeometryBuilder()
    if not singles:
        b.append_null()
        return b.finish()
    if GT_GEOMETRYCOLLECTION in singles or len(singles) > 1:
        # mixed dimension classes / GC rows (reference unary_union over
        # mixed input, base.py:2500): decompose every row by dimension
        # class and merge with the standard OverlayNG normalization —
        # polygonal union, lineal union reduced by the polygonal region,
        # points deduped and dropped where covered
        empty = ga.is_empty()
        rows = []
        for i in range(len(ga)):
            if int(ga.types[i]) == GT_MISSING or empty[i]:
                continue
            rows.extend(_gc_typed_rows(ga, i))
        _append_combined_setop(b, rows)
        return b.finish()
    if singles == {GT_POINT}:
        # dedupe via lexsort (np.unique(axis=0)'s void-view sort is ~10x
        # slower on large coord blocks)
        c = ga.coords
        if len(c) > 1:
            order = np.lexsort((c[:, 1], c[:, 0]))
            sc = c[order]
            keep = np.ones(len(sc), dtype=bool)
            keep[1:] = (sc[1:] != sc[:-1]).any(axis=1)
            pts = sc[keep]
        else:
            pts = c
        if len(pts) == 0:
            b.append_empty(GT_MULTIPOINT)
        elif len(pts) == 1:
            b.append_point(pts[0, 0], pts[0, 1])
        else:
            b.append_multipoint(pts)
        return b.finish()
    # connected-component decomposition (GEOS cascaded-union shape):
    # bbox-overlap pairs from a vectorized x-sweep build a union-find;
    # only components that genuinely interact pay Martinez–Rueda, the
    # (typically dominant) disjoint remainder passes through untouched.
    # Correct because cross-component nesting is impossible: containment
    # implies bbox overlap implies same component.
    bb = bounds(ga)
    empty = ga.is_empty()
    idx = [i for i in range(len(ga)) if ga.types[i] != GT_MISSING
           and not empty[i]]
    # canon-quantum row dedupe (union is idempotent, and two rows whose
    # every coordinate agrees within a few 1e-9 canon quanta are the
    # SAME geometry at the kernel's resolution — the tracer rounds
    # vertices to that grid, so sub-quantum-separated near-coincident
    # boundaries are ambiguous for the sweep: 1e-9-jittered duplicate
    # boxes traced as shell+hole net-zero or double-counted area, 9th
    # fuzz find). Stacked duplicates are also the dissolve phase-2
    # shape, where each k-stack minted k^2/2 bbox pairs, blowing past
    # PAIR_CAP and fusing everything into ONE sweep (~5.6 of 6.5 s of
    # the 600k-box stress dissolve). Candidates come from an x0-sorted
    # tolerance window with vectorized bound/size rejection; a
    # candidate is dropped only when ring structure matches exactly and
    # max|coord delta| <= TOL, so distinct geometries sharing a bbox
    # never conflate. Dropping changes the union by <= perimeter*TOL.
    # LINES keep exact-only dedupe (TOL 0): two parallel lines 1e-9
    # apart are distinct per GEOS (both lengths count) and the lineal
    # kernel resolves at the 1e-9 canon grid — a coarser row TOL made
    # union-of-own-parts non-idempotent (hypothesis-found).
    TOL = 4e-9 if singles == {GT_POLYGON} else 0.0
    dropped_dups = False
    if len(idx) > 1:
        ii0 = np.asarray(idx)
        co = ga.coord_offsets_per_geom()
        cpr = ga.coords_per_ring()
        rpg_a = ga.rings_per_geom()
        rstart = ga.part_offsets[ga.geom_offsets]
        kb = bb[ii0]
        nc = co[ii0 + 1] - co[ii0]
        order0 = np.argsort(kb[:, 0], kind="stable")
        x0s = kb[order0, 0]
        m0 = len(ii0)
        if bool((np.diff(x0s) <= TOL).any()):
            keep = np.ones(len(ii0), dtype=bool)
            C = ga.coords
            his = np.searchsorted(x0s, x0s + TOL, side="right")
            cnt = his - np.arange(1, m0 + 1)
            np.maximum(cnt, 0, out=cnt)
            tot = int(cnt.sum())
            if tot <= 30_000_000:
                # phase A, fully batched (one flattened window build +
                # one mask): surviving candidate pairs are the rare
                # genuine near-dups; a per-row numpy loop here cost
                # 0.5 s on 30k grid tiles sharing exact x0 columns
                aa = np.repeat(np.arange(m0), cnt)
                cc = (np.arange(tot, dtype=np.int64)
                      - np.repeat(np.cumsum(cnt) - cnt, cnt)) + aa + 1
                oa, oc = order0[aa], order0[cc]
                pm = ((nc[oc] == nc[oa]) &
                      (np.abs(kb[oc, 1] - kb[oa, 1]) <= TOL) &
                      (np.abs(kb[oc, 2] - kb[oa, 2]) <= TOL) &
                      (np.abs(kb[oc, 3] - kb[oa, 3]) <= TOL))
                cand_pairs = zip(oa[pm].tolist(), oc[pm].tolist())
            else:
                def _gen():
                    for k in range(m0):
                        if his[k] <= k + 1:
                            continue
                        ok = order0[k]
                        for oj in order0[k + 1:his[k]]:
                            if (nc[oj] == nc[ok] and
                                abs(kb[oj, 1] - kb[ok, 1]) <= TOL and
                                abs(kb[oj, 2] - kb[ok, 2]) <= TOL and
                                    abs(kb[oj, 3] - kb[ok, 3]) <= TOL):
                                yield ok, oj
                cand_pairs = _gen()
            # phase B: keep-aware exact verification, k-major order so
            # each stack collapses onto its first-seen representative
            for ok, oj in cand_pairs:
                if not keep[ok] or not keep[oj]:
                    continue
                gi, gj = int(ii0[ok]), int(ii0[oj])
                if rpg_a[gi] != rpg_a[gj]:
                    continue
                rli = cpr[rstart[gi]:rstart[gi] + rpg_a[gi]]
                rlj = cpr[rstart[gj]:rstart[gj] + rpg_a[gj]]
                if not np.array_equal(rli, rlj):
                    continue
                ci = C[co[gi]:co[gi + 1]]
                cj = C[co[gj]:co[gj + 1]]
                if np.abs(ci - cj).max() <= TOL:   # NaN -> keep both
                    keep[oj] = False
            if not keep.all():
                idx = [int(v) for v in ii0[keep]]
                dropped_dups = True
    n = len(idx)
    PAIR_CAP = 500_000
    pairs = (_bbox_pairs(bb[np.asarray(idx, dtype=np.int64)], PAIR_CAP)
             if n > 1 else [])
    if pairs is None:
        # dense regime: one global component (conservative, correct)
        pairs = [(0, a) for a in range(1, n)]
    elif len(pairs) <= 2_000:
        # small inputs: exact per-pair test keeps the passthrough set
        # maximal (bbox overlap without true intersection stays
        # disjoint, preserving the reference's collect semantics).
        # Beyond the cap the per-pair Python tests cost more than the
        # extra MR work they would avoid (measured on 8k dense boxes:
        # 29k exact tests ≈ +6 s vs ~0 saved) — bbox components are
        # conservative but correct. The per-pair exact test cost scales
        # with the coord-count product; two multi-hundred-part
        # MultiPolygon rows per pair (dissolve partials) took minutes
        # for ~500 pairs — heavy pairs stay conservatively joined instead
        cpg = ga.coords_per_geom()
        co_g = ga.coord_offsets_per_geom()
        rpg_g = ga.rings_per_geom()
        C_g = ga.coords
        rect_cache = {}

        def _isrect(gi):
            # geometry == its own bbox (axis-aligned rectangle):
            # the already-verified bbox overlap IS the exact
            # intersection test, so skip _pair_intersects — the
            # dissolve merge phase is wall-to-wall boxes and the
            # exact filter was ~half its union_all time
            v = rect_cache.get(gi)
            if v is None:
                v = False
                if cpg[gi] == 5 and rpg_g[gi] == 1:
                    c5 = C_g[co_g[gi]:co_g[gi] + 5]
                    bx = bb[gi]
                    if (c5[0, 0] == c5[4, 0] and
                            c5[0, 1] == c5[4, 1]):
                        pts = {(c5[k, 0], c5[k, 1])
                               for k in range(4)}
                        v = pts == {(bx[0], bx[1]), (bx[2], bx[1]),
                                    (bx[2], bx[3]), (bx[0], bx[3])}
                rect_cache[gi] = v
            return v

        pairs = [(a, c) for a, c in pairs
                 if cpg[idx[a]] * cpg[idx[c]] > 250_000
                 or (_isrect(idx[a]) and _isrect(idx[c]))
                 or _pair_intersects(ga, idx[a], ga, idx[c])]
    if not pairs:
        # after a dedupe, collect only the surviving rows — collect(ga)
        # would resurrect the dropped duplicates; a single survivor
        # returns as itself (GEOS: unary_union of k identical geometries
        # is the geometry, not a 1-part MULTI)
        if dropped_dups:
            return (ga.take(np.asarray(idx)) if len(idx) == 1
                    else collect(ga.take(np.asarray(idx))))
        return collect(ga)
    if singles == {GT_LINESTRING}:
        return _lineal_union(ga, idx)
    # only the pure-polygon class reaches the component machinery below
    # (points returned above; mixed/GC diverted to the combined merge)
    assert singles <= {GT_POLYGON}, singles

    # ---- part-level component analysis ----
    # Rows touched by a row-level bbox pair are decomposed into their
    # polygon PARTS and the union-find reruns at part granularity. The
    # motivating shape is the dissolve merge phase: each input row is a
    # several-hundred-part MultiPolygon partial whose parts only overlap
    # other partials near partition seams — row granularity fused entire
    # partials into one sweep (every part re-noded), part granularity
    # passes the disjoint bulk through untouched and sweeps only the
    # seam parts. Union semantics are unchanged (union of parts = union
    # of rows); parts of a self-overlapping row resolve against each
    # other, matching GEOS unary_union.
    involved = np.zeros(n, dtype=bool)
    for a, c in pairs:
        involved[a] = involved[c] = True
    parts = []      # oriented closed ring-lists, one per involved part
    prow_of = []    # originating row position (ascending)
    pb_list = []
    for a in range(n):
        if not involved[a]:
            continue
        for part in ga.geom_slices(idx[a]):
            rings = []
            for j, r in enumerate(part):
                r = _mr._close(r)
                if len(r) < 4:
                    continue
                sa = _mr._ring_signed_area(r)
                if (sa > 0) != (j == 0) and sa != 0:
                    r = r[::-1]
                rings.append(r)
            if not rings:
                continue
            parts.append(rings)
            prow_of.append(a)
            pb_list.append((min(r[:, 0].min() for r in rings),
                            min(r[:, 1].min() for r in rings),
                            max(r[:, 0].max() for r in rings),
                            max(r[:, 1].max() for r in rings)))
    m = len(parts)
    pb = np.asarray(pb_list, dtype=np.float64).reshape(m, 4)
    multipart = m and bool(
        (ga.parts_per_geom()[np.asarray(idx)[involved]] > 1).any())
    if not multipart:
        # every involved row is a single polygon: parts ↔ rows 1:1, so the
        # row-level components already ARE the part components — skip
        # the second bbox sweep (the dissolve merge phase explodes
        # partials with get_parts before union_all, landing here)
        root = _components(n, pairs)
        proot = [root[a] for a in prow_of]
    else:
        ppairs = _bbox_pairs(pb, PAIR_CAP)
        if ppairs is None:
            ppairs = [(0, k) for k in range(1, m)]
        proot = _components(m, ppairs)
    pcomps = {}
    for p in range(m):
        pcomps.setdefault(proot[p], []).append(p)
    single_parts = {v[0] for v in pcomps.values() if len(v) == 1}
    multi_comps = sorted((v for v in pcomps.values() if len(v) > 1),
                         key=lambda v: min(v))

    # ONE sweep across every interacting part component: components are
    # mutually disjoint, so union_many resolves them all in a single
    # noding pass (per-component calls paid the event stream, segment
    # index and trace setup once per component — ~90% of a 9.3 s union
    # of 24k boxes in ~10k 2-3-member components)
    merged = _union_polys([parts[p] for comp in multi_comps for p in comp])

    all_polys = []
    pi = 0
    for a in range(n):
        if not involved[a]:
            all_polys.extend(ga.geom_slices(idx[a]))
            continue
        while pi < m and prow_of[pi] == a:
            if pi in single_parts:
                all_polys.append(parts[pi])
            pi += 1
    if merged:
        all_polys.extend(merged)
    _append_polys(b, all_polys)
    return b.finish()


def _gridded(op):
    """Add the reference's ``grid_size`` kwarg (base.py:4405-4879,
    array.py:1002-1019) to a set operation: snap the operands to the grid,
    run the op, snap the result — the robustness knob SURVEY §7.3
    prescribes for stable distributed unions."""
    import functools

    @functools.wraps(op)
    def wrapper(*arrays, grid_size=None, **kw):
        if grid_size:
            arrays = tuple(set_precision(a, grid_size) for a in arrays)
        out = op(*arrays, **kw)
        if grid_size:
            out = set_precision(out, grid_size)
        return out
    return wrapper


intersection = _gridded(intersection)
difference = _gridded(difference)
union = _gridded(union)
symmetric_difference = _gridded(symmetric_difference)
union_all = _gridded(union_all)


def intersection_all(ga: GeometryArray) -> GeometryArray:
    """Reduction by pairwise intersection, ignoring missing rows
    (reference: geopandas/base.py:2554-2582, array.py:1021-1022).
    Associative, so the same tree/sequential reduction is valid across
    Spark partitions. Early-exits once the accumulator is empty."""
    idx = [i for i in range(len(ga)) if ga.types[i] != GT_MISSING]
    b = GeometryBuilder()
    if not idx:
        b.append_null()
        return b.finish()
    acc = ga.take(idx[:1])
    for i in idx[1:]:
        acc = intersection(acc, ga.take([i]))
        if acc.is_empty()[0]:
            break
    return acc


def shared_paths(ga: GeometryArray, gb: GeometryArray) -> tuple:
    """Collinear shared portions of two line inputs (reference
    base.py:5152; GEOS SharedPaths). GEOS packs the two direction classes
    into a GEOMETRYCOLLECTION of two MULTILINESTRINGs; our kernel has no
    collection type (documented deviation), so this returns a pair of
    GeometryArrays ``(same_direction, opposite_direction)`` — the st_
    layer exposes them as a struct column, which is the Spark-idiomatic
    shape anyway.
    """
    bs, bo = GeometryBuilder(), GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING or gb.types[i] == GT_MISSING:
            bs.append_null()
            bo.append_null()
            continue
        sa, sb = _geom_segments(ga, i), _geom_segments(gb, i)
        same, opp = [], []
        if len(sa) and len(sb):
            a1 = sa[:, 0][:, None, :]
            r = (sa[:, 1] - sa[:, 0])[:, None, :]
            b1 = sb[:, 0][None, :, :]
            s = (sb[:, 1] - sb[:, 0])[None, :, :]
            rlen2 = (r * r).sum(-1)
            scale = np.sqrt(np.where(rlen2 == 0, 1.0, rlen2))
            cross_rs = r[..., 0] * s[..., 1] - r[..., 1] * s[..., 0]
            qp = b1 - a1
            cross_qr = qp[..., 0] * r[..., 1] - qp[..., 1] * r[..., 0]
            # parallel AND collinear (eps scaled by segment length)
            eps = 1e-12
            par = np.abs(cross_rs) <= eps * scale * scale
            col = np.abs(cross_qr) <= eps * scale * scale
            cand = par & col & (rlen2 > 0)
            ii, jj = np.nonzero(cand)
            for k in range(len(ii)):
                ai, bj = ii[k], jj[k]
                rv = sa[ai, 1] - sa[ai, 0]
                rr = float((rv * rv).sum())
                t0 = float(((sb[bj, 0] - sa[ai, 0]) * rv).sum() / rr)
                t1 = float(((sb[bj, 1] - sa[ai, 0]) * rv).sum() / rr)
                lo, hi = max(0.0, min(t0, t1)), min(1.0, max(t0, t1))
                if hi - lo <= eps:
                    continue

                def _pt_at(t):
                    # pin to an actual input vertex when the clamp landed
                    # on one (bit-exact overlap endpoints — parametric
                    # recompute drifts by an ulp, e.g. 41*(7/41))
                    if t == 0.0:
                        return sa[ai, 0]
                    if t == 1.0:
                        return sa[ai, 1]
                    if t == t0:
                        return sb[bj, 0]
                    if t == t1:
                        return sb[bj, 1]
                    return sa[ai, 0] + t * rv

                p, q = _pt_at(lo), _pt_at(hi)
                (same if t1 > t0 else opp).append(np.array([p, q]))
        for out, segs2 in ((bs, same), (bo, opp)):
            if segs2:
                out.append(GT_MULTILINESTRING, [[sg] for sg in segs2])
            else:
                out.append_empty(GT_MULTILINESTRING)
    return line_merge(bs.finish()), line_merge(bo.finish())


# ---------------------------------------------------------------------------
# line referencing (reference: interpolate base.py:5925, project :5827)
# ---------------------------------------------------------------------------

def _measure_segments(ga: GeometryArray, i: int):
    """Per-part segments of a (multi)linestring concatenated WITHOUT
    bridge segments between parts (GEOS's cumulative linear-referencing
    convention): returns (starts, vecs, seg_lengths) or None."""
    rs = [p[0] for p in ga.geom_slices(i) if len(p[0]) >= 2]
    if not rs:
        return None
    starts, vecs, lens = [], [], []
    for r in rs:
        d = np.diff(r, axis=0)
        starts.append(r[:-1])
        vecs.append(d)
        # sqrt form (not hypot) → bit-identical to SQL sqrt(dx*dx+dy*dy)
        lens.append(np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]))
    return (np.concatenate(starts), np.concatenate(vecs),
            np.concatenate(lens))


def interpolate(ga: GeometryArray, dist, normalized=False) -> GeometryArray:
    """Point at a distance along a (multi)linestring (base.py:5925):
    measures accumulate across MultiLineString parts; negative distances
    measure backwards from the end (GEOS convention)."""
    dist = np.broadcast_to(np.asarray(dist, dtype=np.float64), (len(ga),))
    cx = np.full(len(ga), np.nan)
    cy = np.full(len(ga), np.nan)
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t not in (GT_LINESTRING, GT_MULTILINESTRING):
            continue
        ms = _measure_segments(ga, i)
        if ms is None:
            continue
        a, d, seg = ms
        cum = np.concatenate([[0.0], np.cumsum(seg)])
        total = cum[-1]
        target = dist[i] * total if normalized else dist[i]
        if target < 0:
            target += total
        target = min(max(target, 0.0), total)
        k = int(np.searchsorted(cum, target, side="right") - 1)
        k = min(k, len(seg) - 1)
        frac = (target - cum[k]) / seg[k] if seg[k] > 0 else 0.0
        p = a[k] + frac * d[k]
        cx[i], cy[i] = p
    miss = ga.is_missing()
    lineal = np.isin(ga.types, (GT_LINESTRING, GT_MULTILINESTRING))
    # non-lineal / empty lineal input → POINT EMPTY (GEOS convention)
    return _points_with_empties(cx, cy, miss,
                                (~miss) & np.isnan(cx) & lineal
                                | ((~miss) & ~lineal))


def project(ga: GeometryArray, gb: GeometryArray, normalized=False) -> np.ndarray:
    """Distance along (multi)line A to the point on A nearest to point B
    (base.py:5827); MultiLineString measures accumulate across parts."""
    out = np.full(len(ga), np.nan)
    for i in range(len(ga)):
        if int(ga.types[i]) not in (GT_LINESTRING, GT_MULTILINESTRING) \
                or int(gb.types[i]) != GT_POINT:
            continue
        ms = _measure_segments(ga, i)
        p = _geom_points(gb, i)
        if ms is None or not len(p):
            continue
        a, d, seg = ms
        cum = np.concatenate([[0.0], np.cumsum(seg)])
        denom = (d * d).sum(1)
        t = np.clip(((p[0] - a) * d).sum(1) / np.where(denom == 0, 1, denom), 0, 1)
        proj = a + t[:, None] * d
        dd = np.hypot(*(p[0] - proj).T)
        k = int(np.argmin(dd))
        val = cum[k] + t[k] * seg[k]
        out[i] = val / cum[-1] if (normalized and cum[-1] > 0) else val
    return out


# ---------------------------------------------------------------------------
# Hilbert curve (public algorithm; reference reimplements it too:
# geopandas/tools/hilbert_curve.py — ours written from the standard
# xy→d bit-interleave formulation, vectorized)
# ---------------------------------------------------------------------------

def hilbert_distance(ga: GeometryArray, total_bounds_=None, level: int = 15) -> np.ndarray:
    """Distance along a 2^level × 2^level Hilbert curve of the bbox
    midpoint of each geometry — the engine's spatial-partitioning key
    (SURVEY §2.6/§4)."""
    bb = bounds(ga)
    mx = (bb[:, 0] + bb[:, 2]) / 2.0
    my = (bb[:, 1] + bb[:, 3]) / 2.0
    if total_bounds_ is None:
        tb = [np.nanmin(bb[:, 0]), np.nanmin(bb[:, 1]),
              np.nanmax(bb[:, 2]), np.nanmax(bb[:, 3])]
    else:
        tb = total_bounds_
    side = 2 ** level
    dx = (tb[2] - tb[0]) or 1.0
    dy = (tb[3] - tb[1]) or 1.0
    x = np.clip(((mx - tb[0]) / dx * (side - 1)), 0, side - 1)
    y = np.clip(((my - tb[1]) / dy * (side - 1)), 0, side - 1)
    x = np.nan_to_num(x).astype(np.int64)
    y = np.nan_to_num(y).astype(np.int64)
    return hilbert_xy_to_d(x, y, level)


def hilbert_xy_to_d(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    """Standard Hilbert curve xy→d (vectorized over points)."""
    x = x.copy()
    y = y.copy()
    d = np.zeros_like(x)
    s = np.int64(2 ** (level - 1))
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = x[flip]
        y_f = y[flip]
        x[flip] = s - 1 - x_f
        y[flip] = s - 1 - y_f
        tx = x[swap].copy()
        x[swap] = y[swap]
        y[swap] = tx
        s //= 2
    return d


# ---------------------------------------------------------------------------
# constructive extras (reference: geopandas/base.py §2.3 lines cited per fn)
# ---------------------------------------------------------------------------

def segmentize(ga: GeometryArray, max_len) -> GeometryArray:
    """Insert vertices so no segment exceeds max_len (base.py:2215)."""
    max_len = np.broadcast_to(np.asarray(max_len, dtype=np.float64), (len(ga),))
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        if t in POINT_TYPES or ga.is_empty()[i]:
            b.append_from(ga, i)
            continue
        m = float(max_len[i])
        parts = ga.geom_slices(i)
        new_parts = []
        for p in parts:
            new_rings = []
            for r in p:
                if len(r) < 2 or m <= 0:
                    new_rings.append(r)
                    continue
                segs = []
                for k in range(len(r) - 1):
                    p0, p1 = r[k], r[k + 1]
                    d = float(np.hypot(*(p1 - p0)))
                    n = max(1, int(np.ceil(d / m)))
                    ts = np.linspace(0.0, 1.0, n + 1)[:-1]
                    segs.append(p0 + ts[:, None] * (p1 - p0))
                segs.append(r[-1:])
                new_rings.append(np.concatenate(segs, axis=0))
            new_parts.append(new_rings)
        b.append(t, new_parts)
    return b.finish()


def remove_repeated_points(ga: GeometryArray, tol=0.0) -> GeometryArray:
    """Drop consecutive vertices within tol (base.py:1663)."""
    tol = np.broadcast_to(np.asarray(tol, dtype=np.float64), (len(ga),))
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        if t in POINT_TYPES or ga.is_empty()[i]:
            b.append_from(ga, i)
            continue
        tv = float(tol[i])
        new_parts = []
        for p in ga.geom_slices(i):
            new_rings = []
            for r in p:
                if len(r) < 2:
                    new_rings.append(r)
                    continue
                keep = [0]
                for k in range(1, len(r)):
                    if np.hypot(*(r[k] - r[keep[-1]])) > tv:
                        keep.append(k)
                closed = np.array_equal(r[0], r[-1])
                rr = r[keep]
                if closed and not np.array_equal(rr[0], rr[-1]):
                    rr = np.concatenate([rr, rr[:1]], axis=0)
                new_rings.append(rr)
            new_parts.append(new_rings)
        b.append(t, new_parts)
    return b.finish()


def extract_unique_points(ga: GeometryArray) -> GeometryArray:
    """Unique vertices per geometry → MULTIPOINT (base.py:1544)."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            b.append_null()
            continue
        pts = _geom_points(ga, i)
        # GEOS keeps first-seen order
        seen, keep = set(), []
        for p in pts:
            k = (p[0], p[1])
            if k not in seen:
                seen.add(k)
                keep.append(p)
        _append_points(b, np.array(keep, dtype=np.float64).reshape(-1, 2),
                       GT_POINT)
    return b.finish()


def orient_polygons(ga: GeometryArray, exterior_ccw: bool = True) -> GeometryArray:
    """Force shell/hole winding (base.py:2059).

    A conditional per-ring permutation (flip rings whose winding is
    wrong): structure is unchanged, so Z/M and GEOMETRYCOLLECTION carry
    through `_with_coords`, and the pass is vectorized — signed ring
    areas come from one segment-sum, the flip gather touches only the
    rings that need it."""
    if ga.n_coords == 0:
        return _with_coords(ga, ga.coords.copy())
    areas = _signed_ring_areas(ga)                    # per ring
    first = _first_ring_mask(ga)                      # ring 0 of each part
    want_ccw = np.where(first, exterior_ccw, not exterior_ccw)
    # only polygonal rows orient; others pass through untouched
    poly_row = np.isin(ga.types, list(POLYGON_TYPES))
    ring_poly = poly_row[ga.ring_geom_index()]
    flip = ring_poly & ((areas < 0) == want_ccw) & (areas != 0)
    idx = np.arange(ga.n_coords, dtype=np.int64)
    ro = ga.ring_offsets
    sizes = np.diff(ro)
    csel = np.repeat(flip, sizes)
    starts = np.repeat(ro[:-1], sizes)
    ends = np.repeat(ro[1:], sizes)
    rev = starts + ends - 1 - idx
    idx = np.where(csel, rev, idx)
    return _with_coords(ga, ga.coords[idx],
                        z=(ga.z[idx] if ga.z is not None else None),
                        m=(ga.m[idx] if ga.m is not None else None))


def _ring_signed_area_arr(r) -> float:
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def normalize(ga: GeometryArray) -> GeometryArray:
    """Canonical form (base.py:2027): shells CCW / holes CW, every ring
    rotated to start at its lexicographically smallest vertex, parts sorted
    by their smallest vertex. (GEOS's normal form differs in winding
    convention; ours is self-consistent — documented deviation.)"""
    oriented = orient_polygons(ga)
    b = GeometryBuilder()
    for i in range(len(oriented)):
        t = int(oriented.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        parts = oriented.geom_slices(i)
        if not parts:
            b.append_empty(t)
            continue
        new_parts = []
        for p in parts:
            rings = []
            for r in p:
                closed = len(r) >= 2 and np.array_equal(r[0], r[-1])
                if closed and len(r) > 2:
                    body = r[:-1]
                    k = int(np.lexsort((body[:, 1], body[:, 0]))[0])
                    body = np.roll(body, -k, axis=0)
                    r = np.concatenate([body, body[:1]], axis=0)
                rings.append(r)
            new_parts.append(rings)
        new_parts.sort(key=lambda p: (p[0][:, 0].min(), p[0][:, 1].min())
                       if len(p[0]) else (np.inf, np.inf))
        b.append(t, new_parts)
    return b.finish()


def set_precision(ga: GeometryArray, grid_size) -> GeometryArray:
    """Snap coordinates to a grid (base.py:1700). Pure coordinate rounding;
    no topology repair of collapsed rings (documented deviation)."""
    grid = np.broadcast_to(np.asarray(grid_size, dtype=np.float64), (len(ga),))
    gv = grid[ga.coord_geom_index()] if len(ga.coords) else grid[:0]
    nc = ga.coords.copy()
    nz = gv > 0
    nc[nz] = np.round(nc[nz] / gv[nz, None]) * gv[nz, None]
    return _with_coords(ga, nc)


def snap(ga: GeometryArray, gb: GeometryArray, tol) -> GeometryArray:
    """Snap a's vertices to b's vertices (then edges) within tol
    (base.py:5051)."""
    tol = np.broadcast_to(np.asarray(tol, dtype=np.float64), (len(ga),))
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING or int(gb.types[i]) == GT_MISSING:
            b.append_null()
            continue
        tv = float(tol[i])
        bpts = _geom_points(gb, i)
        bsegs = _geom_segments(gb, i)
        new_parts = []
        for p in ga.geom_slices(i):
            rings = []
            for r in p:
                rr = r.copy()
                for k in range(len(rr)):
                    v = rr[k]
                    if len(bpts):
                        d = np.hypot(*(bpts - v).T)
                        j = int(np.argmin(d))
                        if d[j] <= tv:
                            rr[k] = bpts[j]
                            continue
                    if len(bsegs):
                        dd = _point_seg_dist(v.reshape(1, 2), bsegs)[0]
                        if dd <= tv:
                            rr[k] = _closest_point_on_segs(v, bsegs)
                rings.append(rr)
            new_parts.append(rings)
        if new_parts:
            b.append(t, new_parts)
        else:
            b.append_empty(t)
    return b.finish()


def _closest_point_on_segs(v, segs):
    p0 = segs[:, 0]
    d = segs[:, 1] - p0
    dd = (d * d).sum(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        tpar = ((v - p0) * d).sum(axis=1) / np.where(dd == 0, 1.0, dd)
    tpar = np.clip(tpar, 0.0, 1.0)
    proj = p0 + tpar[:, None] * d
    dist = np.hypot(*(proj - v).T)
    return proj[int(np.argmin(dist))]


def shortest_line(ga: GeometryArray, gb: GeometryArray) -> GeometryArray:
    """LINESTRING between the closest points of each pair (base.py:4949)."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING or gb.types[i] == GT_MISSING:
            b.append_null()
            continue
        pa, pb = _closest_pair(ga, i, gb, i)
        if pa is None:
            b.append_empty(GT_LINESTRING)
        else:
            b.append(GT_LINESTRING, [[np.array([pa, pb])]])
    return b.finish()


def _closest_pair(ga, i, gb, j):
    """Closest points between rows (vertices + edge projections)."""
    if _pair_intersects(ga, i, gb, j):
        # touching/overlapping: any shared point; use a vertex of a inside b
        pts = _geom_points(ga, i)
        m = _points_member_mask(pts, gb, j)
        if m.any():
            p = pts[m][0]
            return p.copy(), p.copy()
        pts_b = _geom_points(gb, j)
        m = _points_member_mask(pts_b, ga, i)
        if m.any():
            p = pts_b[m][0]
            return p.copy(), p.copy()
        # crossing edges: compute a crossing point
        sa, sb = _geom_segments(ga, i), _geom_segments(gb, j)
        for s in sa:
            for q in sb:
                hits = _mr._segment_intersection(
                    tuple(s[0]), tuple(s[1]), tuple(q[0]), tuple(q[1]))
                if hits:
                    p = np.asarray(hits[0], dtype=np.float64)
                    return p, p.copy()
    best = (np.inf, None, None)
    pa_all, sa = _geom_points(ga, i), _geom_segments(ga, i)
    pb_all, sb = _geom_points(gb, j), _geom_segments(gb, j)
    for p in pa_all:
        if len(sb):
            q = _closest_point_on_segs(p, sb)
        elif len(pb_all):
            q = pb_all[int(np.argmin(np.hypot(*(pb_all - p).T)))]
        else:
            continue
        d = float(np.hypot(*(q - p)))
        if d < best[0]:
            best = (d, p.copy(), q)
    for q in pb_all:
        if len(sa):
            p = _closest_point_on_segs(q, sa)
        elif len(pa_all):
            p = pa_all[int(np.argmin(np.hypot(*(pa_all - q).T)))]
        else:
            continue
        d = float(np.hypot(*(q - p)))
        if d < best[0]:
            best = (d, p, q.copy())
    return best[1], best[2]


def _densify_samples(pts, segs, frac):
    """Vertex set densified by a length fraction (GEOS
    MaxDensifiedByFractionDistanceFilter semantics): every segment
    contributes round(1/frac) equally spaced sample points, plus the
    original vertices."""
    if frac is None or not len(segs):
        return pts
    nsub = max(1, int(round(1.0 / float(frac))))
    if nsub <= 1:
        return pts
    t = (np.arange(1, nsub) / nsub)[None, :, None]        # (1, nsub-1, 1)
    a = segs[:, 0][:, None, :]
    d = (segs[:, 1] - segs[:, 0])[:, None, :]
    extra = (a + t * d).reshape(-1, 2)
    return np.concatenate([pts, extra], axis=0)


def _densify_chain(P, frac):
    """Insert round(1/frac)-1 intermediate vertices per edge of an ordered
    chain (discrete-Fréchet densification, base.py:4281 densify)."""
    if frac is None or len(P) < 2:
        return P
    nsub = max(1, int(round(1.0 / float(frac))))
    if nsub <= 1:
        return P
    t = (np.arange(nsub) / nsub)[None, :, None]
    a = P[:-1][:, None, :]
    d = (P[1:] - P[:-1])[:, None, :]
    dense = (a + t * d).reshape(-1, 2)
    return np.concatenate([dense, P[-1:]], axis=0)


def hausdorff_distance(ga: GeometryArray, gb: GeometryArray,
                       densify=None) -> np.ndarray:
    """Discrete Hausdorff distance, vertex-sampled like GEOS's
    DiscreteHausdorffDistance (base.py:4166): max over vertices of one side
    of the true point-to-geometry distance to the other, symmetric.
    ``densify`` (0 < f <= 1) adds round(1/f) samples per segment on the
    measuring side, tightening the discrete bound (base.py densify
    kwarg)."""
    if densify is not None and not 0.0 < float(densify) <= 1.0:
        raise ValueError("densify must be in (0, 1]")
    out = np.full(len(ga), np.nan)
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING or gb.types[i] == GT_MISSING:
            continue
        pa, sa = _geom_points(ga, i), _geom_segments(ga, i)
        pb, sb = _geom_points(gb, i), _geom_segments(gb, i)
        if len(pa) == 0 or len(pb) == 0:
            continue
        da = _densify_samples(pa, sa, densify)
        db = _densify_samples(pb, sb, densify)

        def _dir(pts, osegs, opts):
            if len(osegs):
                return float(_point_seg_dist(pts, osegs).max())
            dx = pts[:, None, 0] - opts[None, :, 0]
            dy = pts[:, None, 1] - opts[None, :, 1]
            # sqrt(dx²+dy²), not hypot: bit-identical to plain SQL
            return float(np.sqrt(dx * dx + dy * dy).min(axis=1).max())

        out[i] = max(_dir(da, sb, pb), _dir(db, sa, pa))
    return out


def frechet_distance(ga: GeometryArray, gb: GeometryArray,
                     densify=None) -> np.ndarray:
    """Discrete Fréchet distance over vertex sequences (base.py:4281);
    ``densify`` subdivides every edge of both chains into round(1/f)
    pieces before the DP, tightening the discrete approximation."""
    if densify is not None and not 0.0 < float(densify) <= 1.0:
        raise ValueError("densify must be in (0, 1]")
    out = np.full(len(ga), np.nan)
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING or gb.types[i] == GT_MISSING:
            continue
        P, Q = _geom_points(ga, i), _geom_points(gb, i)
        P, Q = _densify_chain(P, densify), _densify_chain(Q, densify)
        n, m = len(P), len(Q)
        if n == 0 or m == 0:
            continue
        dpx = P[:, None, 0] - Q[None, :, 0]
        dpy = P[:, None, 1] - Q[None, :, 1]
        # sqrt(dx²+dy²), not hypot: bit-identical to plain SQL
        d = np.sqrt(dpx * dpx + dpy * dpy)
        ca = np.full((n, m), np.inf)
        ca[0, 0] = d[0, 0]
        for r in range(n):
            for c in range(m):
                if r == 0 and c == 0:
                    continue
                prev = min(
                    ca[r - 1, c] if r else np.inf,
                    ca[r, c - 1] if c else np.inf,
                    ca[r - 1, c - 1] if r and c else np.inf)
                ca[r, c] = max(prev, d[r, c])
        out[i] = float(ca[n - 1, m - 1])
    return out


def _welzl_circle(pts: np.ndarray):
    """Minimum enclosing circle — deterministic incremental Welzl."""
    def circle2(a, bq):
        c = (a + bq) / 2.0
        return c, float(np.hypot(*(a - c)))

    def circle3(a, bq, cq):
        ax, ay = a
        bx, by = bq
        cx, cy = cq
        dd = 2 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        if dd == 0:
            return None
        ux = ((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay)
              + (cx * cx + cy * cy) * (ay - by)) / dd
        uy = ((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx)
              + (cx * cx + cy * cy) * (bx - ax)) / dd
        c = np.array([ux, uy])
        return c, float(np.hypot(*(a - c)))

    def inside(c, r, p):
        return np.hypot(*(p - c)) <= r * (1 + 1e-12) + 1e-12

    c, r = pts[0], 0.0
    for k in range(1, len(pts)):
        if inside(c, r, pts[k]):
            continue
        c, r = pts[k], 0.0
        for m in range(k):
            if inside(c, r, pts[m]):
                continue
            c, r = circle2(pts[k], pts[m])
            for q in range(m):
                if inside(c, r, pts[q]):
                    continue
                res = circle3(pts[k], pts[m], pts[q])
                if res is not None:
                    c, r = res
    return c, r


def minimum_bounding_radius(ga: GeometryArray) -> np.ndarray:
    """Radius of the minimum enclosing circle (base.py:1917)."""
    out = np.full(len(ga), np.nan)
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            continue
        pts = _geom_points(ga, i)
        if len(pts) == 0:
            out[i] = 0.0
            continue
        _c, r = _welzl_circle(np.unique(pts, axis=0))
        out[i] = r
    return out


def minimum_bounding_circle(ga: GeometryArray, quad_segs: int = 16) -> GeometryArray:
    """Minimum enclosing circle as a polygon (base.py:1820)."""
    b = GeometryBuilder()
    nseg = 4 * quad_segs
    ang = 2 * np.pi * np.arange(nseg) / nseg
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            b.append_null()
            continue
        pts = _geom_points(ga, i)
        if len(pts) == 0:
            b.append_empty(GT_POLYGON)
            continue
        # local frame: the circumcenter solve squares coordinates, so
        # at web-mercator magnitudes the cancellation costs ~4 digits
        # of the radius (r8 magnitude probe); an integer shift to the
        # origin restores full precision and is exact to undo
        shift = np.floor(pts.mean(axis=0))
        if not np.isfinite(shift).all():
            shift = np.zeros(2)
        c, r = _welzl_circle(np.unique(pts - shift, axis=0))
        c = c + shift
        if r == 0.0:
            b.append_point(c[0], c[1])
            continue
        ring = np.column_stack([c[0] + r * np.cos(ang),
                                c[1] + r * np.sin(ang)])
        ring = np.concatenate([ring, ring[:1]], axis=0)
        b.append(GT_POLYGON, [[ring]])
    return b.finish()


def minimum_rotated_rectangle(ga: GeometryArray) -> GeometryArray:
    """Minimum-area oriented envelope via rotating calipers over the convex
    hull (base.py:1467)."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            b.append_null()
            continue
        pts = np.unique(_geom_points(ga, i), axis=0)
        if len(pts) == 0:
            b.append_empty(GT_POLYGON)
            continue
        if len(pts) == 1:
            b.append_point(pts[0, 0], pts[0, 1])
            continue
        hull = _monotone_chain(pts)
        if len(hull) < 3:
            b.append(GT_LINESTRING, [[hull]])
            continue
        best = (np.inf, None)
        for k in range(len(hull)):
            e = hull[(k + 1) % len(hull)] - hull[k]
            ln = np.hypot(*e)
            if ln == 0:
                continue
            ux, uy = e / ln
            R = np.array([[ux, uy], [-uy, ux]])
            rot = hull @ R.T
            mn = rot.min(axis=0)
            mx = rot.max(axis=0)
            area_k = (mx[0] - mn[0]) * (mx[1] - mn[1])
            if area_k < best[0]:
                corners = np.array([[mn[0], mn[1]], [mx[0], mn[1]],
                                    [mx[0], mx[1]], [mn[0], mx[1]],
                                    [mn[0], mn[1]]])
                best = (area_k, corners @ R)
        b.append(GT_POLYGON, [[best[1]]])
    return b.finish()


def representative_point(ga: GeometryArray) -> GeometryArray:
    """A point guaranteed on/inside the geometry (base.py:1788): centroid
    if interior, else midpoint of the widest interior scanline interval
    (polygons) / a middle vertex (lines) / first point."""
    b = GeometryBuilder()
    cen = centroid(ga)
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        pts = _geom_points(ga, i)
        if len(pts) == 0:
            b.append_empty(GT_POINT)
            continue
        if t in POINT_TYPES:
            b.append_point(pts[0, 0], pts[0, 1])
            continue
        if t in LINE_TYPES:
            v = pts[len(pts) // 2]
            b.append_point(v[0], v[1])
            continue
        cx, cy = cen.coords[cen.coord_offsets_per_geom()[i]]
        if points_in_geom(np.array([cx]), np.array([cy]), ga, i)[0] == 2:
            b.append_point(cx, cy)
            continue
        # scanline through the centroid y (nudged off vertex rows)
        ys = pts[:, 1]
        y = cy
        # exact-coincidence check (np.isclose's rtol would fire for
        # every vertex at web-mercator magnitudes); loop in case the
        # 1-ulp nudge lands on another vertex row
        yset = set(ys.tolist())
        lo, hi = ys.min(), ys.max()
        guard = 0
        while y in yset and guard < 64:
            y = np.nextafter(y, hi if y < (lo + hi) / 2 else lo)
            guard += 1
        xs = []
        for rings in ga.geom_slices(i):
            for r in rings:
                y0, y1 = r[:-1, 1], r[1:, 1]
                x0, x1 = r[:-1, 0], r[1:, 0]
                crossing = (y0 > y) != (y1 > y)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xc = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
                xs.extend(xc[crossing].tolist())
        xs = sorted(xs)
        if len(xs) >= 2:
            widths = [(xs[k + 1] - xs[k], k) for k in range(0, len(xs) - 1, 2)]
            _w, k = max(widths)
            b.append_point((xs[k] + xs[k + 1]) / 2, y)
        else:
            b.append_point(pts[0, 0], pts[0, 1])
    return b.finish()


def geom_equals_exact(ga: GeometryArray, gb: GeometryArray, tol) -> np.ndarray:
    """Structural equality within tolerance (base.py:3042): same type, same
    part/ring/vertex structure, coordinates within tol."""
    tol = np.broadcast_to(np.asarray(tol, dtype=np.float64), (len(ga),))
    out = np.zeros(len(ga), dtype=bool)
    for i in range(len(ga)):
        if ga.types[i] != gb.types[i] or ga.types[i] == GT_MISSING:
            continue
        pa = ga.geom_slices(i)
        pb = gb.geom_slices(i)
        if len(pa) != len(pb):
            continue
        ok = True
        for ra, rb in zip(pa, pb):
            if len(ra) != len(rb):
                ok = False
                break
            for xa, xb in zip(ra, rb):
                if len(xa) != len(xb) or \
                        (len(xa) and np.abs(xa - xb).max() > tol[i]):
                    ok = False
                    break
            if not ok:
                break
        out[i] = ok
    return out


def contains_properly(ga: GeometryArray, gb: GeometryArray) -> np.ndarray:
    """b entirely in a's interior — no boundary contact (base.py:2699)."""
    out = np.zeros(len(ga), dtype=bool)
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING or gb.types[i] == GT_MISSING:
            continue
        if int(ga.types[i]) not in POLYGON_TYPES:
            continue
        pts = _geom_points(gb, i)
        if len(pts) == 0:
            continue
        cls = points_in_geom(pts[:, 0], pts[:, 1], ga, i)
        if not (cls == 2).all():
            continue
        # no b edge may cross or touch a's boundary
        sa, sb = _geom_segments(ga, i), _geom_segments(gb, i)
        if len(sa) and len(sb):
            any_hit, _prop = _segs_intersect_flags(sb, sa)
            if any_hit:
                continue
        out[i] = True
    return out


# ---------------------------------------------------------------------------
# linework → polygons (reference: polygonize base.py:6545, build_area :6484)
# ---------------------------------------------------------------------------

def _node_segments(segs: np.ndarray) -> list:
    """Split every segment at its crossings with all others (noding)."""
    out = []
    for k in range(len(segs)):
        others = np.delete(segs, k, axis=0)
        if len(others):
            out.extend(_split_segment_by_edges(segs[k][0], segs[k][1],
                                               others[:, 0], others[:, 1]))
        else:
            out.append(segs[k])
    return out


def polygonize_full(ga: GeometryArray):
    """Full polygonize (reference base.py:6545 ``full=True``, GEOS
    polygonize_full): returns (polygons, cut_edges, dangles, invalid)
    as four GeometryArrays.

    - dangles: edges with a free endpoint after iterative degree-1
      pruning (connected on at most one end);
    - cut edges: edges connected on both ends that bound no polygon
      (bridges between faces / isolated closed-walk chords);
    - invalid: traced faces whose ring fails validity (bowties) —
      diverted from the polygonal output like GEOS."""
    polys, cuts, dangles = polygonize(ga, _full=True)
    # validity split: bowtie faces divert to `invalid`
    ok = is_valid(polys)
    b_good, b_bad = GeometryBuilder(), GeometryBuilder()
    for i in range(len(polys)):
        (b_good if ok[i] else b_bad).append_from(polys, i)
    return b_good.finish(), cuts, dangles, b_bad.finish()


def polygonize(ga: GeometryArray, _full: bool = False,
               _faces_only: bool = False):
    """Whole-series: polygons formed by the input linework (base.py:6545).

    Node all segments, build both directed half-edges per undirected edge,
    trace faces with the leftmost-turn rule (same planar-graph machinery as
    the overlay ring chaining); bounded faces come out CCW — the unbounded
    outer face (CW) is dropped. Returns one polygon per face (or, with
    ``_full``, the (polys, cuts, dangles) triple for polygonize_full).

    ``_faces_only`` is the internal raw-arrangement mode (buffer offset
    face tracing, build_area, make_valid): no dangle pruning, no
    cut-edge deletion, no cross-component hole assignment — exactly the
    minimal-face trace those consumers' own nesting logic expects.  The
    public operator path always runs the full GEOS Polygonizer
    semantics."""
    segs = []
    for i in range(len(ga)):
        if int(ga.types[i]) in LINE_TYPES:
            s = _geom_segments(ga, i)
            if len(s):
                segs.append(s)
    if not segs:
        if _full:
            return (GeometryBuilder().finish(), GeometryBuilder().finish(),
                    GeometryBuilder().finish())
        return GeometryBuilder().finish()
    raw = np.concatenate(segs, axis=0)
    # local-frame shift (same magnitude-normalizing pattern as buffer):
    # at web-mercator coordinates one double ulp (~4e-9 at 2e7) exceeds
    # the 1e-9 canonical snap grid, so ulp-different crossing points
    # computed from partner segments land in DIFFERENT canon cells and
    # the half-edge graph disconnects (r10 fuzz find: a 0.1-unit grid
    # at offset -1.7e7 polygonized to 2 of 4 faces). The integer shift
    # is exact on the inputs (difference of same-ulp-grid doubles), and
    # the outputs shift back at emission.
    flat = raw.reshape(-1, 2)
    ctr = (flat.min(axis=0) + flat.max(axis=0)) / 2.0
    shift = (np.floor(ctr) if np.abs(ctr).max() > float(1 << 20)
             else np.zeros(2))
    if shift.any():
        raw = raw - shift
    if not _faces_only:
        # snap INPUT coordinates to the 1e-9 canonical grid before
        # noding: a near-duplicate segment offset by less than the snap
        # tolerance is PARALLEL, not collinear, so the noder would never
        # split it against its twin — the post-noding vertex snap alone
        # then leaves overlapping distinct edges (phantom cut-edge
        # cycles, r8 jitter fuzz find).  Rounding first makes such twins
        # exactly collinear / identical, which the noder dedupes
        # properly.  The internal raw-arrangement mode skips the snap:
        # offset-curve arrangements carry meaningful sub-1e-9 geometry
        # (arc/segment meeting points) that grid-rounding would tear.
        raw = np.round(raw, 9)
    noded = _node_segments(raw)
    # dedupe undirected edges; canonicalize vertices first — the same
    # crossing computed from the two partner segments can differ in the
    # last ulp (irrational intersections), which would disconnect the
    # half-edge graph (same 1e-9 snap as the boolean tracer)
    canon_table = {}

    def _canon(pt):
        key = (round(pt[0], 9), round(pt[1], 9))
        return canon_table.setdefault(key, pt)

    seen = {}
    for s in noded:
        p, q = _canon((s[0][0], s[0][1])), _canon((s[1][0], s[1][1]))
        if p == q:
            continue
        key = (p, q) if p < q else (q, p)
        seen[key] = (p, q)
    dangle_edges = []
    cut_edges = []
    # dangles: iterative degree-1 pruning (an edge with a free endpoint
    # can never bound a face; removing it can free its neighbor, hence
    # the loop -- GEOS polygonize_full semantics).  Runs for plain
    # polygonize too, so face walks carry no dangle spikes (GEOS's
    # non-full polygons equal full's polygons component).

    def _prune_dangles():
        deg = {}
        for p, q in seen.values():
            deg[p] = deg.get(p, 0) + 1
            deg[q] = deg.get(q, 0) + 1
        changed = True
        while changed:
            changed = False
            for key, (p, q) in list(seen.items()):
                if deg[p] <= 1 or deg[q] <= 1:
                    dangle_edges.append((p, q))
                    del seen[key]
                    deg[p] -= 1
                    deg[q] -= 1
                    changed = True

    # Trace faces; any undirected edge traversed in BOTH directions
    # within ONE closed walk is a bridge between rings -- GEOS reports
    # it as a CUT edge, deletes it, and re-forms the rings (JTS
    # Polygonizer deleteCutEdges).  Each pass removes >= 1 edge, so the
    # loop is bounded; real linework needs at most one extra pass.
    while True:
        if not _faces_only:
            _prune_dangles()
        directed = []
        for p, q in seen.values():
            directed.append((p, q))
            directed.append((q, p))
        out_map = {}
        for eid, (p, _q) in enumerate(directed):
            out_map.setdefault(p, []).append(eid)

        used = [False] * len(directed)
        used_in_poly = set()
        shells, cw_rings = [], []
        in_walk_cuts = set()
        for start in range(len(directed)):
            if used[start]:
                continue
            ring = [directed[start][0]]
            eid = start
            closed = False
            guard = 0
            while guard <= len(directed):
                guard += 1
                used[eid] = True
                p, q = directed[eid]
                ring.append(q)
                inc = np.arctan2(q[1] - p[1], q[0] - p[0])
                best, best_rel = None, -1.0
                for cand in out_map.get(q, ()):
                    cp, cq = directed[cand]
                    if cq == p and len(out_map.get(q, ())) > 1:
                        continue  # no immediate U-turn unless dead end
                    if used[cand] and cand != start:
                        continue
                    rel = (np.arctan2(cq[1] - cp[1], cq[0] - cp[0])
                           - inc - np.pi) % (2 * np.pi)
                    if rel > best_rel:
                        best, best_rel = cand, rel
                if best is None:
                    break
                if best == start:
                    closed = True
                    break
                eid = best
            if not closed or len(ring) < 3:
                continue
            walk_keys = {}
            for k in range(len(ring) - 1):
                pp, qq = ring[k], ring[k + 1]
                kk = (pp, qq) if pp < qq else (qq, pp)
                walk_keys[kk] = walk_keys.get(kk, 0) + 1
            doubled = set() if _faces_only else \
                {k for k, c in walk_keys.items() if c > 1}
            if doubled:
                in_walk_cuts |= doubled
                continue          # walk invalidated; re-trace next pass
            r = np.asarray(ring, dtype=np.float64)
            if _ring_signed_area_arr(r) > 0:  # bounded faces
                shells.append((r, ring[0]))
                used_in_poly.update(walk_keys)
            else:
                # CW closed walk = a connected component's
                # unbounded-face boundary: a hole candidate for a shell
                # of ANOTHER component (GEOS assignHolesToShells --
                # nested disjoint rings punch holes, r8 fuzz find)
                cw_rings.append((r, ring[0]))
        if not in_walk_cuts:
            break
        for kk in in_walk_cuts:
            if kk in seen:
                cut_edges.append(seen.pop(kk))
    b = GeometryBuilder()
    holes_of = {i: [] for i in range(len(shells))}
    if shells and cw_rings and not _faces_only:
        # component labels: union-find over the noded vertex set
        parent = {}

        def _find(v):
            root = v
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(v, v) != v:
                parent[v], v = root, parent[v]
            return root

        for p, q in seen.values():
            rp, rq = _find(p), _find(q)
            if rp != rq:
                parent[rp] = rq
        order = sorted(range(len(shells)),
                       key=lambda i: _ring_signed_area_arr(shells[i][0]))
        for hr, hv in cw_rings:
            hroot = _find(hv)
            for i in order:               # smallest containing shell wins
                sr, sv = shells[i]
                if _find(sv) == hroot:
                    continue              # own component's outer walk
                if _mr._point_in_ring(hr[0, 0], hr[0, 1], sr):
                    holes_of[i].append(hr)
                    break
    for i, (sr, _sv) in enumerate(shells):
        b.append(GT_POLYGON, [[sr + shift] +
                              [h + shift for h in holes_of[i]]])
    if not _full:
        return b.finish()
    # cut edges: connected on both ends (survived dangle pruning) but
    # bounding no polygon — the in-walk bridges removed by the trace
    # loop plus any leftover edge outside every face boundary
    bc, bd = GeometryBuilder(), GeometryBuilder()
    for p, q in cut_edges:
        bc.append(GT_LINESTRING,
                  [[np.asarray([p, q], dtype=np.float64) + shift]])
    for key, (p, q) in seen.items():
        if key not in used_in_poly:
            bc.append(GT_LINESTRING,
                      [[np.asarray([p, q], dtype=np.float64) + shift]])
    for p, q in dangle_edges:
        bd.append(GT_LINESTRING,
                  [[np.asarray([p, q], dtype=np.float64) + shift]])
    return b.finish(), bc.finish(), bd.finish()


def build_area(ga: GeometryArray) -> GeometryArray:
    """Areal geometry from linework (base.py:6484): polygonize, then treat
    enclosed faces as a coverage — faces nested inside an odd number of
    other faces become holes. Returns a single (multi)polygon row."""
    faces = polygonize(ga, _faces_only=True)
    b = GeometryBuilder()
    if len(faces) == 0:
        b.append_empty(GT_POLYGON)
        return b.finish()
    rings = [faces.geom_slices(i)[0][0] for i in range(len(faces))]
    # nest in a LOCAL frame (r10 fuzz find, same pattern as polygonize's
    # noding shift): at web-mercator magnitudes the even-odd point-in-
    # ring tests misclassify vertices on shared face boundaries and a
    # face flips into a sibling's hole
    allc = np.concatenate(rings)
    ctr = (allc.min(axis=0) + allc.max(axis=0)) / 2.0
    shift = (np.floor(ctr) if np.abs(ctr).max() > float(1 << 20)
             else np.zeros(2))
    polys = _mr.assemble_rings([r - shift for r in rings])
    if shift.any():
        polys = [[r + shift for r in p] for p in polys]
    _append_polys(b, polys)
    return b.finish()


# ---------------------------------------------------------------------------
# random sampling (reference: sample_points base.py:6379, tools/_random.py)
# ---------------------------------------------------------------------------

def sample_points(ga: GeometryArray, size, seed: int = 0,
                  method: str = "uniform", n_parents=None,
                  cluster_radius=None) -> GeometryArray:
    """Random points within each polygon / along each line (reference
    base.py:6379, tools/_random.py). Deterministic: per-row rng seeded
    (seed, row) so results are stable across partitionings and retries.

    method="uniform": rejection sampling in the bbox (polygons) or
    length-weighted positions (lines) — the reference's built-in.
    method="cluster_poisson": the pointpats-style clustered process the
    reference reaches through its optional pointpats dependency —
    ``n_parents`` uniform parent points (default max(1, size//10)), each
    of the ``size`` offspring scattered uniformly in a disc of
    ``cluster_radius`` (default 5% of the bbox diagonal) around a random
    parent, rejected outside the polygon."""
    if method not in ("uniform", "cluster_poisson"):
        raise NotImplementedError(
            f"sample_points method={method!r}: 'uniform' and "
            "'cluster_poisson' are built in (the reference delegates "
            "other methods to the optional pointpats package, "
            "geopandas/tools/_random.py)")
    size = np.broadcast_to(np.asarray(size, dtype=np.int64), (len(ga),))
    bb = bounds(ga)
    b = GeometryBuilder()

    def _uniform_in_poly(rng, i, n):
        got, need = [], n
        x0, y0, x1, y1 = bb[i]
        while need > 0:
            m = max(need * 4, 32)
            px = rng.uniform(x0, x1, m)
            py = rng.uniform(y0, y1, m)
            cls = points_in_geom(px, py, ga, i)
            hit = np.nonzero(cls == 2)[0][:need]
            got.append(np.column_stack([px[hit], py[hit]]))
            need -= len(hit)
        return np.concatenate(got, axis=0)

    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        n = int(size[i])
        rng = np.random.default_rng([seed, i])
        if n <= 0 or ga.is_empty()[i]:
            b.append_empty(GT_MULTIPOINT)
            continue
        if t in POLYGON_TYPES and method == "cluster_poisson":
            x0, y0, x1, y1 = bb[i]
            npar = int(n_parents) if n_parents else max(1, n // 10)
            rad = (float(cluster_radius) if cluster_radius
                   else 0.05 * float(np.hypot(x1 - x0, y1 - y0)))
            parents = _uniform_in_poly(rng, i, npar)
            got, need = [], n
            while need > 0:
                m = max(need * 4, 32)
                ks = rng.integers(0, npar, m)
                ang = rng.uniform(0, 2 * np.pi, m)
                rr = rad * np.sqrt(rng.uniform(0, 1, m))
                px = parents[ks, 0] + rr * np.cos(ang)
                py = parents[ks, 1] + rr * np.sin(ang)
                cls = points_in_geom(px, py, ga, i)
                hit = np.nonzero(cls == 2)[0][:need]
                got.append(np.column_stack([px[hit], py[hit]]))
                need -= len(hit)
            pts = np.concatenate(got, axis=0)
        elif t in POLYGON_TYPES:
            pts = _uniform_in_poly(rng, i, n)
        elif t in LINE_TYPES:
            segs = _geom_segments(ga, i)
            lens = np.hypot(*(segs[:, 1] - segs[:, 0]).T)
            tot = lens.sum()
            if tot == 0:
                pts = np.repeat(segs[0, 0][None, :], n, axis=0)
            else:
                ks = rng.choice(len(segs), size=n, p=lens / tot)
                tpar = rng.uniform(0, 1, n)
                pts = segs[ks, 0] + tpar[:, None] * (segs[ks, 1] - segs[ks, 0])
        else:
            pts = _geom_points(ga, i)[rng.integers(0, ga.coords_per_geom()[i],
                                                   n)]
        b.append_multipoint(pts)
    return b.finish()


# ---------------------------------------------------------------------------
# repair / linework utilities (reference: make_valid base.py:2114,
# line_merge :2395, is_valid_reason :339)
# ---------------------------------------------------------------------------

def is_valid_reason(ga: GeometryArray) -> list:
    """Human-readable validity diagnosis (reference base.py:339). Matches
    GEOS's phrasing for the cases our checker detects."""
    valid = is_valid(ga)
    out = []
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            out.append(None)
        elif valid[i]:
            out.append("Valid Geometry")
        else:
            if t in POLYGON_TYPES:
                ok_rings = True
                for p in ga.geom_slices(i):
                    for r in p:
                        if len(r) and not np.array_equal(r[0], r[-1]):
                            ok_rings = False
                if not ok_rings:
                    out.append("Ring Self-intersection")
                else:
                    # distinguish an escaped hole (rings don't cross but
                    # the hole lies outside) and nested holes — GEOS's
                    # phrasings
                    escaped = nested = False
                    for p in ga.geom_slices(i):
                        if len(p) <= 1:
                            continue
                        if any(_ring_self_intersects(r) for r in p):
                            continue
                        shell = p[0]
                        for h in p[1:]:
                            ha = np.column_stack([h[:-1], h[1:]]) \
                                .reshape(-1, 2, 2)
                            sa = np.column_stack([shell[:-1], shell[1:]]) \
                                .reshape(-1, 2, 2)
                            _hit, prop = _segs_intersect_flags(ha, sa)
                            if prop:
                                continue
                            mid = (h[0] + h[1]) * 0.5
                            cls = points_in_rings(np.array([mid[0]]),
                                                  np.array([mid[1]]),
                                                  [shell])
                            if cls[0] == 0:
                                escaped = True
                        # crossing/retracing holes are GEOS
                        # 'Self-intersection', not 'Holes are nested' —
                        # skip the nesting probe so the fall-through
                        # phrasing wins (r11, with the is_valid
                        # hole-pair check)
                        if _hole_pairs_cross(p):
                            continue
                        for j in range(1, len(p)):
                            mj = (p[j][0] + p[j][1]) * 0.5
                            for k2 in range(1, len(p)):
                                if k2 != j and points_in_rings(
                                        np.array([mj[0]]),
                                        np.array([mj[1]]),
                                        [p[k2]])[0] == 2:
                                    nested = True
                    # nested sibling shells (r10): a part strictly
                    # interior to another part and not in its hole
                    shells_nested = False
                    parts_i = ga.geom_slices(i)
                    if t == GT_MULTIPOLYGON and len(parts_i) > 1:
                        for a_ in range(len(parts_i)):
                            sa = parts_i[a_][0]
                            if len(sa) < 4:
                                continue
                            pr = np.vstack([sa[:-1],
                                            (sa[:-1] + sa[1:]) * 0.5])
                            for b_ in range(len(parts_i)):
                                if a_ == b_:
                                    continue
                                cls = points_in_rings(pr[:, 0], pr[:, 1],
                                                      parts_i[b_])
                                if (cls == 2).all():
                                    shells_nested = True
                    # GEOS phrasing split (r10): a ring that only
                    # TOUCHES itself at a point (revisited vertex or a
                    # vertex in an edge interior) is "Ring
                    # Self-intersection"; a proper crossing or a
                    # collinear retrace is "Self-intersection"
                    # (shapely explain_validity parity on both forms).
                    ring_touch = ring_cross = False
                    for p in ga.geom_slices(i):
                        for r in p:
                            if len(r) < 4:
                                continue
                            rd = _dedup_ring(r)
                            if len(rd) < 4:
                                continue
                            if _ring_self_intersects(rd):
                                ring_cross = True
                            else:
                                body = rd[:-1]
                                if (len(np.unique(body, axis=0))
                                        != len(body)
                                        or _ring_vertex_on_edge(rd)):
                                    ring_touch = True
                    disconnected = any(
                        len(p) > 1
                        and all(len(r) >= 4
                                and np.array_equal(r[0], r[-1])
                                and not _ring_self_intersects(
                                    _dedup_ring(r))
                                for r in p)
                        and not _hole_pairs_cross(p)
                        and _interior_disconnected(p)
                        for p in ga.geom_slices(i))
                    out.append("Hole lies outside shell" if escaped
                               else "Holes are nested" if nested
                               else "Nested shells" if shells_nested
                               else "Ring Self-intersection"
                               if (ring_touch and not ring_cross)
                               else "Interior is disconnected"
                               if disconnected
                               else "Self-intersection")
            else:
                out.append("Invalid Geometry")
    return out


def _node_collinear_overlaps(raw: list) -> list:
    """Split each segment of `raw` (canonically-ordered endpoint pairs)
    at every OTHER segment endpoint lying in its interior — both the
    collinear-overlap form (a retrace like (0 0)-(3 3) over
    (1 1)-(3 3)) and the vertex-on-edge T-touch form (a ring vertex
    sitting on another edge's interior, through which that edge would
    otherwise pass un-noded, breaking the planar face walk). Shared
    collinear sub-segments become exact duplicates (collapsible by a
    set). O(S²) pairwise — runs only on the rings of one invalid
    geometry inside make_valid."""
    if len(raw) < 2:
        return raw
    a0 = np.array([s[0] for s in raw])
    a1 = np.array([s[1] for s in raw])
    d = a1 - a0
    verts = np.unique(np.vstack([a0, a1]), axis=0)
    out = []
    for i in range(len(raw)):
        di = d[i]
        L2 = float(di @ di)
        # ANY endpoint (of any other segment) on seg i's interior.
        # Split points reuse the EXACT endpoint coordinates — a point
        # recomputed as a0+t*d differs in the last ulp between the two
        # overlapping copies, so the duplicates would not collapse.
        w = verts - a0[i]
        cr = w[:, 0] * di[1] - w[:, 1] * di[0]
        on = np.abs(cr) <= _EPS * L2
        interior = []
        if on.any():
            t = (w[on] @ di) / L2
            sel = (t > 1e-12) & (t < 1 - 1e-12)
            order = np.argsort(t[sel])
            interior = [tuple(p_) for p_ in verts[on][sel][order]]
        if not interior:
            out.append(raw[i])
            continue
        chain = [raw[i][0]] + interior + [raw[i][1]]
        for p_, q_ in zip(chain[:-1], chain[1:]):
            if p_ != q_:
                out.append((p_, q_) if p_ <= q_ else (q_, p_))
    return out


def _snap_shared_vertices(polys: list, rel: float = 1e-12) -> list:
    """Snap vertices that agree to within ``rel``·scale across ALL the
    rings of one repaired geometry onto a single representative, so a
    vertex shared between a shell and a hole is bit-identical in both.
    Clusters far apart are untouched."""
    allv = [r for p in polys for r in p if len(r)]
    if not allv:
        return polys
    pts = np.vstack(allv)
    scale = max(1.0, float(np.abs(pts).max()))
    tol = rel * scale
    reps = {}

    def snap(v):
        kx, ky = round(v[0] / tol), round(v[1] / tol)
        for dx in (0, -1, 1):
            for dy in (0, -1, 1):
                rep = reps.get((kx + dx, ky + dy))
                if rep is not None and (abs(rep[0] - v[0]) <= tol
                                        and abs(rep[1] - v[1]) <= tol):
                    return rep
        reps[(kx, ky)] = (float(v[0]), float(v[1]))
        return reps[(kx, ky)]

    out = []
    for p in polys:
        np_p = []
        for r in p:
            np_p.append(np.array([snap(v) for v in r]))
        out.append(np_p)
    return out


def _polys_share_edges(polys: list) -> bool:
    """Do any two DIFFERENT polygons in the list share an undirected
    boundary edge? (Arrangement faces carry bit-identical vertices, so
    exact tuple equality is the right test.)"""
    seen = {}
    for pi, p in enumerate(polys):
        for r in p:
            for a_, c_ in zip(r[:-1], r[1:]):
                ta, tc = tuple(a_), tuple(c_)
                key = (ta, tc) if ta <= tc else (tc, ta)
                owner = seen.setdefault(key, pi)
                if owner != pi:
                    return True
    return False


def _merge_adjacent_holes(polys: list) -> list:
    """Union holes of one polygon that share an undirected boundary edge.

    Two even-parity arrangement faces separated by a doubled
    (collinear-overlap) ring edge both classify as holes of the same
    shell; the edge between them crosses depth by 2, so it is interior
    to the excluded region and must cancel — emitting both faces as-is
    ships two holes sharing an edge, which is invalid (r13 even-odd
    oracle find). Holes touching only at pinch vertices share no edge
    and pass through untouched. Kept regions nested inside the merged
    hole coverage are separate odd-depth faces the nesting forest
    already emits as their own polygons, so only the merged boundary's
    outer rings come back as holes."""
    out = []
    for p in polys:
        holes = p[1:]
        if len(holes) < 2 or not _polys_share_edges([[h] for h in holes]):
            out.append(p)
            continue
        tmp = GeometryBuilder()
        for h in holes:
            tmp.append(GT_POLYGON,
                       [[_mr._close(np.asarray(h, dtype=np.float64))]])
        merged = _coverage_union(tmp.finish())
        if merged is None:
            out.append(p)
            continue
        newholes = [np.asarray(part[0], dtype=np.float64)
                    for part in merged.geom_slices(0)]
        out.append([p[0]] + newholes)
    return out


def _clean_face_walks(faces) -> list:
    """Face-walk post-processing shared by make_valid's linework and
    structure paths: strip zero-width spike retraces (dangles traced on
    both sides), split pinched rings into lobes, drop lobes oriented
    AGAINST the walk's dominant orientation (a face reaching an
    interior island over a bridge carries the island's outer walk
    opposite-oriented — that lobe is a hole boundary, not a face; the
    containment pass re-attaches the island's true faces as holes),
    and dedupe identical rings by undirected edge set (a face whose
    hole touches it at a pinch vertex re-emits the hole lobe when
    split, and the duplicate defeats hole attachment). All r9/r10
    even-odd-oracle finds."""
    rings = []
    for k in range(len(faces)):
        fr = _strip_ring_spikes(faces.geom_slices(k)[0][0])
        pieces = _split_ring_pinches(fr)
        if len(pieces) > 1:
            sgn = [_mr._ring_signed_area(_mr._close(p))
                   for p in pieces]
            dom = 1.0 if sum(sgn) >= 0 else -1.0
            pieces = [p for p, s in zip(pieces, sgn) if s * dom >= 0]
        rings.extend(pieces)
    seen_rings = set()
    uniq = []
    for fr in rings:
        key = frozenset(
            (tuple(p), tuple(q)) if tuple(p) <= tuple(q)
            else (tuple(q), tuple(p))
            for p, q in zip(fr[:-1], fr[1:]))
        if key not in seen_rings:
            seen_rings.add(key)
            uniq.append(fr)
    return uniq


def _repair_ring_faces(ring: np.ndarray) -> list:
    """One (possibly self-intersecting) closed ring → the simple rings of
    its enclosed faces (node + polygonize). A bowtie yields its two
    lobes; a simple ring yields itself. Collinear retraces and
    vertex-on-edge T-touches are pre-noded like the linework path — a
    ring such as (2 0, 0 0, 0 1, 1 0) retraces y=0 and otherwise comes
    back as an UNSPLIT pinched face (r10 structure-oracle find)."""
    if len(ring) < 4:
        return []
    if not _ring_self_intersects(ring) and not _ring_vertex_on_edge(ring):
        return [_mr._close(ring)]
    closed = _mr._close(ring)
    raw = []
    for k in range(len(closed) - 1):
        a_v = (float(closed[k][0]), float(closed[k][1]))
        c_v = (float(closed[k + 1][0]), float(closed[k + 1][1]))
        if a_v != c_v:
            raw.append((a_v, c_v) if a_v <= c_v else (c_v, a_v))
    lw = GeometryBuilder()
    for a_v, c_v in sorted(set(_node_collinear_overlaps(raw))):
        lw.append(GT_LINESTRING, [[np.array([a_v, c_v], dtype=np.float64)]])
    faces = polygonize(lw.finish(), _faces_only=True)
    return [fr for fr in _clean_face_walks(faces) if len(fr) >= 4]


def _strip_ring_spikes(r: np.ndarray) -> np.ndarray:
    """Remove zero-width out-and-back retraces (… A, B, A …) from a face
    ring. The raw arrangement walk traces dangling edges on both sides,
    so a face adjacent to a dangle comes back as a pinched ring — valid
    area, invalid boundary (r9 make_valid fuzz find). Degenerate results
    (< 3 distinct points: the face WAS a pure spike) return the input —
    the caller's interior-point test already excludes zero-area faces."""
    pts = [tuple(map(float, v)) for v in r[:-1]]
    changed = True
    while changed and len(pts) >= 3:
        changed = False
        n = len(pts)
        for k in range(n):
            if pts[(k - 1) % n] == pts[(k + 1) % n]:
                for di in sorted((k, (k + 1) % n), reverse=True):
                    del pts[di]
                changed = True
                break
    if len(pts) < 3:
        return r
    pts.append(pts[0])
    return np.array(pts, dtype=np.float64)


def _split_ring_pinches(r: np.ndarray) -> list:
    """Split a face ring that revisits a vertex (the walk traced two
    lobes joined at a pinch node — a degree-4 crossing where the
    leftmost-turn rotation links both boundary cycles into one) into
    separate simple rings; GEOS MakeValid emits the lobes as separate
    polygons (r9 make_valid fuzz find). Degenerate (<3-point) lobes are
    dropped; returns [r] unchanged when no vertex repeats."""
    out = []
    stack = [[tuple(map(float, v)) for v in r[:-1]]]
    guard = 0
    while stack:
        guard += 1
        if guard > 1000:
            return [r]
        cur = stack.pop()
        seen = {}
        split = None
        for idx, p in enumerate(cur):
            if p in seen:
                split = (seen[p], idx)
                break
            seen[p] = idx
        if split is None:
            if len(cur) >= 3:
                out.append(np.array(cur + [cur[0]], dtype=np.float64))
            continue
        i, j = split
        loop = cur[i:j]
        rest = cur[:i] + cur[j:]
        if len(loop) >= 3:
            stack.append(loop)
        if len(rest) >= 3:
            stack.append(rest)
    return out if out else [r]


def _fix_pinched_polys(polys: list) -> list:
    """Final make_valid hygiene: per [shell, *holes] polygon, strip
    zero-width spikes from the shell, split shells that revisit a vertex
    into separate lobes, and re-home each hole into the lobe containing
    it. No-op for already-simple shells."""
    out = []
    for p in polys:
        shell = _strip_ring_spikes(np.asarray(p[0], dtype=np.float64))
        lobes = _split_ring_pinches(shell)
        # holes can be pinched too: the difference tracer emits a
        # figure-8 hole when two hole lobes touch at a point (r10
        # structure fuzz) — split each into simple lobes before
        # re-homing
        holes = []
        for h in p[1:]:
            hs = _strip_ring_spikes(np.asarray(h, dtype=np.float64))
            holes.extend(_split_ring_pinches(hs))
        if len(lobes) > 1:
            # orientation-aware split (r10 deep-sweep find, seed 192): a
            # pinch loop wound OPPOSITE the shell's dominant direction is
            # a boundary NOTCH — an excluded region the coverage-merge
            # tracer folded into one ring — and must re-home as a HOLE
            # of whichever lobe contains it, not ship as a sibling lobe
            # overlapping the region it was carved from.
            signs = [_ring_signed_area_arr(lb) for lb in lobes]
            dom = 1.0 if sum(signs) >= 0 else -1.0
            keep = [lb for lb, s in zip(lobes, signs) if s * dom >= 0]
            notches = [lb for lb, s in zip(lobes, signs) if s * dom < 0]
            if keep:
                lobes = keep
                holes = holes + notches
        if len(lobes) == 1:
            out.append([lobes[0]] + holes)
            continue
        assigned = [[] for _ in lobes]
        for h in holes:
            # probe points: every hole vertex, then edge midpoints — the
            # FIRST vertex alone can sit exactly on the pinch point /
            # lobe boundary and match no lobe, silently dropping the
            # hole (r10 ADVICE). A strictly-interior hit wins; a
            # boundary hit is kept as fallback.
            ha = np.asarray(h, dtype=np.float64)
            probes = np.vstack([ha[:-1], (ha[:-1] + ha[1:]) * 0.5])
            home = border = None
            for k, lb in enumerate(lobes):
                cls = points_in_rings(probes[:, 0], probes[:, 1], [lb])
                if (cls == 2).any():
                    home = k
                    break
                if border is None and (cls == 1).any():
                    border = k
            k = home if home is not None else border
            if k is not None:
                assigned[k].append(h)
        for k, lb in enumerate(lobes):
            out.append([lb] + assigned[k])
    return out


def make_valid(ga: GeometryArray, method: str = "linework") -> GeometryArray:
    """Repair invalid polygons (reference base.py:2114; GEOS MakeValid).

    method="linework" (the reference default): node ALL boundary rings as
    one linework, extract every enclosed face, and re-nest by even-odd
    parity — ring roles (shell vs hole) are discarded, so a hole jutting
    outside its shell contributes AREA there (the documented GEOS
    linework behavior; lower-dimensional collapse artifacts are not
    reproduced).

    method="structure": repair each ring separately (bowtie → lobes),
    then union the shells and subtract the union of the holes — the
    jutting hole SUBTRACTS inside the shell and its outside part
    disappears. Valid rows pass through untouched on both methods."""
    if method not in ("linework", "structure"):
        raise ValueError(f"make_valid method {method!r} not supported")
    valid = is_valid(ga)
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        if valid[i] or t not in POLYGON_TYPES:
            b.append_from(ga, i)
            continue
        if method == "linework":
            # all rings as one linework → arrangement faces → even-odd
            # classification (the reference documents make_valid(linework)
            # as 'an alternating even-odd strategy', base.py:2114; GEOS
            # MakeValid): a face is kept iff a point in its interior lies
            # inside an ODD number of the ORIGINAL rings. The shell∩hole
            # overlap (depth 2) becomes a hole; the part of a hole jutting
            # outside its shell (depth 1) becomes area.
            orig = [_mr._close(r) for p in ga.geom_slices(i) for r in p]
            # dedupe coincident segments BEFORE polygonizing: a ring
            # spike (… A, B, A …) otherwise feeds the same segment twice
            # and the face walk treats B as a degree-2 pass-through,
            # emitting a pinched ring that retraces the zero-width spike
            # (r9 make_valid fuzz find). One copy makes B degree-1 — a
            # dangle the polygonizer prunes. Classification below still
            # uses the ORIGINAL rings.
            raw = []
            for r in orig:
                for k in range(len(r) - 1):
                    a_v = (float(r[k][0]), float(r[k][1]))
                    c_v = (float(r[k + 1][0]), float(r[k + 1][1]))
                    if a_v != c_v:
                        raw.append((a_v, c_v) if a_v <= c_v else
                                   (c_v, a_v))
            # node collinear PARTIAL overlaps before the set dedupe: a
            # retrace like (0 0)-(3 3) over (1 1)-(3 3) otherwise keeps
            # both copies, and the face walk hugs either copy — emitting
            # BOTH a region's sub-faces and its unsplit whole, whose
            # double cover defeats the hole-attach classification (r10
            # even-odd oracle find). Splitting each segment at every
            # other collinear segment's interior endpoint makes shared
            # sub-segments exact duplicates, which the set collapses.
            segs = set(_node_collinear_overlaps(raw))
            lw = GeometryBuilder()
            for a_v, c_v in sorted(segs):
                lw.append(GT_LINESTRING,
                          [[np.array([a_v, c_v], dtype=np.float64)]])
            faces = polygonize(lw.finish(), _faces_only=True)
            if len(faces) == 0:
                b.append_empty(GT_POLYGON)
                continue
            rings = _clean_face_walks(faces)
            ips = [_ring_interior_point(fr, rings, avoid_on=orig)
                   for fr in rings]
            live = [k for k in range(len(rings)) if ips[k] is not None]
            if not live:
                b.append_empty(GT_POLYGON)
                continue
            ipx = np.array([ips[k][0] for k in live])
            ipy = np.array([ips[k][1] for k in live])
            depth = np.zeros(len(live), dtype=np.int64)
            for r in orig:
                depth += points_in_rings(ipx, ipy, [r]) == 2
            # nesting forest among the faces: a dropped (even-depth) face
            # directly inside a kept face is that polygon's hole — e.g.
            # three nested disjoint rings, where the middle face is even
            # and must punch a hole through the outer polygon.
            nf = len(live)
            contains = np.zeros((nf, nf), dtype=bool)
            for a_ in range(nf):
                contains[a_] = points_in_rings(ipx, ipy,
                                               [rings[live[a_]]]) == 2
                contains[a_, a_] = False
            depth_among = contains.sum(axis=0)
            polys = []
            for a_ in range(nf):
                if depth[a_] % 2 == 0:
                    continue
                shell = rings[live[a_]]
                holes = [rings[live[c_]][::-1] for c_ in range(nf)
                         if contains[a_, c_]
                         and depth_among[c_] == depth_among[a_] + 1]
                polys.append([shell] + holes)
            if not polys:
                b.append_empty(GT_POLYGON)
                continue
            if len(polys) > 1 and _polys_share_edges(polys):
                # adjacent same-parity faces can only arise from collinear
                # overlapping ring edges (depth jumps by 2 across the
                # shared edge) — cancel such shared edges opportunistically.
                # ONLY when shared edges actually exist: the merge
                # re-polygonizes every boundary and re-derives nesting
                # from scratch, which turns a hole touching its shell at
                # a pinch vertex back into a sibling SHELL (r10 even-odd
                # oracle find: triangle + bowtie sharing only pinch
                # points double-counted the hole lobe).
                tmp = GeometryBuilder()
                for p in polys:
                    tmp.append(GT_POLYGON, [p])
                merged = _coverage_union(tmp.finish())
                if merged is not None:
                    # the merge tracer can re-link lobes THROUGH a shared
                    # pinch vertex — decompose and run the pinch fixup
                    # below instead of emitting its rings verbatim
                    polys = [list(part) for part in merged.geom_slices(0)]
            # final hygiene: output shells must be simple rings — strip
            # zero-width spikes and split pinched shells into lobes,
            # re-homing holes by containment (r9 make_valid fuzz finds)
            # canonicalize near-identical vertices ACROSS rings first: a
            # pinch vertex reaches the shell and the hole through
            # different arithmetic paths (face walk vs merge/split), and
            # a one-ulp difference on collinear incident edges reads as
            # a proper hole/shell crossing downstream (r10 extended
            # even-odd fuzz: repaired output failed its own is_valid)
            polys = _merge_adjacent_holes(polys)
            polys = _snap_shared_vertices(polys)
            polys = _fix_pinched_polys(polys)
            _append_polys(b, polys)
            continue
        # structure: union of repaired shells minus union of repaired holes

        def _union_sets(sets):
            # the union of even-odd ring sets, flattened to one ring set
            if len(sets) <= 1:
                return sets[0] if sets else []
            return [r for poly in _union_ring_sets(sets) for r in poly]

        # one ring's repaired faces jointly cover its enclosed region,
        # mostly as edge-adjacent tiles but sometimes OVERLAPPING (a
        # pinch-touching island lobe walks as its own face AND sits
        # inside the big face's ring — r10 enclosed-region oracle find),
        # so a true boolean union is required; handing the raw faces to
        # the nesting assembler misread an edge-adjacent tile as a hole,
        # and a coverage dissolve double-counted the overlapping lobe.
        # The enclosed region is hole-free by construction (every
        # bounded face is enclosed), so the union is plain shell rings.
        shell_sets, hole_sets = [], []
        for p in ga.geom_slices(i):
            for k, ring in enumerate(p):
                faces = _union_sets([[f] for f in _repair_ring_faces(ring)])
                if faces:
                    (hole_sets if k else shell_sets).append(faces)

        shells = _union_sets(shell_sets)
        holes = _union_sets(hole_sets)
        if not shells:
            b.append_empty(GT_POLYGON)
            continue
        if holes:
            polys = _mr.boolean_op(shells, holes, _mr.DIFFERENCE)
        else:
            polys = _mr.assemble_rings(shells)
        # same output hygiene as the linework path: the union/difference
        # tracer can re-link lobes THROUGH a shared pinch vertex,
        # emitting a revisited-vertex shell (r10 structure fuzz)
        polys = _snap_shared_vertices(polys)
        polys = _fix_pinched_polys(polys)
        _append_polys(b, polys)
    return _carry_z(b.finish(), ga)


def line_merge(ga: GeometryArray, directed: bool = False) -> GeometryArray:
    """Merge connected line parts (reference base.py:2395): chains join
    only through nodes of degree exactly 2 (GEOS LineMerger semantics —
    a Y-junction where three parts meet merges nothing through that
    node). ``directed=True`` additionally merges only end-to-start, never
    flipping a part's direction."""
    from collections import Counter

    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        if t not in LINE_TYPES:
            b.append_from(ga, i)
            continue
        chains = [p[0].copy() for p in ga.geom_slices(i) if len(p[0]) >= 2]
        merged = True
        while merged and len(chains) > 1:
            merged = False
            deg = Counter()
            for c in chains:
                deg[tuple(c[0])] += 1
                deg[tuple(c[-1])] += 1
            for a_i in range(len(chains)):
                for b_i in range(a_i + 1, len(chains)):
                    ca, cb = chains[a_i], chains[b_i]
                    joined = None
                    if np.array_equal(ca[-1], cb[0]) and \
                            deg[tuple(ca[-1])] == 2:
                        joined = np.concatenate([ca, cb[1:]])
                    elif np.array_equal(cb[-1], ca[0]) and \
                            deg[tuple(ca[0])] == 2:
                        joined = np.concatenate([cb, ca[1:]])
                    elif not directed and np.array_equal(ca[-1], cb[-1]) \
                            and deg[tuple(ca[-1])] == 2:
                        joined = np.concatenate([ca, cb[::-1][1:]])
                    elif not directed and np.array_equal(ca[0], cb[0]) \
                            and deg[tuple(ca[0])] == 2:
                        joined = np.concatenate([ca[::-1], cb[1:]])
                    if joined is not None:
                        chains[a_i] = joined
                        del chains[b_i]
                        merged = True
                        break
                if merged:
                    break
        if not chains:
            b.append_empty(GT_LINESTRING)
        elif len(chains) == 1:
            b.append(GT_LINESTRING, [[chains[0]]])
        else:
            b.append(GT_MULTILINESTRING, [[c] for c in chains])
    return b.finish()


# ---------------------------------------------------------------------------
# triangulation (reference: delaunay_triangles base.py:1201,
# voronoi_polygons :1301)
# ---------------------------------------------------------------------------

def _orient_sign(a, b, c):
    """Exact sign of the 2-D orientation determinant: float filter with a
    conservative relative bound, exact Fraction fallback near zero (every
    double converts to Fraction exactly)."""
    det = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    perm = (abs(b[0] - a[0]) * abs(c[1] - a[1]) +
            abs(b[1] - a[1]) * abs(c[0] - a[0]))
    if abs(det) > 1e-12 * perm:
        return 1 if det > 0 else -1
    if perm == 0:
        return 0
    from fractions import Fraction as Fr
    det = ((Fr(float(b[0])) - Fr(float(a[0]))) *
           (Fr(float(c[1])) - Fr(float(a[1]))) -
           (Fr(float(b[1])) - Fr(float(a[1]))) *
           (Fr(float(c[0])) - Fr(float(a[0]))))
    return (det > 0) - (det < 0)


def _incircle_sign(a, b, c, d):
    """Sign of the incircle determinant for a CCW triangle (a, b, c):
    > 0 iff d lies STRICTLY inside the open circumdisk. Float filter with
    exact Fraction fallback — cocircular grids are exactly the inputs
    where a float-only test mis-classifies (the r9 concave-hull fuzz
    found a dropped triangle at 12x12 integer sites)."""
    adx, ady = a[0] - d[0], a[1] - d[1]
    bdx, bdy = b[0] - d[0], b[1] - d[1]
    cdx, cdy = c[0] - d[0], c[1] - d[1]
    ad2 = adx * adx + ady * ady
    bd2 = bdx * bdx + bdy * bdy
    cd2 = cdx * cdx + cdy * cdy
    det = (adx * (bdy * cd2 - bd2 * cdy) -
           ady * (bdx * cd2 - bd2 * cdx) +
           ad2 * (bdx * cdy - bdy * cdx))
    perm = (abs(adx) * (abs(bdy) * cd2 + bd2 * abs(cdy)) +
            abs(ady) * (abs(bdx) * cd2 + bd2 * abs(cdx)) +
            ad2 * (abs(bdx) * abs(cdy) + abs(bdy) * abs(cdx)))
    if abs(det) > 1e-10 * perm:
        return 1 if det > 0 else -1
    if perm == 0:
        return 0
    from fractions import Fraction as Fr
    adx, ady = Fr(float(a[0])) - Fr(float(d[0])), \
        Fr(float(a[1])) - Fr(float(d[1]))
    bdx, bdy = Fr(float(b[0])) - Fr(float(d[0])), \
        Fr(float(b[1])) - Fr(float(d[1]))
    cdx, cdy = Fr(float(c[0])) - Fr(float(d[0])), \
        Fr(float(c[1])) - Fr(float(d[1]))
    ad2 = adx * adx + ady * ady
    bd2 = bdx * bdx + bdy * bdy
    cd2 = cdx * cdx + cdy * cdy
    det = (adx * (bdy * cd2 - bd2 * cdy) -
           ady * (bdx * cd2 - bd2 * cdx) +
           ad2 * (bdx * cdy - bdy * cdx))
    return (det > 0) - (det < 0)


def _delaunay(pts: np.ndarray) -> list:
    """Bowyer-Watson over unique points -> list of CCW index triangles.

    Ghost-edge formulation (no super-triangle): the hull is a set of
    DIRECTED ghost edges (interior on the left); a point invalidates a
    ghost iff it lies strictly right of the edge, or exactly on the open
    segment. This removes the classic super-triangle failure mode — a
    near-degenerate real triangle's circumcircle can exceed ANY finite
    super-triangle, silently dropping hull-adjacent triangles (found by
    the r9 concave-hull fuzz: 9 integer sites produced 10 triangles
    where Euler demands 2n-h-2 = 11). All orientation/incircle decisions
    go through the filtered-exact predicates above, so cocircular and
    collinear degeneracies are decided exactly."""
    n = len(pts)
    if n < 3:
        return []
    P = pts
    k = next((j for j in range(2, n)
              if _orient_sign(P[0], P[1], P[j]) != 0), None)
    if k is None:
        return []                       # all collinear
    i0, i1, i2 = 0, 1, k
    if _orient_sign(P[i0], P[i1], P[i2]) < 0:
        i1, i2 = i2, i1
    real = {(i0, i1, i2)}
    ghosts = {(i0, i1), (i1, i2), (i2, i0)}   # CCW hull edges
    order = [j for j in range(2, n) if j != k]

    for pi in order:
        p = P[pi]
        bad_real = [t for t in real
                    if _incircle_sign(P[t[0]], P[t[1]], P[t[2]], p) > 0]
        bad_ghost = []
        for (u, v) in ghosts:
            s = _orient_sign(P[u], P[v], p)
            if s < 0:
                bad_ghost.append((u, v))
            elif s == 0:
                ux, uy = P[u]
                vx, vy = P[v]
                if (min(ux, vx) <= p[0] <= max(ux, vx) and
                        min(uy, vy) <= p[1] <= max(uy, vy)):
                    bad_ghost.append((u, v))
        edge_count = {}

        def _add(u, v):
            kk = (u, v) if u < v else (v, u)
            edge_count[kk] = edge_count.get(kk, 0) + 1

        for t in bad_real:
            _add(t[0], t[1])
            _add(t[1], t[2])
            _add(t[2], t[0])
        for (u, v) in bad_ghost:
            _add(u, v)
        for t in bad_real:
            real.remove(t)
        for g in bad_ghost:
            ghosts.remove(g)
        for (u, v), cnt in edge_count.items():
            if cnt != 1:
                continue
            s = _orient_sign(P[u], P[v], p)
            if s > 0:
                real.add((u, v, pi))
            elif s < 0:
                real.add((v, u, pi))
            # s == 0: hull passes through p along this line - no real
            # triangle; the ghost chain below re-threads the boundary
        if bad_ghost:
            us = {u for u, _ in bad_ghost}
            vs = {v for _, v in bad_ghost}
            a = (us - vs).pop()
            bq = (vs - us).pop()
            ghosts.add((a, pi))
            ghosts.add((pi, bq))
    return sorted(real)


def _snap_cluster(pts: np.ndarray, tolerance: float) -> np.ndarray:
    """Greedy tolerance clustering: drop points within ``tolerance`` of an
    already-kept one (GEOS uses its snapping tolerance the same way to
    improve robustness; reference base.py:1221)."""
    if tolerance <= 0 or len(pts) < 2:
        return pts
    keep = [pts[0]]
    for p in pts[1:]:
        ka = np.asarray(keep)
        if (np.hypot(ka[:, 0] - p[0], ka[:, 1] - p[1]) > tolerance).all():
            keep.append(p)
    return np.asarray(keep)


def delaunay_triangles(ga: GeometryArray, tolerance: float = 0.0,
                       only_edges: bool = False) -> GeometryArray:
    """Delaunay triangulation of each geometry's vertices → MULTIPOLYGON
    per row, or MULTILINESTRING of unique edges with ``only_edges``
    (reference base.py:1201, kwargs :1221)."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            b.append_null()
            continue
        pts = _snap_cluster(np.unique(_geom_points(ga, i), axis=0),
                            tolerance)
        tris = _delaunay(pts)
        if not tris:
            b.append_empty(GT_MULTILINESTRING if only_edges
                           else GT_MULTIPOLYGON)
            continue
        if only_edges:
            edges = sorted({(min(u, v), max(u, v))
                            for t in tris
                            for u, v in ((t[0], t[1]), (t[1], t[2]),
                                         (t[2], t[0]))})
            parts = [[np.array([pts[u], pts[v]])] for u, v in edges]
            b.append(GT_MULTILINESTRING, parts)
            continue
        parts = []
        for t in tris:
            ring = np.array([pts[t[0]], pts[t[1]], pts[t[2]], pts[t[0]]])
            parts.append([ring])
        b.append(GT_MULTIPOLYGON, parts)
    return b.finish()


def _ring_signed_area(pts):
    x, y = pts[:, 0], pts[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def _earclip(pts):
    """Triangulate a simple polygon given as an open CCW vertex list
    (n,2) → list of index triples."""
    n = len(pts)
    if n < 3:
        return []
    idx = list(range(n))
    tris = []
    fail = 0
    while len(idx) > 3 and fail <= len(idx):
        m = len(idx)
        clipped = False
        for k in range(m):
            ia, ib, ic = idx[(k - 1) % m], idx[k], idx[(k + 1) % m]
            A, B, C = pts[ia], pts[ib], pts[ic]
            cr = (B[0] - A[0]) * (C[1] - B[1]) - (B[1] - A[1]) * (C[0] - B[0])
            if cr <= 1e-18:       # reflex or collinear: not an ear
                continue
            # no other remaining vertex strictly inside ABC
            others = [j for j in idx if j not in (ia, ib, ic)]
            ok = True
            for j in others:
                P = pts[j]
                # bridge splices duplicate vertices: a coordinate-equal
                # copy of an ear corner never blocks the ear
                if ((P[0] == A[0] and P[1] == A[1]) or
                        (P[0] == B[0] and P[1] == B[1]) or
                        (P[0] == C[0] and P[1] == C[1])):
                    continue
                d1 = (B[0] - A[0]) * (P[1] - A[1]) - (B[1] - A[1]) * (P[0] - A[0])
                d2 = (C[0] - B[0]) * (P[1] - B[1]) - (C[1] - B[1]) * (P[0] - B[0])
                d3 = (A[0] - C[0]) * (P[1] - C[1]) - (A[1] - C[1]) * (P[0] - C[0])
                if d1 >= 0 and d2 >= 0 and d3 >= 0:
                    ok = False
                    break
            if ok:
                tris.append((ia, ib, ic))
                idx.pop(k)
                clipped = True
                break
        if not clipped:  # numeric degeneracy: drop the flattest corner
            flat = min(range(m), key=lambda k: abs(
                (pts[idx[k]][0] - pts[idx[(k - 1) % m]][0]) *
                (pts[idx[(k + 1) % m]][1] - pts[idx[k]][1]) -
                (pts[idx[k]][1] - pts[idx[(k - 1) % m]][1]) *
                (pts[idx[(k + 1) % m]][0] - pts[idx[k]][0])))
            idx.pop(flat)
            fail += 1
    if len(idx) == 3:
        tris.append(tuple(idx))
    return tris


def _bridge_holes(outer, holes):
    """Splice holes into the outer ring via mutually-visible bridges
    (earcut's eliminate-holes strategy) → single open vertex list."""
    poly = [tuple(p) for p in outer]
    for hole in sorted(holes, key=lambda h: -h[:, 0].max()):
        h = [tuple(p) for p in hole]
        mi = max(range(len(h)), key=lambda k: h[k][0])
        M = h[mi]
        # candidate outer vertices right of M, nearest first
        order = sorted(range(len(poly)),
                       key=lambda k: (poly[k][0] - M[0]) ** 2 +
                                     (poly[k][1] - M[1]) ** 2)
        bridged = False
        for pi in order:
            P = poly[pi]
            seg = np.array([[M, P]])
            blocked = False
            for ring_pts in [np.array(poly + poly[:1])] + \
                    [np.array(hh + hh[:1]) for hh in [h]]:
                edges = np.stack([ring_pts[:-1], ring_pts[1:]], axis=1)
                # exclude edges incident to M or P
                inc = (np.all(edges[:, 0] == M, axis=1) |
                       np.all(edges[:, 1] == M, axis=1) |
                       np.all(edges[:, 0] == P, axis=1) |
                       np.all(edges[:, 1] == P, axis=1))
                hit, proper = _segs_intersect_flags(seg, edges[~inc])
                if hit:
                    blocked = True
                    break
            if not blocked:
                # splice: outer[:pi+1] + [M..hole..M] + outer[pi:]
                rot = h[mi:] + h[:mi]
                poly = poly[:pi + 1] + [M] + rot[1:] + [M, P] + poly[pi + 1:]
                # ^ rot starts at M; walk hole once, return to M, back to P
                bridged = True
                break
        if not bridged:   # fully blocked (shouldn't happen on valid input)
            continue
    return np.array(poly, dtype=np.float64)


def constrained_delaunay_triangles(ga: GeometryArray) -> GeometryArray:
    """Constrained Delaunay triangulation of each polygon's interior →
    MULTIPOLYGON of triangles per row (reference base.py:1123; GEOS
    returns a GEOMETRYCOLLECTION — collection-free deviation as
    elsewhere). Ear-clip for a valid triangulation honoring the boundary,
    then Lawson edge flips (constrained edges pinned) for the Delaunay
    property."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        if t not in POLYGON_TYPES:
            b.append_empty(GT_MULTIPOLYGON)
            continue
        parts_out = []
        for rings in ga.geom_slices(i):
            if not rings or len(rings[0]) < 4:
                continue
            outer = rings[0][:-1]
            if _ring_signed_area(rings[0]) < 0:
                outer = outer[::-1]
            holes = []
            for hring in rings[1:]:
                h = hring[:-1]
                if _ring_signed_area(hring) > 0:
                    h = h[::-1]   # holes walked CW so splice keeps CCW
                holes.append(h)
            pts = _bridge_holes(outer, holes) if holes else np.asarray(outer)
            tris = _earclip(pts)
            if not tris:
                continue
            # constrained edges: consecutive vertex pairs of the spliced
            # boundary walk (includes bridge duplicates — conservative)
            def _ek(a, c):
                ka = (round(pts[a][0], 12), round(pts[a][1], 12))
                kc = (round(pts[c][0], 12), round(pts[c][1], 12))
                return (ka, kc) if ka <= kc else (kc, ka)
            constrained = {_ek(k, (k + 1) % len(pts))
                           for k in range(len(pts))}
            tris = _lawson_flips(pts, tris, constrained, _ek)
            for (ia, ib, ic) in tris:
                ring = np.array([pts[ia], pts[ib], pts[ic], pts[ia]])
                parts_out.append([ring])
        if parts_out:
            b.append(GT_MULTIPOLYGON, parts_out)
        else:
            b.append_empty(GT_MULTIPOLYGON)
    return b.finish()


def _lawson_flips(pts, tris, constrained, ek, max_rounds=30):
    """Flip non-constrained shared edges failing the incircle test."""
    tris = [tuple(t) for t in tris]
    for _ in range(max_rounds):
        # edge → list of (triangle index, opposite vertex)
        emap = {}
        for ti, (a, b2, c) in enumerate(tris):
            for (u, v, w) in ((a, b2, c), (b2, c, a), (c, a, b2)):
                emap.setdefault(ek(u, v), []).append((ti, u, v, w))
        flipped = False
        done = set()
        for key, lst in emap.items():
            if len(lst) != 2 or key in constrained:
                continue
            (t1, u1, v1, w1), (t2, u2, v2, w2) = lst
            if t1 in done or t2 in done:
                continue
            A, B, C, D = pts[u1], pts[v1], pts[w1], pts[w2]
            # incircle(A,B,C;D) > 0 → D inside circumcircle of (A,B,C)
            m = np.array([
                [A[0] - D[0], A[1] - D[1],
                 (A[0] - D[0]) ** 2 + (A[1] - D[1]) ** 2],
                [B[0] - D[0], B[1] - D[1],
                 (B[0] - D[0]) ** 2 + (B[1] - D[1]) ** 2],
                [C[0] - D[0], C[1] - D[1],
                 (C[0] - D[0]) ** 2 + (C[1] - D[1]) ** 2]])
            orient = (B[0] - A[0]) * (C[1] - A[1]) - \
                     (B[1] - A[1]) * (C[0] - A[0])
            det = float(np.linalg.det(m)) * np.sign(orient or 1.0)
            if det <= 1e-12:
                continue
            # flip shared edge (u1,v1) → (w1,w2); keep orientations valid
            n1, n2 = (u1, w2, w1), (w2, v1, w1)
            def _ok(tr):
                P, Q, R = pts[tr[0]], pts[tr[1]], pts[tr[2]]
                return abs((Q[0] - P[0]) * (R[1] - P[1]) -
                           (Q[1] - P[1]) * (R[0] - P[0])) > 1e-18
            if not (_ok(n1) and _ok(n2)):
                continue
            tris[t1], tris[t2] = n1, n2
            done.update((t1, t2))
            flipped = True
        if not flipped:
            break
    return tris


def voronoi_polygons(ga: GeometryArray, extend_to=None,
                     tolerance: float = 0.0,
                     only_edges: bool = False) -> GeometryArray:
    """Voronoi cells of each geometry's vertices → MULTIPOLYGON per row,
    or the diagram's unique cell-boundary edges as MULTILINESTRING with
    ``only_edges`` (reference base.py:1301). Each cell = the envelope
    (expanded by half the diagonal, GEOS-style) intersected with the
    closer half-plane against every other site — exact for the modest
    per-row point counts this elementwise operator sees."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            b.append_null()
            continue
        pts = _snap_cluster(np.unique(_geom_points(ga, i), axis=0),
                            tolerance)
        if len(pts) == 0:
            b.append_empty(GT_MULTIPOLYGON)
            continue
        mn = pts.min(axis=0)
        mx = pts.max(axis=0)
        pad = max(mx[0] - mn[0], mx[1] - mn[1], 1.0)
        x0, y0, x1, y1 = mn[0] - pad, mn[1] - pad, mx[0] + pad, mx[1] + pad
        if extend_to is not None:
            # reference parity (base.py:1301 / GEOS extend_to): the clip
            # envelope grows to cover extend_to's extent (r10 fuzz find:
            # the parameter was accepted but silently ignored)
            j = i if len(extend_to) > 1 else 0
            if extend_to.types[j] != GT_MISSING:
                ebb = bounds(extend_to)[j]
                if np.isfinite(ebb).all():
                    x0, y0 = min(x0, ebb[0]), min(y0, ebb[1])
                    x1, y1 = max(x1, ebb[2]), max(y1, ebb[3])
        # local frame (r10): each cell is clipped independently, so an
        # oblique shared edge's endpoints wobble by ~1e-13·scale between
        # the two cells — at web-mercator magnitudes that exceeds the
        # 1e-9 canon grid and the diagram stops being a clean coverage.
        # Work near the origin, canonicalize vertices ACROSS cells on
        # the 1e-9 grid afterwards, shift back at emission.
        vshift = np.floor((mn + mx) / 2.0) \
            if np.abs((mn + mx) / 2.0).max() > float(1 << 20) \
            else np.zeros(2)
        if vshift.any():
            pts = pts - vshift
            x0, y0, x1, y1 = (x0 - vshift[0], y0 - vshift[1],
                              x1 - vshift[0], y1 - vshift[1])
        parts = []
        for k in range(len(pts)):
            cell = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
            s = pts[k]
            for m in range(len(pts)):
                if m == k or len(cell) < 4:
                    continue
                t = pts[m]
                mid = (s + t) / 2
                nrm = s - t  # interior = side closer to s
                # clip cell by half-plane nrm·(p - mid) >= 0
                keep = []
                prev = cell[-2]
                prev_in = nrm @ (prev - mid) >= -_EPS
                for p in cell[:-1]:
                    cur_in = nrm @ (p - mid) >= -_EPS
                    if cur_in != prev_in:
                        d = p - prev
                        denom = nrm @ d
                        tt = (nrm @ (mid - prev)) / denom if denom else 0.0
                        keep.append(prev + tt * d)
                    if cur_in:
                        keep.append(p)
                    prev, prev_in = p, cur_in
                cell = (np.concatenate([np.array(keep), np.array(keep)[:1]])
                        if len(keep) >= 3 else np.empty((0, 2)))
            if len(cell) >= 4:
                parts.append([cell])
        # canonicalize vertices ACROSS cells: the same diagram vertex
        # computed from two different cells' clip sequences lands in one
        # 1e-9 canon slot, so shared edges match exactly and the cell
        # set is a clean coverage
        canon = {}

        def _cv(p):
            key = (round(float(p[0]), 9), round(float(p[1]), 9))
            return canon.setdefault(key, (float(p[0]), float(p[1])))

        cparts = []
        for rings in parts:
            ring = rings[0]
            out, last = [], None
            for p in ring[:-1]:
                v = _cv(p)
                if v != last:
                    out.append(v)
                    last = v
            while len(out) > 1 and out[0] == out[-1]:
                out.pop()
            if len(out) >= 3:
                r = np.asarray(out + [out[0]], dtype=np.float64)
                cparts.append([r + vshift])
        parts = cparts
        if only_edges:
            edges = {}
            for rings in parts:
                ring = rings[0]
                for k in range(len(ring) - 1):
                    a_, b_ = ring[k], ring[k + 1]
                    key = tuple(sorted((tuple(np.round(a_, 9)),
                                        tuple(np.round(b_, 9)))))
                    edges.setdefault(key, np.array([a_, b_]))
            if edges:
                b.append(GT_MULTILINESTRING,
                         [[seg] for _, seg in sorted(edges.items())])
            else:
                b.append_empty(GT_MULTILINESTRING)
        elif parts:
            b.append(GT_MULTIPOLYGON, parts)
        else:
            b.append_empty(GT_MULTIPOLYGON)
    return b.finish()


def concave_hull(ga: GeometryArray, ratio: float = 0.0,
                 allow_holes: bool = False) -> GeometryArray:
    """Concave hull via chi-shape peeling of the Delaunay triangulation
    (reference base.py:1054). ratio=1 → convex hull; smaller ratios admit
    longer boundary edges to be 'carved'. Edge-length threshold
    interpolates between the shortest and longest Delaunay edge, per the
    GEOS ConcaveHull parameterization; the peel refuses removals that
    would disconnect the region or strand a vertex (documented
    approximation of GEOS's exact rule)."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            b.append_null()
            continue
        pts = np.unique(_geom_points(ga, i), axis=0)
        tris = _delaunay(pts)
        if not tris:
            b.append_from(convex_hull(ga.take([i])), 0)
            continue
        def elen(u, v):
            return float(np.hypot(*(pts[u] - pts[v])))
        elens = [elen(u, v) for t in tris
                 for u, v in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0]))]
        lo, hi = min(elens), max(elens)
        r_ = max(0.0, min(1.0, ratio))
        # endpoint-exact interpolation: lo + r*(hi-lo) lands one ulp
        # BELOW hi at r=1 for some edge lengths, peeling the longest
        # edge's triangle out of what must be the convex hull (r9
        # concave-hull fuzz find)
        thresh = lo * (1.0 - r_) + hi * r_
        alive = set(tris)
        # edge → triangles sharing it
        def edges(t):
            return [(min(u, v), max(u, v)) for u, v in
                    ((t[0], t[1]), (t[1], t[2]), (t[2], t[0]))]
        changed = True
        while changed:
            changed = False
            emap = {}
            for t in alive:
                for e in edges(t):
                    emap.setdefault(e, []).append(t)
            # border triangles, longest border edge first
            cand = []
            for t in alive:
                bes = [e for e in edges(t) if len(emap[e]) == 1]
                if len(bes) == 1 and len(alive) > 1:
                    L = elen(*bes[0])
                    if L > thresh:
                        cand.append((L, t))
            for _L, t in sorted(cand, reverse=True):
                if t in alive and len(alive) > 1:
                    alive.remove(t)
                    changed = True
                    break  # re-derive border after each removal
        rings = []
        for t in alive:
            rings.append(np.array([pts[t[0]], pts[t[1]], pts[t[2]],
                                   pts[t[0]]]))
        polys = _union_ring_sets([[r] for r in rings])
        if not allow_holes:
            polys = [[p[0]] for p in polys]
        _append_polys(b, polys)
    return b.finish()


def interiors(ga: GeometryArray) -> list:
    """Hole rings per geometry as WKB LINESTRING list (reference
    base.py:1624; POLYGON rows only, like the reference)."""
    from geopandas_spark.geom import wkb as _wkb
    out = []
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t != GT_POLYGON:
            out.append(None if t == GT_MISSING else [])
            continue
        parts = ga.geom_slices(i)
        holes = parts[0][1:] if parts else []
        bb = GeometryBuilder()
        for h in holes:
            bb.append(GT_LINESTRING, [[h]])
        out.append(_wkb.encode(bb.finish()) if holes else [])
    return out


def exterior(ga: GeometryArray) -> GeometryArray:
    """Exterior shell per POLYGON row as LINESTRING (reference
    base.py:1507 / geoseries exterior accessor); None for non-polygon and
    missing rows, matching the reference's elementwise semantics."""
    bb = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t != GT_POLYGON:
            bb.append_null()
            continue
        parts = ga.geom_slices(i)
        if not parts or not parts[0]:
            bb.append_empty(GT_LINESTRING)
            continue
        bb.append(GT_LINESTRING, [[parts[0][0]]])
    return bb.finish()


def _clearance_pair(ga: GeometryArray, i: int):
    """(distance, p, q) realizing the minimum clearance of row i, or
    (inf, None, None): smallest of (a) any vertex's distance to a
    non-incident edge, (b) any two distinct vertices' distance — the
    discrete form of GEOS's definition."""
    pts = _geom_points(ga, i)
    segs = _geom_segments(ga, i)
    best, bp, bq = np.inf, None, None
    if len(pts) < 2:
        return best, bp, bq
    # vertex-vertex (distinct coordinates)
    uq = np.unique(pts, axis=0)
    if len(uq) >= 2:
        for k in range(len(uq)):
            rest = uq[k + 1:]
            d = np.hypot(*(rest - uq[k]).T)
            pos = d > 0
            if pos.any():
                j = int(np.argmin(np.where(pos, d, np.inf)))
                if d[j] < best:
                    best, bp, bq = float(d[j]), uq[k], rest[j]
    # vertex vs non-incident segments
    for k in range(len(pts)):
        p = pts[k]
        if not len(segs):
            break
        incident = ((segs[:, 0] == p).all(axis=1) |
                    (segs[:, 1] == p).all(axis=1))
        rest = segs[~incident]
        if not len(rest):
            continue
        a, b = rest[:, 0], rest[:, 1]
        ab = b - a
        denom = (ab * ab).sum(-1)
        t = np.clip(((p - a) * ab).sum(-1) /
                    np.where(denom == 0, 1.0, denom), 0, 1)
        proj = a + t[:, None] * ab
        d = np.hypot(*(p - proj).T)
        pos = d > 0
        if pos.any():
            j = int(np.argmin(np.where(pos, d, np.inf)))
            if d[j] < best:
                best, bp, bq = float(d[j]), p, proj[j]
    return best, bp, bq


def minimum_clearance(ga: GeometryArray) -> np.ndarray:
    """Minimum clearance (reference base.py:1950)."""
    out = np.full(len(ga), np.inf)
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            out[i] = np.nan
            continue
        out[i] = _clearance_pair(ga, i)[0]
    return out


def minimum_clearance_line(ga: GeometryArray) -> GeometryArray:
    """Two-point LINESTRING realizing the minimum clearance (reference
    base.py:1986; GEOS MinimumClearance::getLine). LINESTRING EMPTY when
    clearance is undefined (fewer than two distinct vertices)."""
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            b.append_null()
            continue
        d, p, q = _clearance_pair(ga, i)
        if p is None or not np.isfinite(d):
            b.append_empty(GT_LINESTRING)
        else:
            b.append(GT_LINESTRING, [[np.array([p, q])]])
    return b.finish()


def maximum_inscribed_circle(ga: GeometryArray, tolerance=None) -> GeometryArray:
    """Largest circle contained in a polygon (reference base.py:1853; GEOS
    MaximumInscribedCircle): returned, like GEOS, as a two-point LINESTRING
    from the circle center to the nearest boundary point (its length is the
    radius).

    Algorithm: quadtree cell refinement over the bbox maximizing the signed
    distance to the boundary (the "polylabel" approach — same structure as
    GEOS's implementation), terminating when the best cell's potential
    improvement drops below ``tolerance`` (default: bbox diagonal / 1000).
    """
    import heapq
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        pts = _geom_points(ga, i)
        if t not in POLYGON_TYPES or len(pts) == 0:
            b.append_empty(GT_LINESTRING)
            continue
        segs = _geom_segments(ga, i)

        def sdist(xs, ys):
            """signed distance to boundary: >0 inside, <0 outside."""
            d = _point_seg_dist(np.column_stack([xs, ys]), segs)
            inside = points_in_geom(np.asarray(xs, float),
                                    np.asarray(ys, float), ga, i)
            return np.where(inside == 2, d, np.where(inside == 1, 0.0, -d))

        xmin, ymin = pts.min(axis=0)
        xmax, ymax = pts.max(axis=0)
        w, h = xmax - xmin, ymax - ymin
        diag = float(np.hypot(w, h))
        if diag == 0:
            b.append(GT_LINESTRING, [[np.array([pts[0], pts[0]])]])
            continue
        tol = float(tolerance) if tolerance else diag / 1000.0
        cell = min(w, h) / 2.0 or diag / 4.0
        # seed grid + centroid candidate
        cx = np.arange(xmin + cell, xmax + cell, 2 * cell)
        cy = np.arange(ymin + cell, ymax + cell, 2 * cell)
        gx, gy = np.meshgrid(cx, cy)
        gx, gy = gx.ravel(), gy.ravel()
        dists = sdist(gx, gy)
        half = cell  # half-size of seed cells
        # heap of (-potential, x, y, half); potential = d + half*sqrt2
        rt2 = np.sqrt(2.0)
        heap = [(-(dists[k] + half * rt2), float(gx[k]), float(gy[k]), half)
                for k in range(len(gx))]
        heapq.heapify(heap)
        best_d = float(dists.max()) if len(dists) else -np.inf
        best_xy = (float(gx[int(np.argmax(dists))]),
                   float(gy[int(np.argmax(dists))])) if len(dists) else \
            (float(pts[0, 0]), float(pts[0, 1]))
        # Work cap: shapes whose optimum is a ridge (e.g. rectangles — any
        # point on the medial segment is optimal) make the optimality proof
        # exponential in 1/tol; the answer itself converges almost
        # immediately, so bound the refinement instead of the tolerance.
        pops = 0
        while heap and pops < 4096:
            pops += 1
            neg_pot, x, y, hs = heapq.heappop(heap)
            if -neg_pot - best_d <= tol:
                break
            hs2 = hs / 2.0
            qx = np.array([x - hs2, x + hs2, x - hs2, x + hs2])
            qy = np.array([y - hs2, y - hs2, y + hs2, y + hs2])
            qd = sdist(qx, qy)
            for k in range(4):
                d = float(qd[k])
                if d > best_d:
                    best_d, best_xy = d, (float(qx[k]), float(qy[k]))
                pot = d + hs2 * rt2
                if pot - best_d > tol:
                    heapq.heappush(heap, (-pot, float(qx[k]),
                                          float(qy[k]), hs2))
        # nearest boundary point from the center
        c = np.array(best_xy)
        a, bb2 = segs[:, 0], segs[:, 1]
        ab = bb2 - a
        denom = (ab * ab).sum(-1)
        tt = np.clip(((c - a) * ab).sum(-1) /
                     np.where(denom == 0, 1.0, denom), 0, 1)
        proj = a + tt[:, None] * ab
        j = int(np.argmin(np.hypot(*(c - proj).T)))
        b.append(GT_LINESTRING, [[np.array([c, proj[j]])]])
    return b.finish()


# ---------------------------------------------------------------------------
# DE-9IM (reference: relate base.py:5612, relate_pattern :5716)
# ---------------------------------------------------------------------------

def _line_boundary_points(ga, i):
    """Mod-2 rule: line boundary = endpoints appearing an odd number of
    times across parts (a closed ring has no boundary)."""
    cnt = {}
    for p in ga.geom_slices(i):
        r = p[0]
        if len(r) < 2:
            continue
        for v in (r[0], r[-1]):
            k = (v[0], v[1])
            cnt[k] = cnt.get(k, 0) + 1
    return np.array([k for k, c in cnt.items() if c % 2 == 1],
                    dtype=np.float64).reshape(-1, 2)


def _dim_str(d):
    return {-1: "F", 0: "0", 1: "1", 2: "2"}[d]


def _dim_code(row) -> str:
    """DE-9IM dimension character of a single-row GeometryArray."""
    if len(row) == 0 or bool(row.is_empty()[0]):
        return "F"
    if float(np.nansum(area(row))) > 1e-12:
        return "2"
    if float(np.nansum(length(row))) > 1e-12:
        return "1"
    return "0"


def _relate_gc_pointwise(ga, i, gb, j) -> str:
    """DE-9IM for GEOMETRYCOLLECTION operand(s): RelateNG-style
    pointwise matrix assembled from the GC-aware set ops —
    interior(X) ≈ X − ∂X, exterior(X) ≈ complement of closure — each
    of the eight finite cells is the dimension of the corresponding
    set-algebra residue.  Deviation from exact RelateNG: boundary
    points of one child overlapped by another child's interior keep
    their boundary role (no dimension-dominance re-classification);
    this only moves measure-zero sets between adjacent cells."""
    A, B = ga.take([i]), gb.take([j])

    bd_a, bd_b = _pointwise_boundary(A), _pointwise_boundary(B)
    inter = intersection(A, B)
    cells = [
        _dim_code(difference(difference(inter, bd_a), bd_b)),   # II
        _dim_code(difference(intersection(A, bd_b), bd_a)),     # IB
        _dim_code(difference(difference(A, B), bd_a)),          # IE
        _dim_code(difference(intersection(bd_a, B), bd_b)),     # BI
        _dim_code(intersection(bd_a, bd_b)),                    # BB
        _dim_code(difference(bd_a, B)),                         # BE
        _dim_code(difference(difference(B, A), bd_b)),          # EI
        _dim_code(difference(bd_b, A)),                         # EB
    ]
    return "".join(cells) + "2"


def _relate_pair(ga, i, gb, j) -> str:
    """DE-9IM matrix for one pair, computed from the kernel's own
    primitives. Supported geometry classes: point, line, polygon (incl.
    multi of each); GEOMETRYCOLLECTION operands route through the
    pointwise set-op assembly (_relate_gc_pointwise)."""
    ta, tb = int(ga.types[i]), int(gb.types[j])
    if ta == GT_GEOMETRYCOLLECTION or tb == GT_GEOMETRYCOLLECTION:
        return _relate_gc_pointwise(ga, i, gb, j)
    ca = ("pt" if ta in POINT_TYPES else
          "ln" if ta in LINE_TYPES else "pg")
    cb = ("pt" if tb in POINT_TYPES else
          "ln" if tb in LINE_TYPES else "pg")

    def regions(g, k, cls):
        """(interior_probe, boundary_probe, has_area) accessors."""
        return None

    # Build the 9 cells as dims; EE always 2.
    M = {(r, c): -1 for r in "IBE" for c in "IBE"}
    M[("E", "E")] = 2

    pa = _geom_points(ga, i)
    pb = _geom_points(gb, j)
    sa = _geom_segments(ga, i)
    sb = _geom_segments(gb, j)

    def pt_vs(cls_other, g, k, pts):
        """classify points vs other geometry: returns (in_int, on_bnd,
        in_ext) boolean arrays."""
        if cls_other == "pg":
            cls = points_in_geom(pts[:, 0], pts[:, 1], g, k)
            return cls == 2, cls == 1, cls == 0
        if cls_other == "ln":
            segs = _geom_segments(g, k)
            onb = np.zeros(len(pts), dtype=bool)
            if len(segs):
                onb = np.array([
                    _point_seg_dist(p.reshape(1, 2), segs)[0] <= _EPS
                    for p in pts])
            bnd = _line_boundary_points(g, k)
            on_endpoint = np.zeros(len(pts), dtype=bool)
            if len(bnd):
                on_endpoint = np.array([
                    (np.abs(bnd - p).max(axis=1) <= _EPS).any() for p in pts])
            return onb & ~on_endpoint, on_endpoint, ~onb
        # other is point set
        gp = _geom_points(g, k)
        inn = np.array([(np.abs(gp - p).max(axis=1) <= _EPS).any()
                        for p in pts]) if len(gp) else \
            np.zeros(len(pts), dtype=bool)
        return inn, np.zeros(len(pts), dtype=bool), ~inn

    if ca == "pt":
        ii, ib, ie = pt_vs(cb, gb, j, pa)
        M[("I", "I")] = 0 if ii.any() else -1
        M[("I", "B")] = 0 if ib.any() else -1
        M[("I", "E")] = 0 if ie.any() else -1
        # A point has no boundary → B row stays F
        if cb == "pg":
            M[("E", "I")] = 2
            M[("E", "B")] = 1
        elif cb == "ln":
            M[("E", "I")] = 1
            M[("E", "B")] = 0 if len(_line_boundary_points(gb, j)) else -1
        else:
            ji, _, _ = pt_vs("pt", ga, i, pb)
            M[("E", "I")] = 0 if (~ji).any() else -1
        return "".join(_dim_str(M[(r, c)]) for r in "IBE" for c in "IBE")

    if cb == "pt":
        # transpose of the case above
        m = _relate_pair(gb, j, ga, i)
        return m[0] + m[3] + m[6] + m[1] + m[4] + m[7] + m[2] + m[5] + m[8]

    if ca == "ln" and cb == "pg":
        inside = _clip_line_by_polygon(ga, i, gb, j, True)
        outside = _clip_line_by_polygon(ga, i, gb, j, False)
        rings_b = _geom_rings_closed(gb, j)
        E0, E1 = _flatten_edges(rings_b)
        bsegs = np.stack([E0, E1], axis=1)
        # interior pieces strictly inside (not on boundary)
        int_len = bnd_len = 0.0
        for ch in inside:
            for k in range(len(ch) - 1):
                mid = (ch[k] + ch[k + 1]) / 2
                if _point_seg_dist(mid.reshape(1, 2), bsegs)[0] <= _EPS:
                    bnd_len += 1
                else:
                    int_len += 1
        M[("I", "I")] = 1 if int_len else -1
        bnd = _line_boundary_points(ga, i)
        if bnd_len:
            M[("I", "B")] = 1
        else:
            # contact points: A-segment × B-boundary-edge intersections that
            # are NOT endpoints of A (those belong to A's boundary row)
            contact = False
            for s in sa:
                for q in bsegs:
                    for h in _mr._segment_intersection(
                            tuple(s[0]), tuple(s[1]),
                            tuple(q[0]), tuple(q[1])):
                        hp = np.asarray(h)
                        if not (len(bnd) and
                                (np.abs(bnd - hp).max(axis=1) <= _EPS).any()):
                            contact = True
            M[("I", "B")] = 0 if contact else -1
        M[("I", "E")] = 1 if outside else -1
        if len(bnd):
            bi, bb_, be = pt_vs("pg", gb, j, bnd)
            M[("B", "I")] = 0 if bi.any() else -1
            M[("B", "B")] = 0 if bb_.any() else -1
            M[("B", "E")] = 0 if be.any() else -1
        M[("E", "I")] = 2
        M[("E", "B")] = 1
        return "".join(_dim_str(M[(r, c)]) for r in "IBE" for c in "IBE")

    if ca == "pg" and cb == "ln":
        m = _relate_pair(gb, j, ga, i)
        return m[0] + m[3] + m[6] + m[1] + m[4] + m[7] + m[2] + m[5] + m[8]

    if ca == "ln" and cb == "ln":
        # collinear overlap pieces → dim 1; crossings/touches → dim 0
        shared = touch_pts = False
        for s in sa:
            for p in _split_segment_by_edges(s[0], s[1], sb[:, 0], sb[:, 1]):
                mid = ((p[0] + p[1]) / 2).reshape(1, 2)
                if len(sb) and _point_seg_dist(mid, sb)[0] <= _EPS:
                    shared = True
        hits = []
        for s in sa:
            for q in sb:
                hits.extend(_mr._segment_intersection(
                    tuple(s[0]), tuple(s[1]), tuple(q[0]), tuple(q[1])))
        ba = _line_boundary_points(ga, i)
        bb_ = _line_boundary_points(gb, j)
        def _is_bnd(p, bnd):
            return len(bnd) and (np.abs(bnd - np.asarray(p)).max(axis=1)
                                 <= _EPS).any()
        int_int_pt = any(not _is_bnd(h, ba) and not _is_bnd(h, bb_)
                         for h in hits)
        M[("I", "I")] = 1 if shared else (0 if int_int_pt else -1)
        M[("I", "B")] = 0 if any(_is_bnd(h, bb_) and not _is_bnd(h, ba)
                                 for h in hits) else -1
        M[("B", "I")] = 0 if any(_is_bnd(h, ba) and not _is_bnd(h, bb_)
                                 for h in hits) else -1
        M[("B", "B")] = 0 if any(_is_bnd(h, ba) and _is_bnd(h, bb_)
                                 for h in hits) else -1
        # exterior reaches: any piece of A not on B, and vice versa
        out_a = any(_point_seg_dist(((p[0] + p[1]) / 2).reshape(1, 2),
                                    sb)[0] > _EPS if len(sb) else True
                    for s in sa
                    for p in _split_segment_by_edges(s[0], s[1],
                                                     sb[:, 0], sb[:, 1]))
        out_b = any(_point_seg_dist(((p[0] + p[1]) / 2).reshape(1, 2),
                                    sa)[0] > _EPS if len(sa) else True
                    for s in sb
                    for p in _split_segment_by_edges(s[0], s[1],
                                                     sa[:, 0], sa[:, 1]))
        M[("I", "E")] = 1 if out_a else -1
        M[("E", "I")] = 1 if out_b else -1
        M[("B", "E")] = 0 if any(not _is_bnd(tuple(p), bb_) and
                                 (not len(sb) or _point_seg_dist(
                                     p.reshape(1, 2), sb)[0] > _EPS)
                                 for p in ba) else -1
        M[("E", "B")] = 0 if any(not _is_bnd(tuple(p), ba) and
                                 (not len(sa) or _point_seg_dist(
                                     p.reshape(1, 2), sa)[0] > _EPS)
                                 for p in bb_) else -1
        return "".join(_dim_str(M[(r, c)]) for r in "IBE" for c in "IBE")

    # polygon × polygon
    ra = _geom_rings_closed(ga, i)
    rb = _geom_rings_closed(gb, j)
    inter = _mr.boolean_op(ra, rb, _mr.INTERSECTION)
    a_minus_b = _mr.boolean_op(ra, rb, _mr.DIFFERENCE)
    b_minus_a = _mr.boolean_op(rb, ra, _mr.DIFFERENCE)

    def _polys_area(polys):
        return sum(_mr._ring_signed_area(r) for p in polys for r in p)

    M[("I", "I")] = 2 if inter and _polys_area(inter) > _EPS else -1
    M[("I", "E")] = 2 if a_minus_b and _polys_area(a_minus_b) > _EPS else -1
    M[("E", "I")] = 2 if b_minus_a and _polys_area(b_minus_a) > _EPS else -1
    # boundary×boundary: shared collinear edges → 1; corner contacts → 0
    Ea0, Ea1 = _flatten_edges(ra)
    Eb0, Eb1 = _flatten_edges(rb)
    asegs = np.stack([Ea0, Ea1], axis=1)
    bsegs = np.stack([Eb0, Eb1], axis=1)
    shared_edge = contact = False
    for s in asegs:
        for p in _split_segment_by_edges(s[0], s[1], Eb0, Eb1):
            mid = ((p[0] + p[1]) / 2).reshape(1, 2)
            if _point_seg_dist(mid, bsegs)[0] <= _EPS:
                shared_edge = True
        for q in bsegs:
            if _mr._segment_intersection(tuple(s[0]), tuple(s[1]),
                                         tuple(q[0]), tuple(q[1])):
                contact = True
    M[("B", "B")] = 1 if shared_edge else (0 if contact else -1)
    # boundary of A vs interior/exterior of B: classify A's boundary pieces
    def bnd_vs(asegs_, g, k, other_bsegs):
        has_int = has_ext = False
        for s in asegs_:
            for p in _split_segment_by_edges(s[0], s[1], other_bsegs[:, 0],
                                             other_bsegs[:, 1]):
                mid = (p[0] + p[1]) / 2
                if _point_seg_dist(mid.reshape(1, 2), other_bsegs)[0] <= _EPS:
                    continue
                if points_in_geom(mid[:1], mid[1:], g, k)[0] == 2:
                    has_int = True
                else:
                    has_ext = True
        return has_int, has_ext
    bi, be = bnd_vs(asegs, gb, j, bsegs)
    M[("B", "I")] = 1 if bi else -1
    M[("B", "E")] = 1 if be else -1
    ib, eb = bnd_vs(bsegs, ga, i, asegs)
    M[("I", "B")] = 1 if ib else -1
    M[("E", "B")] = 1 if eb else -1
    return "".join(_dim_str(M[(r, c)]) for r in "IBE" for c in "IBE")


def relate(ga: GeometryArray, gb: GeometryArray) -> list:
    """Pairwise DE-9IM matrices (reference base.py:5612)."""
    out = []
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING or gb.types[i] == GT_MISSING:
            out.append(None)
        else:
            out.append(_relate_pair(ga, i, gb, i))
    return out


def relate_pattern(ga: GeometryArray, gb: GeometryArray,
                   pattern: str) -> np.ndarray:
    """Test matrices against a DE-9IM pattern (reference base.py:5716).
    Pattern chars: T (dim >= 0), F (no intersection), 0/1/2 (exact dim),
    * (anything)."""
    pattern = pattern.replace(" ", "")
    if len(pattern) != 9:
        raise ValueError("DE-9IM pattern must have 9 characters")
    mats = relate(ga, gb)
    out = np.zeros(len(ga), dtype=bool)
    for i, m in enumerate(mats):
        if m is None:
            continue
        ok = True
        for mc, pc in zip(m, pattern.upper()):
            if pc == "*":
                continue
            if pc == "T" and mc == "F":
                ok = False
            elif pc == "F" and mc != "F":
                ok = False
            elif pc in "012" and mc != pc:
                ok = False
        out[i] = ok
    return out


def offset_curve(ga: GeometryArray, dist, quad_segs: int = 16) -> GeometryArray:
    """Parallel offset of lines (reference base.py:1573): positive distance
    offsets to the LEFT of the line direction. Segments shift along their
    left normal; convex turns get arc fillets, concave turns the offset
    lines' intersection (GEOS-style round joins; self-intersection for
    offsets larger than the local feature size is possible, as in GEOS)."""
    dist = np.broadcast_to(np.asarray(dist, dtype=np.float64), (len(ga),))
    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        if t not in LINE_TYPES or ga.is_empty()[i]:
            b.append_from(ga, i)
            continue
        d = float(dist[i])
        if d == 0:
            b.append_from(ga, i)
            continue
        chains = []
        for p in ga.geom_slices(i):
            r = p[0]
            if len(r) < 2:
                continue
            seg = r[1:] - r[:-1]
            ln = np.hypot(seg[:, 0], seg[:, 1])
            keep = ln > 0
            seg, ln = seg[keep], ln[keep]
            verts = np.concatenate([r[:1], r[1:][keep]], axis=0)
            if len(verts) < 2:
                continue
            nx, ny = -seg[:, 1] / ln, seg[:, 0] / ln  # left normals
            off = d
            pts = [verts[0] + np.array([nx[0], ny[0]]) * off]
            for k in range(len(seg) - 1):
                v = verts[k + 1]
                n0 = np.array([nx[k], ny[k]]) * off
                n1 = np.array([nx[k + 1], ny[k + 1]]) * off
                cross = seg[k, 0] * seg[k + 1, 1] - seg[k, 1] * seg[k + 1, 0]
                turn_left = cross > 0
                arc_outside = (off > 0) != turn_left
                if arc_outside and abs(cross) > _EPS:
                    # n0/n1 already point to the offset side; sweep the arc
                    # in the turn's rotation direction
                    a0 = np.arctan2(n0[1], n0[0])
                    a1 = np.arctan2(n1[1], n1[0])
                    if cross < 0:  # right turn → clockwise sweep
                        while a1 > a0:
                            a1 -= 2 * np.pi
                    else:  # left turn → counterclockwise sweep
                        while a1 < a0:
                            a1 += 2 * np.pi
                    # ceil, not truncate: int() let the angular step grow
                    # to 2x the nominal (pi/2)/quad_segs increment, so arc
                    # chords sagged below the d*cos(step/2) band the
                    # buffer kernel honors (r9 offset-curve fuzz find)
                    steps = max(1, int(np.ceil(
                        abs(a1 - a0) / (np.pi / 2 / quad_segs))))
                    for s_ in range(steps + 1):
                        aa = a0 + (a1 - a0) * s_ / steps
                        pts.append(v + abs(off) * np.array(
                            [np.cos(aa), np.sin(aa)]))
                else:
                    # miter: intersection of the two offset lines
                    p0, d0 = verts[k] + n0, seg[k]
                    p1, d1 = verts[k + 1] + n1, seg[k + 1]
                    den = d0[0] * d1[1] - d0[1] * d1[0]
                    if abs(den) > _EPS:
                        tt = ((p1[0] - p0[0]) * d1[1] -
                              (p1[1] - p0[1]) * d1[0]) / den
                        pts.append(p0 + tt * d0)
                    else:
                        pts.append(v + n0)
            pts.append(verts[-1] + np.array([nx[-1], ny[-1]]) * off)
            chains.append(np.asarray(pts))
        _append_chains(b, chains)
    return b.finish()


def get_precision(ga: GeometryArray) -> np.ndarray:
    """Coordinate precision grid (reference base.py:875): this kernel keeps
    full double precision, so 0.0 everywhere (GEOS's value for ungridded
    geometry); NaN for missing."""
    out = np.zeros(len(ga))
    out[ga.is_missing()] = np.nan
    return out


def is_valid_coverage(ga: GeometryArray, gap_width: float = 0.0) -> bool:
    """Whole-series coverage check (reference base.py:378): polygons form a
    valid coverage when their interiors are pairwise disjoint (boundary
    touching allowed). Pairwise Martinez–Rueda intersection areas over a
    bbox prefilter.

    ``gap_width`` (r13 fuzz find: the parameter was accepted but silently
    ignored — the r10 voronoi ``extend_to`` bug class): following GEOS
    CoverageGapFinder, holes of the coverage UNION whose maximum inscribed
    circle diameter is below ``gap_width`` are narrow gaps between cells
    that should have shared an edge → invalid. Wider holes are legitimate
    map holes and stay valid."""
    bb = bounds(ga)
    idx = [i for i in range(len(ga))
           if int(ga.types[i]) in POLYGON_TYPES and not ga.is_empty()[i]]
    for a_i in range(len(idx)):
        i = idx[a_i]
        for b_i in range(a_i + 1, len(idx)):
            j = idx[b_i]
            if (bb[i, 2] < bb[j, 0] or bb[j, 2] < bb[i, 0] or
                    bb[i, 3] < bb[j, 1] or bb[j, 3] < bb[i, 1]):
                continue
            polys = _mr.boolean_op(_geom_rings_closed(ga, i),
                                   _geom_rings_closed(ga, j),
                                   _mr.INTERSECTION)
            area_ij = sum(_mr._ring_signed_area(r) for p in polys for r in p)
            if area_ij > _EPS:
                return False
    if gap_width > 0.0 and idx:
        u = union_all(ga.take(np.asarray(idx, dtype=np.int64)))
        hb = GeometryBuilder()
        nholes = 0
        for part in u.geom_slices(0):
            for ring in part[1:]:           # interior rings = holes
                hb.append(GT_POLYGON, [[ring]])
                nholes += 1
        if nholes:
            mic = maximum_inscribed_circle(hb.finish(),
                                           tolerance=gap_width / 100.0)
            widths = 2.0 * length(mic)
            if (widths < gap_width).any():
                return False
    return True


def invalid_coverage_edges(ga: GeometryArray,
                           gap_width: float = 0.0) -> GeometryArray:
    """Per-row MULTILINESTRING of the boundary portions that break the
    coverage — sub-segments of a polygon's boundary lying strictly inside
    another polygon (reference base.py:450; GEOS CoverageValidator's
    invalid-edge output). Empty line for rows that are coverage-clean.
    With ``gap_width`` > 0 (r13, reference-parity with is_valid_coverage),
    boundary segments bordering a narrow gap — a union hole whose max
    inscribed circle diameter is below ``gap_width`` — are flagged too."""
    bb = bounds(ga)
    empty = ga.is_empty()
    idx = [i for i in range(len(ga))
           if int(ga.types[i]) in POLYGON_TYPES and not empty[i]]
    # narrow-gap boundaries (one union pass, only when requested)
    gap_segs = []
    if gap_width > 0.0 and idx:
        u = union_all(ga.take(np.asarray(idx, dtype=np.int64)))
        hb = GeometryBuilder()
        nholes = 0
        for part in u.geom_slices(0):
            for ring in part[1:]:
                hb.append(GT_POLYGON, [[ring]])
                nholes += 1
        if nholes:
            holes = hb.finish()
            mic = maximum_inscribed_circle(holes,
                                           tolerance=gap_width / 100.0)
            wid = 2.0 * length(mic)
            for h in np.nonzero(wid < gap_width)[0]:
                gap_segs.append(_geom_segments(holes, int(h)))
    b = GeometryBuilder()
    for i in range(len(ga)):
        if ga.types[i] == GT_MISSING:
            b.append_null()
            continue
        if i not in idx:
            b.append_empty(GT_MULTILINESTRING)
            continue
        bad = []
        mysegs = _geom_segments(ga, i)
        # segments lying on a narrow-gap hole boundary: compare midpoints
        # against the gap segments (canon-rounded, orientation-free)
        if gap_segs:
            gs = np.concatenate(gap_segs)
            gkey = {(tuple(np.round(sorted((tuple(s[0]), tuple(s[1])))[0], 9)),
                     tuple(np.round(sorted((tuple(s[0]), tuple(s[1])))[1], 9)))
                    for s in gs}
            for k in range(len(mysegs)):
                p, q = mysegs[k]
                a, c = sorted((tuple(p), tuple(q)))
                if (tuple(np.round(a, 9)), tuple(np.round(c, 9))) in gkey:
                    bad.append(np.array([p, q]))
        for j in idx:
            if j == i:
                continue
            if (bb[i, 2] < bb[j, 0] or bb[j, 2] < bb[i, 0] or
                    bb[i, 3] < bb[j, 1] or bb[j, 3] < bb[i, 1]):
                continue
            osegs = _geom_segments(ga, j)
            oa, ob = osegs[:, 0], osegs[:, 1]
            s = ob - oa
            for k in range(len(mysegs)):
                p, q = mysegs[k]
                r = q - p
                # split params where this segment crosses j's boundary
                denom = r[0] * s[:, 1] - r[1] * s[:, 0]
                ap = oa - p
                with np.errstate(divide="ignore", invalid="ignore"):
                    t = (ap[:, 0] * s[:, 1] - ap[:, 1] * s[:, 0]) / denom
                    u = (ap[:, 0] * r[1] - ap[:, 1] * r[0]) / denom
                ok = (denom != 0) & (t > 0) & (t < 1) & (u >= 0) & (u <= 1)
                ts = np.concatenate([[0.0, 1.0], t[ok]])
                ts = np.unique(ts)
                mids = p + (ts[:-1] + np.diff(ts) / 2)[:, None] * r
                inside = points_in_geom(mids[:, 0], mids[:, 1], ga, j) == 2
                for m in np.nonzero(inside)[0]:
                    bad.append(np.array([p + ts[m] * r, p + ts[m + 1] * r]))
        if bad:
            b.append(GT_MULTILINESTRING, [[sg] for sg in bad])
        else:
            b.append_empty(GT_MULTILINESTRING)
    return line_merge(b.finish())


def simplify_coverage(ga: GeometryArray, tolerance: float) -> GeometryArray:
    """Topology-preserving coverage simplification (reference base.py:5536;
    GEOS CoverageSimplifier): rings are decomposed into arcs at junction
    vertices, each shared arc is Douglas-Peucker-simplified ONCE, and both
    neighbors reuse the same simplified arc — edges stay coincident, so a
    valid coverage stays valid."""
    tol = float(tolerance)
    key = lambda v: (round(float(v[0]), 9), round(float(v[1]), 9))
    # --- edge ownership: undirected edge -> set of rows using it
    owners = {}
    rings_by_row = []   # list of (row, [ring arrays])
    for i in range(len(ga)):
        rr = []
        if int(ga.types[i]) in POLYGON_TYPES:
            for part in ga.geom_slices(i):
                rr.extend(part)
        rings_by_row.append(rr)
        for ring2 in rr:
            for k in range(len(ring2) - 1):
                a, c = key(ring2[k]), key(ring2[k + 1])
                if a == c:
                    continue
                e = (a, c) if a <= c else (c, a)
                owners.setdefault(e, set()).add(i)
    # --- vertex adjacency in the union graph
    vdeg = {}
    for (a, c) in owners:
        vdeg.setdefault(a, set()).add((a, c))
        vdeg.setdefault(c, set()).add((a, c))

    def _is_junction(v, e_prev, e_next):
        es = vdeg.get(v, set())
        if len(es) != 2:
            return True
        return owners.get(e_prev) != owners.get(e_next)

    arc_cache = {}

    def _simplified(arc):
        """arc: (n,2) coords; cache on canonical direction so both
        neighbors get the identical polyline."""
        fwd = tuple(key(p) for p in arc)
        rev = fwd[::-1]
        if fwd <= rev:
            ck, flip = fwd, False
        else:
            ck, flip = rev, True
        if ck not in arc_cache:
            arc_cache[ck] = _dp(arc[::-1] if flip else arc, tol)
        out = arc_cache[ck]
        return out[::-1] if flip else out

    b = GeometryBuilder()
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == GT_MISSING:
            b.append_null()
            continue
        if t not in POLYGON_TYPES or not rings_by_row[i]:
            b.append_from(ga, i)
            continue
        new_parts = []
        for part in ga.geom_slices(i):
            new_rings = []
            for ring2 in part:
                vk = [key(p) for p in ring2[:-1]]
                n = len(vk)
                if n < 3:
                    new_rings.append(ring2)
                    continue
                # junction positions along the ring
                juncs = []
                for k in range(n):
                    e_prev = tuple(sorted((vk[(k - 1) % n], vk[k])))
                    e_next = tuple(sorted((vk[k], vk[(k + 1) % n])))
                    if _is_junction(vk[k], e_prev, e_next):
                        juncs.append(k)
                if not juncs:
                    # isolated ring: simplify closed (endpoints pinned)
                    out = _dp(ring2, tol)
                    new_rings.append(out if len(out) >= 4 else ring2)
                    continue
                pieces = []
                for a_i in range(len(juncs)):
                    k0, k1 = juncs[a_i], juncs[(a_i + 1) % len(juncs)]
                    if k1 > k0:
                        arc = ring2[k0:k1 + 1]
                    else:
                        arc = np.concatenate([ring2[k0:n], ring2[:k1 + 1]])
                    pieces.append(_simplified(arc))
                coords = [pieces[0]] + [p[1:] for p in pieces[1:]]
                ring_new = np.concatenate(coords)
                if (len(ring_new) >= 4 and
                        abs(_ring_signed_area(ring_new)) > _EPS):
                    new_rings.append(ring_new)
                else:
                    new_rings.append(ring2)
            new_parts.append(new_rings)
        b.append(t, new_parts)
    return b.finish()
