"""Property-based tests (hypothesis) for the boolean-op kernel.

The reference has no property testing (SURVEY §5); these pin the set-op
algebra on random integer-grid geometry where every area is an exact
double, so the identities must hold exactly:

    area(A∩B) + area(A∖B) = area(A)
    area(A∪B) = area(A) + area(B) − area(A∩B)
    area(A⊕B) = area(A∪B) − area(A∩B)
"""

import numpy as np
from hypothesis import example, given, settings, strategies as st_

from geopandas_spark.geom import algos, wkb, wkt
from geopandas_spark.geom.array import boxes_from_bounds


def _box(x0, y0, w, h):
    return boxes_from_bounds([x0], [y0], [x0 + w], [y0 + h])


coords = st_.integers(min_value=0, max_value=40)
sizes = st_.integers(min_value=1, max_value=30)


@settings(max_examples=120, deadline=None)
@given(coords, coords, sizes, sizes, coords, coords, sizes, sizes)
def test_boolean_area_identities_boxes(x0, y0, w0, h0, x1, y1, w1, h1):
    a = _box(x0, y0, w0, h0)
    b = _box(x1, y1, w1, h1)
    A = algos.area(a)[0]
    B = algos.area(b)[0]
    I = algos.area(algos.intersection(a, b))[0]
    U = algos.area(algos.union(a, b))[0]
    D = algos.area(algos.difference(a, b))[0]
    X = algos.area(algos.symmetric_difference(a, b))[0]
    assert I + D == A
    assert U == A + B - I
    assert X == U - I
    # exact rectangle-overlap cross-check
    ox = max(0, min(x0 + w0, x1 + w1) - max(x0, x1))
    oy = max(0, min(y0 + h0, y1 + h1) - max(y0, y1))
    assert I == ox * oy


@settings(max_examples=60, deadline=None)
@given(st_.lists(st_.tuples(coords, coords, sizes, sizes), min_size=2,
                 max_size=6))
def test_union_all_upper_lower_bounds(boxes):
    ga = boxes_from_bounds([b[0] for b in boxes], [b[1] for b in boxes],
                           [b[0] + b[2] for b in boxes],
                           [b[1] + b[3] for b in boxes])
    areas = algos.area(ga)
    u = algos.union_all(ga)
    ua = algos.area(u)[0]
    assert ua <= areas.sum() + 1e-9
    assert ua >= areas.max() - 1e-9
    # every input box is covered by the union
    for k in range(len(ga)):
        assert algos.covers(u.take([0] * 1), ga.take([k]))[0] or \
            algos.area(algos.difference(ga.take([k]), u))[0] <= 1e-9


@settings(max_examples=80, deadline=None)
@given(coords, coords, coords, coords, sizes, sizes)
def test_predicate_consistency(px, py, x0, y0, w, h):
    p = wkt.parse_array([f"POINT ({px} {py})"])
    bx = _box(x0, y0, w, h)
    inter = algos.intersects(p, bx)[0]
    within = algos.within(p, bx)[0]
    covered = algos.covered_by(p, bx)[0]
    contains = algos.contains(bx, p)[0]
    covers = algos.covers(bx, p)[0]
    assert within == contains
    assert covered == covers
    # geometry truth
    strictly_in = x0 < px < x0 + w and y0 < py < y0 + h
    on_or_in = x0 <= px <= x0 + w and y0 <= py <= y0 + h
    assert within == strictly_in
    assert covered == on_or_in
    assert inter == on_or_in
    if within:
        assert covered and inter


@settings(max_examples=80, deadline=None)
@given(st_.lists(st_.tuples(coords, coords), min_size=3, max_size=3,
                 unique=True),
       st_.lists(st_.tuples(coords, coords), min_size=3, max_size=3,
                 unique=True))
def test_boolean_identities_triangles(ta, tb):
    def tri(pts):
        (x0, y0), (x1, y1), (x2, y2) = pts
        ar2 = (x1 - x0) * (y2 - y0) - (y1 - y0) * (x2 - x0)
        if ar2 == 0:
            return None
        if ar2 < 0:
            pts = [pts[0], pts[2], pts[1]]
        w = ", ".join(f"{x} {y}" for x, y in pts + [pts[0]])
        return wkt.parse_array([f"POLYGON (({w}))"])

    a, b = tri(ta), tri(tb)
    if a is None or b is None:
        return
    A = algos.area(a)[0]
    B = algos.area(b)[0]
    I = algos.area(algos.intersection(a, b))[0]
    U = algos.area(algos.union(a, b))[0]
    D = algos.area(algos.difference(a, b))[0]
    X = algos.area(algos.symmetric_difference(a, b))[0]
    np.testing.assert_allclose(I + D, A, atol=1e-7)
    np.testing.assert_allclose(U, A + B - I, atol=1e-7)
    np.testing.assert_allclose(X, U - I, atol=1e-7)


@settings(max_examples=60, deadline=None)
@given(st_.lists(st_.tuples(coords, coords), min_size=3, max_size=8,
                 unique=True))
def test_cdt_tiles_convex_hull_of_simple_polygons(pts):
    """For the convex hull of random integer points (a simple convex
    polygon), any constrained triangulation must tile it exactly: triangle
    areas sum to the hull area, and n_tri = n_vertices - 2."""
    ga = wkt.parse_array([
        "MULTIPOINT (" + ", ".join(f"({x} {y})" for x, y in pts) + ")"])
    hull = algos.convex_hull(ga)
    if algos.area(hull)[0] == 0:  # collinear input
        return
    tris = algos.constrained_delaunay_triangles(hull)
    assert algos.area(tris)[0] == algos.area(hull)[0]
    nv = algos.count_coordinates(hull)[0] - 1  # closed ring repeats first
    assert algos.count_geometries(tris)[0] == nv - 2


@settings(max_examples=60, deadline=None)
@given(coords, coords, sizes, sizes)
def test_mic_radius_bounded_by_half_min_side(x0, y0, w, h):
    """Inscribed radius of a rectangle is exactly min(w,h)/2, and the
    clearance is exactly min(w,h)."""
    a = _box(x0, y0, w, h)
    mic = algos.maximum_inscribed_circle(a)
    assert algos.length(mic)[0] == min(w, h) / 2
    assert algos.minimum_clearance(a)[0] == min(w, h)
    assert algos.length(algos.minimum_clearance_line(a))[0] == min(w, h)


@settings(max_examples=60, deadline=None)
@given(st_.lists(st_.tuples(coords, coords, sizes, sizes), min_size=2,
                 max_size=5))
def test_intersection_all_monotone(boxes):
    """intersection_all is contained in every input: its area is ≤ the
    smallest input area, and adding inputs never grows it."""
    ga = wkt.parse_array([
        f"POLYGON (({x} {y}, {x+w} {y}, {x+w} {y+h}, {x} {y+h}, {x} {y}))"
        for x, y, w, h in boxes])
    full = algos.area(algos.intersection_all(ga))[0]
    assert full <= min(w * h for _, _, w, h in boxes)
    prefix = algos.area(algos.intersection_all(ga.take(
        list(range(len(boxes) - 1)))))[0]
    assert full <= prefix


@settings(max_examples=40, deadline=None)
@given(st_.integers(0, 50), st_.integers(1, 50), st_.integers(0, 50),
       st_.integers(1, 50))
def test_shared_paths_length_formula(s1, l1, s2, l2):
    """Collinear overlap length of [s1,s1+l1] and [s2,s2+l2] on one axis."""
    a = wkt.parse_array([f"LINESTRING ({s1} 0, {s1+l1} 0)"])
    b = wkt.parse_array([f"LINESTRING ({s2} 0, {s2+l2} 0)"])
    same, opp = algos.shared_paths(a, b)
    expect = max(0, min(s1 + l1, s2 + l2) - max(s1, s2))
    assert algos.length(same)[0] == expect
    assert algos.length(opp)[0] == 0.0


# ---------------------------------------------------------------------------
# WKB codec: vectorized bucket paths == per-row reference paths
# ---------------------------------------------------------------------------

@st_.composite
def _wkt_rows(draw):
    kinds = st_.sampled_from(["pt", "ls", "pg", "pg_hole", "mp", "mpg",
                               "empty_pt", "empty_pg", "null"])
    rows = draw(st_.lists(kinds, min_size=1, max_size=40))
    out = []
    for k in rows:
        x = draw(st_.integers(0, 50))
        y = draw(st_.integers(0, 50))
        nv = draw(st_.integers(2, 6))
        if k == "pt":
            out.append(f"POINT ({x} {y})")
        elif k == "ls":
            pts = ", ".join(f"{x+j} {y+(j*j)%5}" for j in range(nv))
            out.append(f"LINESTRING ({pts})")
        elif k == "pg":
            out.append(f"POLYGON (({x} {y}, {x+9} {y}, {x+9} {y+9}, "
                       f"{x} {y+9}, {x} {y}))")
        elif k == "pg_hole":
            out.append(f"POLYGON (({x} {y}, {x+20} {y}, {x+20} {y+20}, "
                       f"{x} {y+20}, {x} {y}), ({x+2} {y+2}, {x+5} {y+2}, "
                       f"{x+5} {y+5}, {x+2} {y+5}, {x+2} {y+2}))")
        elif k == "mp":
            out.append(f"MULTIPOINT (({x} {y}), ({x+1} {y+2}))")
        elif k == "mpg":
            out.append(f"MULTIPOLYGON ((({x} {y}, {x+4} {y}, {x+4} {y+4}, "
                       f"{x} {y+4}, {x} {y})))")
        elif k == "empty_pt":
            out.append("POINT EMPTY")
        elif k == "empty_pg":
            out.append("POLYGON EMPTY")
        else:
            out.append(None)
    return out


@given(_wkt_rows())
@settings(max_examples=60, deadline=None)
def test_wkb_codec_vectorized_equals_reference(rows):
    """decode(encode(x)) is the identity and the vectorized bucket decode
    agrees with the per-row reference parser on every mixed batch."""
    arr = np.array([r for r in rows], dtype=object)
    ga = wkt.parse_array(arr)
    bts = wkb.encode(ga)
    for r, b in zip(rows, bts):
        assert (b is None) == (r is None)
    g_vec = wkb.decode(bts)
    g_ref = wkb._decode_fallback(bts)
    for name in ("types", "geom_offsets", "part_offsets", "ring_offsets"):
        assert np.array_equal(getattr(g_vec, name), getattr(g_ref, name))
    assert np.array_equal(g_vec.coords, g_ref.coords)
    assert wkb.encode(g_vec) == bts


def _klee_area(boxes):
    """Independent exact union-area oracle for axis-aligned boxes:
    coordinate-compressed grid occupancy (Klee's measure problem)."""
    xs = np.unique(np.concatenate([[b[0], b[2]] for b in boxes]))
    ys = np.unique(np.concatenate([[b[1], b[3]] for b in boxes]))
    occ = np.zeros((len(xs) - 1, len(ys) - 1), dtype=bool)
    for x0, y0, x1, y1 in boxes:
        i0, i1 = np.searchsorted(xs, [x0, x1])
        j0, j1 = np.searchsorted(ys, [y0, y1])
        occ[i0:i1, j0:j1] = True
    w = np.diff(xs)[:, None]
    h = np.diff(ys)[None, :]
    return float((occ * (w * h)).sum())


@given(st_.integers(0, 10_000), st_.integers(5, 40),
       st_.sampled_from([30, 120, 400]), st_.sampled_from([3, 8, 20]))
@settings(max_examples=40, deadline=None)
def test_union_all_area_matches_klee(seed, n, plane, size):
    """union_all (component-decomposed cascaded union) area equals the
    independent Klee's-measure computation on random box sets, including
    duplicates and nesting."""
    rng = np.random.default_rng(seed)
    boxes = []
    for _ in range(n):
        x, y = rng.integers(0, plane, 2)
        w, h = rng.integers(1, size + 1, 2)
        boxes.append((float(x), float(y), float(x + w), float(y + h)))
    boxes += boxes[:2]                       # exact duplicates
    x, y = boxes[0][0], boxes[0][1]
    boxes.append((x + 0.25, y + 0.25, x + 0.5, y + 0.5))   # nested
    ws = [f"POLYGON (({a} {b}, {c} {b}, {c} {d}, {a} {d}, {a} {b}))"
          for a, b, c, d in boxes]
    ga = wkt.parse_array(np.array(ws, dtype=object))
    got = algos.area(algos.union_all(ga))[0]
    assert np.isclose(got, _klee_area(boxes), rtol=1e-9, atol=1e-9)


# --- round-2 codec fuzz: Z/M + GEOMETRYCOLLECTION -------------------------

_zm_pt = st_.tuples(st_.integers(-999, 999), st_.integers(-999, 999),
                    st_.integers(-99, 99), st_.integers(-99, 99))


@settings(max_examples=60, deadline=None)
@given(st_.lists(st_.tuples(_zm_pt, st_.sampled_from(["", "z", "m", "zm"])),
                 min_size=1, max_size=8))
def test_zm_wkb_wkt_roundtrip_fuzz(rows):
    """Any mix of 2-D/Z/M/ZM points round-trips bit-for-bit through both
    codecs; planar accessors never see the extra dims."""
    wkts = []
    for (x, y, z, m), zm in rows:
        if zm == "":
            wkts.append(f"POINT ({x} {y})")
        elif zm == "z":
            wkts.append(f"POINT Z ({x} {y} {z})")
        elif zm == "m":
            wkts.append(f"POINT M ({x} {y} {m})")
        else:
            wkts.append(f"POINT ZM ({x} {y} {z} {m})")
    ga = wkt.parse_array(wkts)
    assert wkt.format_array(ga) == wkts
    assert wkt.format_array(wkb.decode(wkb.encode(ga))) == wkts
    xs = algos.get_x(ga)
    assert list(xs) == [float(r[0][0]) for r in rows]
    hz = ga.row_has_z()
    assert list(hz) == [("z" in zm) for _, zm in rows]


@settings(max_examples=40, deadline=None)
@given(st_.lists(st_.sampled_from([
    "POINT (3 4)", "LINESTRING (0 0, 7 0)", "MULTIPOINT ((1 1), (2 2))",
    "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0))",
    "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
]), min_size=1, max_size=5))
def test_gc_codec_roundtrip_fuzz(children):
    """GEOMETRYCOLLECTION of arbitrary children round-trips through WKT
    and WKB; ngeometries counts top-level children; area/length sum."""
    gc = "GEOMETRYCOLLECTION (" + ", ".join(children) + ")"
    ga = wkt.parse_array([gc])
    assert wkt.format_array(ga) == [gc]
    assert wkt.format_array(wkb.decode(wkb.encode(ga))) == [gc]
    assert algos.count_geometries(ga)[0] == len(children)
    child_ga = wkt.parse_array(children)
    assert algos.area(ga)[0] == algos.area(child_ga).sum()
    assert algos.length(ga)[0] == algos.length(child_ga).sum()


@given(_wkt_rows())
@settings(max_examples=40, deadline=None)
def test_fgb_geometry_codec_roundtrip(rows):
    """FlatGeobuf Geometry-table codec round-trips every mixed batch the
    WKT generator produces (all geometry types, holes, empties, nulls)."""
    from geopandas_spark.geom.array import GeometryBuilder
    from geopandas_spark.io import fgb

    arr = np.array([r for r in rows], dtype=object)
    ga = wkt.parse_array(arr)
    out = GeometryBuilder()
    for i in range(len(ga)):
        if rows[i] is None:
            out.append_null()
            continue
        b = fgb._FB()
        off = fgb._geometry_for_row(b, ga, i, write_type=True)
        if off is None:
            out.append_null()
            continue
        buf = b.finish(off)
        fgb._decode_geometry(buf, fgb._indirect(buf, 0), 0, out)
    back = out.finish()
    assert list(wkt.format_array(back)) == list(wkt.format_array(ga))


@given(st_.lists(st_.tuples(st_.integers(0, 10 ** 6),
                            st_.text(max_size=12),
                            st_.one_of(st_.none(),
                                       st_.floats(allow_nan=False,
                                                  allow_infinity=False,
                                                  width=32))),
                 min_size=0, max_size=25))
@settings(max_examples=40, deadline=None)
def test_fgb_properties_codec_roundtrip(vals):
    """FlatGeobuf properties codec: (ushort idx, typed value) packing
    round-trips longs / unicode strings / nullable floats."""
    from geopandas_spark.io import fgb

    cols = [(0, fgb.CT_LONG, [v[0] for v in vals]),
            (1, fgb.CT_STRING, [v[1] for v in vals]),
            (2, fgb.CT_DOUBLE, [v[2] for v in vals])]
    types = [fgb.CT_LONG, fgb.CT_STRING, fgb.CT_DOUBLE]
    for row in range(len(vals)):
        packed = fgb._pack_properties(cols, row)
        got = fgb._unpack_properties(packed, types)
        want = {0: vals[row][0], 1: vals[row][1]}
        if vals[row][2] is not None:
            want[2] = float(np.float64(vals[row][2]))
        assert got == want


@st_.composite
def _star_polygon(draw, cx_rng=(10, 30), holes=True):
    """Random star-convex polygon (always simple): integer-ish radii at
    fixed angular steps around a center, optionally with a small interior
    hole (a scaled copy well inside the shell)."""
    cx = draw(st_.integers(*cx_rng))
    cy = draw(st_.integers(*cx_rng))
    k = draw(st_.integers(5, 10))
    radii = [draw(st_.integers(4, 12)) for _ in range(k)]
    ang = np.linspace(0, 2 * np.pi, k, endpoint=False)
    pts = np.column_stack([cx + np.array(radii) * np.cos(ang),
                           cy + np.array(radii) * np.sin(ang)])
    pts = np.round(pts, 3)
    shell = np.concatenate([pts, pts[:1]], axis=0)
    rings = [shell]
    if holes and draw(st_.booleans()):
        hole = np.column_stack([cx + 0.25 * np.array(radii) * np.cos(ang),
                                cy + 0.25 * np.array(radii) * np.sin(ang)])
        hole = np.round(hole, 3)[::-1]
        rings.append(np.concatenate([hole, hole[:1]], axis=0))
    return rings


@given(_star_polygon(), _star_polygon())
@settings(max_examples=80, deadline=None)
def test_boolean_identities_star_polygons_with_holes(ra, rb):
    """Set-op algebra on random star polygons (optionally holed):
      area(A∩B) + area(A∖B) = area(A)
      area(A∪B) = area(A) + area(B) − area(A∩B)
      area(A⊕B) = area(A∪B) − area(A∩B)
      A∪A = A, A∩A = A, A∖A = ∅ (idempotence / self-annihilation)
    exercising the Martinez–Rueda sweep on curved-ish, holed input rather
    than the axis-aligned boxes above."""
    from geopandas_spark.geom.array import GeometryBuilder, GT_POLYGON

    b = GeometryBuilder()
    b.append(GT_POLYGON, [ra])
    b.append(GT_POLYGON, [rb])
    ga = b.finish()
    A, B = ga.take([0]), ga.take([1])
    area_a = float(algos.area(A)[0])
    area_b = float(algos.area(B)[0])
    inter = float(algos.area(algos.intersection(A, B))[0])
    union = float(algos.area(algos.union(A, B))[0])
    diff = float(algos.area(algos.difference(A, B))[0])
    xor = float(algos.area(algos.symmetric_difference(A, B))[0])
    tol = 1e-6 * max(area_a, area_b, 1.0)
    assert abs(inter + diff - area_a) < tol, (inter, diff, area_a)
    assert abs(union - (area_a + area_b - inter)) < tol
    assert abs(xor - (union - inter)) < tol
    assert abs(float(algos.area(algos.union(A, A))[0]) - area_a) < tol
    assert abs(float(algos.area(algos.intersection(A, A))[0]) - area_a) < tol
    assert float(algos.area(algos.difference(A, A))[0]) < tol


@given(_star_polygon(holes=False))
@settings(max_examples=60, deadline=None)
def test_buffer_containment_and_steiner_bound(ra):
    """Positive buffer must contain the input and obey the Steiner lower
    bound area(buf) >= area + perimeter*d; negative buffer must be
    contained in the input. Exercises the convex/general buffer fast-path
    dispatch on rings that may be reflex anywhere, including the start
    vertex (the class the fixed convexity test misclassified)."""
    from geopandas_spark.geom.array import GeometryBuilder, GT_POLYGON

    b = GeometryBuilder()
    b.append(GT_POLYGON, [ra])
    A = b.finish()
    area0 = float(algos.area(A)[0])
    per = float(algos.length(algos.boundary(A))[0])
    d = 0.5
    buf = algos.buffer(A, np.array([d]))
    a1 = float(algos.area(buf)[0])
    assert bool(algos.contains(buf, A)[0])
    assert a1 >= area0 + per * d - 1e-6 * max(area0, 1.0)
    neg = algos.buffer(A, np.array([-0.3]))
    if not neg.is_empty()[0]:
        assert bool(algos.contains(A, neg)[0])


@given(_star_polygon(holes=False), _star_polygon(holes=False))
@settings(max_examples=60, deadline=None)
def test_predicate_consistency_polygons(ra, rb):
    """Cross-predicate logical consistency on random polygon pairs:
    intersects == !disjoint; intersects <=> distance 0; touches implies
    zero-area contact; overlaps excludes containment; contains implies
    covers; equals <=> mutual containment; positive intersection area
    implies intersects."""
    from geopandas_spark.geom.array import GeometryBuilder, GT_POLYGON

    b = GeometryBuilder()
    b.append(GT_POLYGON, [ra])
    b.append(GT_POLYGON, [rb])
    ga = b.finish()
    A, B = ga.take([0]), ga.take([1])
    inter = bool(algos.intersects(A, B)[0])
    disj = bool(algos.disjoint(A, B)[0])
    tch = bool(algos.touches(A, B)[0])
    ovl = bool(algos.overlaps(A, B)[0])
    cont = bool(algos.contains(A, B)[0])
    wthn = bool(algos.within(A, B)[0])
    cov = bool(algos.covers(A, B)[0])
    eq = bool(algos.geom_equals(A, B)[0])
    d = float(algos.distance(A, B)[0])
    ia = float(algos.area(algos.intersection(A, B))[0])
    assert inter != disj
    assert (not inter) or d == 0.0
    assert inter or d > 0.0
    assert (not tch) or (inter and ia < 1e-9)
    assert (not ovl) or (ia > 0 and not cont and not wthn)
    assert (not cont) or cov
    assert (not eq) or (cont and wthn)
    assert (not (cont and wthn)) or eq
    assert (ia <= 1e-6) or inter


def _rings(*rings):
    return [np.array(r + r[:1], dtype=np.float64) for r in rings]


_half = st_.integers(-4, 88).map(lambda v: v / 2)


@st_.composite
def _partner_wkt(draw):
    """A point, box, line or star polygon on a half-unit grid around the
    star generator's extent, so vertices and edges are often shared."""
    kind = draw(st_.sampled_from(["point", "box", "line", "star"]))
    if kind == "point":
        return f"POINT ({draw(_half)} {draw(_half)})"
    if kind == "box":
        x0, y0 = draw(_half), draw(_half)
        x1, y1 = x0 + draw(sizes) / 2, y0 + draw(sizes) / 2
        return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, " \
               f"{x0} {y0}))"
    if kind == "line":
        pts = draw(st_.lists(st_.tuples(_half, _half), min_size=2,
                             max_size=4, unique=True))
        return "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in pts) + ")"
    ring = draw(_star_polygon(holes=False))[0]
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"


def _reform_ring(rings, form, ring, k):
    """The same point set written another way: ring `ring` gets vertex k
    repeated, its start rotated to vertex k, or its orientation reversed."""
    out = [r.copy() for r in rings]
    r = out[ring % len(out)][:-1]
    k %= len(r)
    if form == "repeat":
        r = np.insert(r, k, r[k], axis=0)
    elif form == "rotate":
        r = np.roll(r, -k, axis=0)
    else:
        r = r[::-1]
    out[ring % len(out)] = np.concatenate([r, r[:1]], axis=0)
    return out


_NAMED_PREDICATES = ("intersects", "disjoint", "contains", "within",
                     "covers", "covered_by", "touches", "crosses",
                     "overlaps", "geom_equals", "contains_properly")


@given(_star_polygon(), _partner_wkt(),
       st_.sampled_from(["repeat", "rotate", "reverse"]),
       st_.integers(0, 1), st_.integers(0, 11))
@settings(max_examples=60, deadline=None)
# a repeated vertex once put every point on the polygon's boundary: a
# zero-length edge passed the on-segment test for any point
@example(ra=_rings([(0, 0), (4, 0), (4, 4), (0, 4)]),
         other="POINT (6 5.5)", form="repeat", ring=0, k=0)
@example(ra=_rings([(0, 0), (4, 0), (4, 4), (0, 4)]),
         other="POINT (2 2)", form="repeat", ring=0, k=0)
# ... and hid the reflex turn at the repeated vertex from the convexity
# test, so the convex separating-axis path rejected a touching box
@example(ra=_rings([(14, 10), (12.828, 12.828), (10, 14), (7.172, 12.828),
                    (2, 10), (7.172, 7.172), (10, 5), (12.828, 7.172)]),
         other="POLYGON ((0 0, 2 0, 2 10, 0 10, 0 0))", form="repeat",
         ring=0, k=5)
def test_ring_form_invariance(ra, other, form, ring, k):
    """Repeating a ring vertex, rotating a ring's start or reversing its
    orientation keeps the point set, so every named predicate (both
    argument orders), distance, area, length and is_valid must not
    change, and the two forms must be equal."""
    from geopandas_spark.geom.array import GT_POLYGON, GeometryBuilder

    b = GeometryBuilder()
    b.append(GT_POLYGON, [ra])
    b.append(GT_POLYGON, [_reform_ring(ra, form, ring, k)])
    ga = b.finish()
    A, A2 = ga.take([0]), ga.take([1])
    B = wkt.parse_array([other])
    for name in _NAMED_PREDICATES:
        f = getattr(algos, name)
        assert f(A2, B)[0] == f(A, B)[0], (name, "A, B")
        assert f(B, A2)[0] == f(B, A)[0], (name, "B, A")
    assert algos.geom_equals(A, A2)[0]
    for f in (algos.distance, lambda a, b: algos.distance(b, a)):
        np.testing.assert_allclose(f(A2, B), f(A, B), rtol=1e-12,
                                   atol=1e-12)
    for f in (algos.area, algos.length):
        np.testing.assert_allclose(f(A2), f(A), rtol=1e-12)
    assert algos.is_valid(A2)[0] == algos.is_valid(A)[0]


@given(_star_polygon(holes=False),
       st_.lists(st_.tuples(st_.integers(-5, 45), st_.integers(-5, 45)),
                 min_size=2, max_size=5))
@settings(max_examples=60, deadline=None)
def test_line_clip_length_identity(rp, lpts):
    """len(L∩P) + len(L∖P) = len(L) for a polyline against a polygon —
    the lineal analogue of the area identities, pinning the line-clip
    segment splitting + even-odd classification."""
    from geopandas_spark.geom.array import (GT_LINESTRING, GT_POLYGON,
                                            GeometryBuilder)

    keep = [np.array(lpts[0], float)]
    for p in lpts[1:]:
        if not np.array_equal(np.array(p, float), keep[-1]):
            keep.append(np.array(p, float))
    if len(keep) < 2:
        return
    lp = np.array(keep)
    b = GeometryBuilder()
    b.append(GT_LINESTRING, [[lp]])
    b.append(GT_POLYGON, [rp])
    g = b.finish()
    L, P = g.take([0]), g.take([1])
    li = float(algos.length(algos.intersection(L, P))[0])
    ld = float(algos.length(algos.difference(L, P))[0])
    lt = float(algos.length(L)[0])
    assert abs(li + ld - lt) < 1e-6 * max(lt, 1.0), (li, ld, lt)


@st_.composite
def _valid_multipolygon(draw):
    """1-3 star parts in disjoint 20×20 grid cells (valid by
    construction: MultiPolygon parts may not overlap)."""
    ncells = draw(st_.integers(1, 3))
    cells = draw(st_.permutations(list(range(9))))[:ncells]
    parts = []
    for c in cells:
        cx, cy = (c % 3) * 20 + 10, (c // 3) * 20 + 10
        k = draw(st_.integers(4, 8))
        radii = [draw(st_.integers(2, 8)) for _ in range(k)]
        ang = np.linspace(0, 2 * np.pi, k, endpoint=False)
        pts = np.round(np.column_stack([cx + np.array(radii) * np.cos(ang),
                                        cy + np.array(radii) * np.sin(ang)]),
                       2)
        parts.append([np.concatenate([pts, pts[:1]], axis=0)])
    return parts


@given(_valid_multipolygon(), _valid_multipolygon())
@settings(max_examples=50, deadline=None)
def test_boolean_identities_multipolygons(pa, pb):
    """Set-op area identities with MultiPolygon operands (multi-part
    inputs exercise the ring flattening + face tracing differently than
    single polygons)."""
    from geopandas_spark.geom.array import GT_MULTIPOLYGON, GeometryBuilder

    b = GeometryBuilder()
    b.append(GT_MULTIPOLYGON, pa)
    b.append(GT_MULTIPOLYGON, pb)
    g = b.finish()
    A, B = g.take([0]), g.take([1])
    area_a = float(algos.area(A)[0])
    area_b = float(algos.area(B)[0])
    inter = float(algos.area(algos.intersection(A, B))[0])
    diff = float(algos.area(algos.difference(A, B))[0])
    union = float(algos.area(algos.union(A, B))[0])
    xor = float(algos.area(algos.symmetric_difference(A, B))[0])
    tol = 1e-6 * max(area_a, area_b, 1.0)
    assert abs(inter + diff - area_a) < tol
    assert abs(union - (area_a + area_b - inter)) < tol
    assert abs(xor - (union - inter)) < tol


@given(st_.lists(_star_polygon(), min_size=3, max_size=7))
@settings(max_examples=40, deadline=None)
def test_union_many_matches_pairwise_tree(polys):
    """The one-sweep N-way union (clipping.union_many) must agree with
    the pairwise Martinez–Rueda tree (the fallback of algos._union_polys,
    forced by making union_many raise) on random (optionally holed) star
    polygons — area, perimeter, and part count, exactly up to fp noise.

    The pairwise side runs on DEDUPLICATED operands (union semantics
    are identical): stacked byte-identical operands routed through
    multi-level cascades can produce near-parallel boundary fragments
    ~1e-7 apart, which sit beyond the probe tracer's design envelope —
    union_many (the production path) handles them via its own
    directed-segment dedupe; the fallback drops byte-identical
    operands before its tree for the same reason."""
    import geopandas_spark.geom.clipping as mr
    from geopandas_spark.geom.array import GT_POLYGON, GeometryBuilder

    b = GeometryBuilder()
    for rings in polys:
        b.append(GT_POLYGON, [rings])
    ga = b.finish()
    u1 = algos.union_all(ga)
    seen = set()
    uniq = []
    for rings in polys:
        key = tuple(tuple(map(tuple, r)) for r in rings)
        if key not in seen:
            seen.add(key)
            uniq.append(rings)
    b2 = GeometryBuilder()
    for rings in uniq:
        b2.append(GT_POLYGON, [rings])
    ga2 = b2.finish()
    orig = mr.union_many
    mr.union_many = lambda p: (_ for _ in ()).throw(ValueError())
    try:
        u2 = algos.union_all(ga2)
    finally:
        mr.union_many = orig
    a1, a2 = float(algos.area(u1)[0]), float(algos.area(u2)[0])
    p1, p2 = float(algos.length(u1)[0]), float(algos.length(u2)[0])
    tol = 1e-6 * max(a1, 1.0)
    assert abs(a1 - a2) < tol
    assert abs(p1 - p2) < 1e-6 * max(p1, 1.0)
    assert algos.count_geometries(u1)[0] == algos.count_geometries(u2)[0]


@given(st_.integers(2, 6), st_.integers(2, 6), st_.integers(0, 3))
@settings(max_examples=30, deadline=None)
def test_coverage_union_grid_matches_unary(w, h, holes):
    """Coverage union of an edge-matched W×H tile grid (with up to
    `holes` interior tiles removed) equals the unary union exactly."""
    from geopandas_spark.geom.array import GT_POLYGON, GeometryBuilder

    removed = set()
    if holes and w > 2 and h > 2:
        rng = np.random.default_rng(w * 31 + h * 7 + holes)
        for _ in range(holes):
            removed.add((int(rng.integers(1, w - 1)),
                         int(rng.integers(1, h - 1))))
    b = GeometryBuilder()
    n = 0
    for i in range(w):
        for j in range(h):
            if (i, j) in removed:
                continue
            ring = np.array([[i, j], [i + 1, j], [i + 1, j + 1],
                             [i, j + 1], [i, j]], dtype=np.float64)
            b.append(GT_POLYGON, [[ring]])
            n += 1
    ga = b.finish()
    cu = algos.union_all(ga, method="coverage")
    uu = algos.union_all(ga)
    assert float(algos.area(cu)[0]) == float(n)
    assert float(algos.area(uu)[0]) == float(n)
    assert float(algos.length(cu)[0]) == float(algos.length(uu)[0])
    assert algos.count_interior_rings(cu)[0] == \
        algos.count_interior_rings(uu)[0]


@given(_star_polygon(), _star_polygon(holes=False), _star_polygon(holes=False))
@settings(max_examples=40, deadline=None)
def test_cascaded_boolean_identities(ra, rb, rc):
    """Identities that feed one op's OUTPUT into another op — the cascade
    class where a previously-computed crossing vertex sits an ulp off an
    original edge's line (the r4 noding-robustness fix):

        (A∪B)∪A = A∪B          (idempotence through a cascade)
        (A∪B)∩A = A
        ((A∪B)∖B)∪(A∩B) = A    (partition of A by B)
        ((A∪B)∪C) area = inclusion-exclusion over A,B,C
    """
    from geopandas_spark.geom.array import GT_POLYGON, GeometryBuilder

    b = GeometryBuilder()
    for rings in (ra, rb, rc):
        b.append(GT_POLYGON, [rings])
    g = b.finish()
    A, B, C = g.take([0]), g.take([1]), g.take([2])

    def ar(x):
        return float(algos.area(x)[0])

    U = algos.union(A, B)
    tol = 1e-6 * max(ar(A), ar(B), ar(C), 1.0)
    assert abs(ar(algos.union(U, A)) - ar(U)) < tol
    assert abs(ar(algos.intersection(U, A)) - ar(A)) < tol
    lhs = algos.union(algos.difference(U, B), algos.intersection(A, B))
    assert abs(ar(lhs) - ar(A)) < tol
    # 3-way inclusion-exclusion via cascaded unions
    UC = algos.union(U, C)
    ie = (ar(A) + ar(B) + ar(C)
          - ar(algos.intersection(A, B))
          - ar(algos.intersection(A, C))
          - ar(algos.intersection(B, C))
          + ar(algos.intersection(algos.intersection(A, B), C)))
    assert abs(ar(UC) - ie) < 4 * tol


@given(_star_polygon(), st_.integers(0, 30), st_.integers(0, 30),
       st_.integers(4, 20), st_.integers(4, 20))
@settings(max_examples=50, deadline=None)
def test_clip_by_rect_matches_intersection(ra, x0, y0, w, h):
    """The fast Sutherland–Hodgman rectangle clip must agree with the
    full Martinez–Rueda intersection on area (the reference's
    clip_by_rect is 'fast/dirty' only about output FORM, not area)."""
    from geopandas_spark.geom.array import GT_POLYGON, GeometryBuilder

    b = GeometryBuilder()
    b.append(GT_POLYGON, [ra])
    A = b.finish()
    fast = algos.clip_by_rect(A, x0, y0, x0 + w, y0 + h)
    rect = boxes_from_bounds([x0], [y0], [x0 + w], [y0 + h])
    exact = algos.intersection(A, rect)
    a1 = float(algos.area(fast)[0])
    a2 = float(algos.area(exact)[0])
    assert abs(a1 - a2) < 1e-6 * max(a2, 1.0)


@given(_star_polygon(holes=True), st_.floats(0.3, 1.5))
@settings(max_examples=30, deadline=None)
# the dilation's one-sweep union once met an ulp-twin vertex pair (kept
# 7.8 of 104) and left a near-tangent disk crossing unnoded (kept 16 of
# 243): both openings must stay inside A
@example(ra=_rings(
    [(32, 13), (30.236, 15.351), (28.545, 17.755), (25.764, 16.804),
     (22.146, 16.527), (23, 13), (21.337, 8.886), (25.146, 7.294),
     (30.399, 2.538), (34.281, 7.71)],
    [(28.82, 11.677), (27.85, 10.385), (26.536, 11.573), (25.584, 11.971),
     (26, 13), (25.786, 13.882), (26.691, 13.951), (27.386, 14.189),
     (27.809, 13.588), (28.25, 13)]), d=1.5)
@example(ra=_rings(
    [(25, 22), (27.485, 30.485), (19, 30), (10.515, 30.485), (7, 22),
     (13.343, 16.343), (19, 14), (27.485, 13.515)],
    [(21.121, 19.879), (19, 20), (17.586, 20.586), (16, 22),
     (16.879, 24.121), (19, 24), (21.121, 24.121), (20.5, 22)]),
    d=1.05442364820576)
def test_erosion_dilation_sandwich(ra, d):
    """Morphology sandwich: dilate(erode(A, d), d) ⊆ A ⊆ erode(dilate(A,
    d), d) — the opening/closing containment identities that tie the
    positive and negative buffer paths together."""
    import numpy as np

    from geopandas_spark.geom.array import GT_POLYGON, GeometryBuilder

    b = GeometryBuilder()
    b.append(GT_POLYGON, [ra])
    A = b.finish()
    area_a = float(algos.area(A)[0])
    er = algos.buffer(A, np.array([-d]))
    if not er.is_empty()[0]:
        opened = algos.buffer(er, np.array([d]))
        # opening is contained in A up to the polygonized-arc chord
        # error: the dilation's vertex disks are deliberately
        # CIRCUMSCRIBED (radius d/cos(pi/nseg), ~1.2e-3*d overshoot at
        # quad_segs=16), and erode-then-dilate COMPOUNDS two arc
        # approximations, so near high-curvature features the leak band
        # reaches a few chord-widths (measured worst case: a holed star
        # with d=1.5 leaks 0.141 = 3.6e-3*d*perimeter; GEOS inscribes
        # its arcs instead, trading containment for under-coverage).
        # Budget scales with the opened PERIMETER (fuzz-calibrated).
        extra = float(algos.area(algos.difference(opened, A))[0])
        peri = float(algos.length(opened)[0])
        assert extra < 4.5e-3 * d * max(peri, 1.0) + 1e-3 * max(area_a, 1.0)
    di = algos.buffer(A, np.array([d]))
    closed = algos.buffer(di, np.array([-d]))
    # closing contains A: A minus closing is (numerically) empty
    missing = float(algos.area(algos.difference(A, closed))[0])
    assert missing < 1e-4 * max(area_a, 1.0)   # chordal arc tolerance


@given(_star_polygon(holes=True), st_.floats(0.3, 1.2))
@settings(max_examples=30, deadline=None)
def test_erosion_holed_inputs(ra, d):
    """r4-VERDICT fuzz target: erosion on HOLED / multi-ring inputs.
    Identities: erode(A, d) ⊆ A exactly (offset-curve erosion never
    grows); eroding a holed polygon keeps (grows) the hole — the eroded
    area is bounded by area(A) minus the swept boundary band's lower
    bound; and erode(A, d) ⊆ erode(shell-only A, d)."""
    import numpy as np

    from geopandas_spark.geom.array import GT_POLYGON, GeometryBuilder

    b = GeometryBuilder()
    b.append(GT_POLYGON, [ra])
    A = b.finish()
    er = algos.buffer(A, np.array([-d]))
    if not er.is_empty()[0]:
        # strict containment: erosion minus A is empty (no chord slack —
        # the eroded set is inside the true erosion's closure)
        outside = float(algos.area(algos.difference(er, A))[0])
        assert outside < 1e-9
        assert algos.area(er)[0] <= algos.area(A)[0] + 1e-9
    if len(ra) > 1:
        bs = GeometryBuilder()
        bs.append(GT_POLYGON, [ra[:1]])
        shell_only = bs.finish()
        er_shell = algos.buffer(shell_only, np.array([-d]))
        if not er.is_empty()[0] and not er_shell.is_empty()[0]:
            # chord-scale tolerance: the two erosions build DIFFERENT
            # offset arrangements, so marginal faces in the d±chord
            # band can flip between runs (sliver-level, not a leak —
            # the strict er ⊆ A assertion above is the hard guarantee)
            outside = float(algos.area(algos.difference(er, er_shell))[0])
            assert outside < 2e-2 * max(d, 1.0)
            # the hole removes area from the erosion (same band slack)
            assert algos.area(er)[0] <= \
                algos.area(er_shell)[0] + 2e-2 * max(d, 1.0)


@given(st_.integers(0, 2**31 - 1), st_.integers(1, 60),
       st_.integers(1, 80), st_.booleans())
@settings(max_examples=60, deadline=None)
def test_grid_nearest_clustered_matches_brute_force(seed, nr, nl, excl):
    """r4-VERDICT fuzz target: the cell-pruned nearest point search
    (operators/sjoin.py _point_grid_nearest) on CLUSTERED (skewed)
    points must return exactly the brute-force tie set and distances."""
    from geopandas_spark.operators.sjoin import (_point_grid_build,
                                                 _point_grid_nearest)

    rng = np.random.default_rng(seed)
    # two dense clusters + sparse background (skewed occupancy)
    rc = np.concatenate([
        rng.normal(10.0, 0.5, (max(nr // 3, 1), 2)),
        rng.normal(900.0, 0.5, (max(nr // 3, 1), 2)),
        rng.uniform(0, 1000, (max(nr // 3, 1), 2))])
    lc = np.concatenate([
        rng.normal(10.0, 2.0, (max(nl // 2, 1), 2)),
        rng.uniform(-200, 1200, (nl - max(nl // 2, 1) + 1, 2))])
    if excl:
        lc[:2] = rc[:2]          # coincident probes
    maxd = float(rng.uniform(0.5, 500.0)) if seed % 2 else None
    grid = _point_grid_build(rc)
    li, ri, dm = _point_grid_nearest(lc, grid, maxd, excl)
    ok = np.isfinite(dm)
    if maxd is not None:
        ok &= dm <= maxd
    got = set(zip(li[ok].tolist(), ri[ok].tolist()))
    d2 = ((lc[:, None, 0] - rc[None, :, 0]) ** 2 +
          (lc[:, None, 1] - rc[None, :, 1]) ** 2)
    if excl:
        d2[d2 == 0.0] = np.inf
    dm2 = d2.min(axis=1)
    okb = np.isfinite(dm2)
    if maxd is not None:
        okb &= np.sqrt(dm2) <= maxd
    tr, tc = np.nonzero((d2 == dm2[:, None]) & okb[:, None])
    want = set(zip(tr.tolist(), tc.tolist()))
    assert got == want
    dmap = dict(zip(zip(li.tolist(), ri.tolist()), dm.tolist()))
    for a, b2 in want:
        assert dmap[(a, b2)] == np.sqrt(dm2[a])


@given(st_.integers(0, 2**31 - 1), st_.integers(2, 40))
@settings(max_examples=40, deadline=None)
def test_lineal_union_properties(seed, n):
    """r5 lineal union (union_all over overlapping lines): length is
    subadditive and bounded below by the longest input; idempotent on
    its own output; invariant under row permutation."""
    from geopandas_spark.geom.array import GT_LINESTRING, GeometryBuilder

    rng = np.random.default_rng(seed)
    b = GeometryBuilder()
    rows = []
    for _ in range(n):
        x0, y0 = rng.integers(0, 40, 2).astype(float)
        if rng.integers(0, 2):
            seg = np.array([[x0, y0], [x0 + float(rng.integers(1, 15)), y0]])
        else:
            seg = np.array([[x0, y0], [x0, y0 + float(rng.integers(1, 15))]])
        rows.append(seg)
        b.append(GT_LINESTRING, [[seg]])
    ga = b.finish()
    u = algos.union_all(ga)
    lu = float(algos.length(u)[0])
    lsum = float(algos.length(ga).sum())
    lmax = float(algos.length(ga).max())
    assert lu <= lsum + 1e-9
    assert lu >= lmax - 1e-9
    # idempotence: union of the union's parts has the same length
    parts, _par, _ = algos.get_parts(u)
    if len(parts) > 1:
        u2 = algos.union_all(parts)
        assert abs(float(algos.length(u2)[0]) - lu) < 1e-9
    # permutation invariance
    perm = rng.permutation(n)
    b2 = GeometryBuilder()
    for i in perm:
        b2.append(GT_LINESTRING, [[rows[i]]])
    up = algos.union_all(b2.finish())
    assert abs(float(algos.length(up)[0]) - lu) < 1e-9


@given(_star_polygon(holes=False), _star_polygon(holes=False),
       st_.integers(0, 3))
@settings(max_examples=40, deadline=None)
def test_gc_setop_identities(ra, rb, shift):
    """r5 GC set ops: with A wrapped in a GEOMETRYCOLLECTION (plus a far
    point child), the area algebra must match the plain-polygon ops:
      area(GC(A) ∩ B) == area(A ∩ B)
      area(GC(A) ∖ B) == area(A ∖ B)
      area(GC(A) ∪ B) == area(A ∪ B)"""
    from geopandas_spark.geom.array import (GT_POINT, GT_POLYGON,
                                            GeometryBuilder)

    b = GeometryBuilder()
    b.append(GT_POLYGON, [ra])
    b.append(GT_POLYGON, [[r + shift for r in rb]])
    g = b.finish()
    A, B = g.take([0]), g.take([1])
    gb_ = GeometryBuilder()
    gb_.append_collection([(GT_POLYGON, [ra]),
                           (GT_POINT, [[np.array([[999.0, 999.0]])]])])
    GA = gb_.finish()
    for op in ("intersection", "difference", "union"):
        plain = float(algos.area(getattr(algos, op)(A, B))[0])
        gc = float(algos.area(getattr(algos, op)(GA, B))[0])
        assert abs(plain - gc) < 1e-6 * max(plain, 1.0), (op, plain, gc)


@given(st_.integers(0, 2**31 - 1), st_.integers(1, 5), st_.integers(0, 3))
@settings(max_examples=50, deadline=None)
def test_gc_setops_nested_collections_and_empty_members(seed, nboxes, nempty):
    """r6 fuzz target (r5 VERDICT #8): GEOMETRYCOLLECTION operands with
    NESTED collections and EMPTY members. Nesting flattens on parse, so
    every set op against the nested/empty-padded GC must produce the
    same area and length as against the flat equivalent."""
    rng = np.random.default_rng(seed)
    flat_children = []
    for _ in range(nboxes):
        x0, y0 = rng.integers(0, 30, 2)
        w, h = rng.integers(1, 12, 2)
        flat_children.append(
            f"POLYGON (({x0} {y0}, {x0+w} {y0}, {x0+w} {y0+h}, "
            f"{x0} {y0+h}, {x0} {y0}))")
    x0, y0 = rng.integers(0, 30, 2)
    flat_children.append(f"LINESTRING ({x0} {y0}, {x0+9} {y0})")
    flat_children.append(f"POINT ({x0} {y0 + 1})")

    empties = ["POLYGON EMPTY", "LINESTRING EMPTY", "POINT EMPTY",
               "GEOMETRYCOLLECTION EMPTY"][:nempty]
    # nested form: half the children wrapped in an inner GC, empties
    # sprinkled at both levels
    k = max(1, len(flat_children) // 2)
    inner = "GEOMETRYCOLLECTION (" + ", ".join(
        flat_children[:k] + empties) + ")"
    nested = "GEOMETRYCOLLECTION (" + ", ".join(
        [inner] + flat_children[k:] + empties) + ")"
    flat = "GEOMETRYCOLLECTION (" + ", ".join(flat_children) + ")"
    GN = wkt.parse_array([nested])
    GF = wkt.parse_array([flat])
    bx, by = rng.integers(0, 25, 2)
    B = wkt.parse_array([
        f"POLYGON (({bx} {by}, {bx+14} {by}, {bx+14} {by+10}, "
        f"{bx} {by+10}, {bx} {by}))"])
    for op in ("intersection", "difference", "union",
               "symmetric_difference"):
        rn = getattr(algos, op)(GN, B)
        rf = getattr(algos, op)(GF, B)
        an, af = float(algos.area(rn)[0]), float(algos.area(rf)[0])
        ln, lf = float(algos.length(rn)[0]), float(algos.length(rf)[0])
        assert abs(an - af) < 1e-9 * max(af, 1.0), (op, an, af)
        assert abs(ln - lf) < 1e-9 * max(lf, 1.0), (op, ln, lf)


@given(st_.integers(0, 2**31 - 1), st_.integers(2, 25),
       st_.sampled_from([0.0, 1e-15, 1e-12, 1e-9]))
@settings(max_examples=60, deadline=None)
def test_lineal_union_near_collinear_ulp_offsets(seed, n, eps):
    """r6 fuzz target: the lineal-union noding kernel on near-collinear
    segments separated by ulp-scale offsets (the regime where a naive
    collinearity test misclassifies). Invariants: no exception; length
    subadditive and >= the longest input; idempotent on its own parts;
    permutation invariant."""
    from geopandas_spark.geom.array import GT_LINESTRING, GeometryBuilder

    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(n):
        x0 = float(rng.integers(0, 20))
        ln = float(rng.integers(1, 15))
        y = float(rng.integers(0, 3)) + eps * rng.integers(0, 2)
        if rng.integers(0, 4) == 0:
            # slightly tilted twin: endpoints ulp-separated in y
            seg = np.array([[x0, y], [x0 + ln, y + eps]])
        else:
            seg = np.array([[x0, y], [x0 + ln, y]])
        rows.append(seg)
    b = GeometryBuilder()
    for seg in rows:
        b.append(GT_LINESTRING, [[seg]])
    ga = b.finish()
    u = algos.union_all(ga)
    lu = float(algos.length(u)[0])
    assert lu <= float(algos.length(ga).sum()) + 1e-9
    assert lu >= float(algos.length(ga).max()) - 1e-9
    parts, _par, _ = algos.get_parts(u)
    if len(parts) > 1:
        u2 = algos.union_all(parts)
        assert abs(float(algos.length(u2)[0]) - lu) < 1e-7 * max(lu, 1.0)
    perm = rng.permutation(n)
    b2 = GeometryBuilder()
    for i in perm:
        b2.append(GT_LINESTRING, [[rows[i]]])
    up = algos.union_all(b2.finish())
    assert abs(float(algos.length(up)[0]) - lu) < 1e-7 * max(lu, 1.0)


@given(st_.integers(0, 2**31 - 1), st_.integers(1, 8), st_.integers(1, 6),
       st_.integers(1, 6))
@settings(max_examples=40, deadline=None)
def test_mixed_union_matches_per_dimension_twins(seed, npoly, nline, npt):
    """r6 fuzz target: union_all over MIXED-dimension rows (GC result per
    GEOS) must agree with the per-dimension composition:
      polygonal area   == area(union_all(polygons))
      lineal length    == length(difference(union_all(lines), poly_union))
      surviving points == unique points not covered by the poly or line
                          union (distance == 0 test)."""
    from geopandas_spark.geom.array import (GT_LINESTRING, GT_POINT,
                                            GT_POLYGON, GeometryBuilder)

    rng = np.random.default_rng(seed)
    b = GeometryBuilder()
    bp = GeometryBuilder()
    bl = GeometryBuilder()
    pts = []
    for _ in range(npoly):
        x0, y0 = rng.integers(0, 25, 2)
        w, h = rng.integers(1, 10, 2)
        ring = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                         [x0, y0 + h], [x0, y0]], dtype=float)
        b.append(GT_POLYGON, [[ring]])
        bp.append(GT_POLYGON, [[ring]])
    for _ in range(nline):
        x0, y0 = rng.integers(0, 30, 2)
        ln = float(rng.integers(1, 12))
        seg = (np.array([[x0, y0], [x0 + ln, y0]], dtype=float)
               if rng.integers(0, 2)
               else np.array([[x0, y0], [x0, y0 + ln]], dtype=float))
        b.append(GT_LINESTRING, [[seg]])
        bl.append(GT_LINESTRING, [[seg]])
    for _ in range(npt):
        p = rng.integers(0, 35, 2).astype(float)
        pts.append(p)
        b.append_point(p[0], p[1])
    mixed = algos.union_all(b.finish())
    poly_u = algos.union_all(bp.finish())
    line_u = algos.union_all(bl.finish())
    line_part = algos.difference(line_u, poly_u)

    am = float(algos.area(mixed)[0])
    ap = float(algos.area(poly_u)[0])
    assert abs(am - ap) < 1e-9 * max(ap, 1.0), (am, ap)
    lm = float(algos.length(mixed)[0]) - float(algos.length(poly_u)[0])
    lt = float(algos.length(line_part)[0])
    assert abs(lm - lt) < 1e-7 * max(lt, 1.0), (lm, lt)

    # surviving points: unique coords at distance > 0 from both unions
    uniq = {(p[0], p[1]) for p in pts}
    bq = GeometryBuilder()
    for x, y in sorted(uniq):
        bq.append_point(x, y)
    q = bq.finish()
    rep = lambda u: u.take(np.zeros(len(q), dtype=np.int64))  # noqa: E731
    dpoly = algos.distance(q, rep(poly_u))
    dline = algos.distance(q, rep(line_u))
    want = int(((dpoly > 0) & (dline > 0)).sum())
    parts, _par, _ = algos.get_parts(mixed)
    got = int((parts.types == 1).sum())
    assert got == want, (got, want)


@given(_wkt_rows(), st_.booleans())
@settings(max_examples=40, deadline=None)
def test_wkb_big_endian_decode_equals_little_endian(rows, flip_ring):
    """r6 fuzz target for the big-endian decode paths: byte-swapping any
    subset of a mixed batch to big-endian WKB (headers, counts, and
    coordinate doubles all reversed, as JTS/GeoTools/PostGIS-XDR emit)
    must decode to the identical GeometryArray through BOTH the
    vectorized bucket parse and the per-row fallback."""
    import struct

    def to_be(b):
        if b is None:
            return None
        # rewrite a little-endian simple geometry big-endian; non-simple
        # rows (multi-part, empties as NaN points) handled by the
        # recursive reference: just flip points/linestrings/polygons,
        # leave others LE (mixed batches are the real-world case anyway)
        t = b[1] if b[0] == 1 else None
        if t == 1 and len(b) == 21:
            x, y = struct.unpack_from("<dd", b, 5)
            return b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", x, y)
        if t == 2 and len(b) >= 25:
            (n,) = struct.unpack_from("<I", b, 5)
            cs = struct.unpack_from(f"<{2*n}d", b, 9)
            return (b"\x00" + struct.pack(">I", 2) + struct.pack(">I", n)
                    + struct.pack(f">{2*n}d", *cs))
        if t == 3 and len(b) >= 29:
            (nr,) = struct.unpack_from("<I", b, 5)
            if nr != 1:
                return b
            (n,) = struct.unpack_from("<I", b, 9)
            cs = struct.unpack_from(f"<{2*n}d", b, 13)
            return (b"\x00" + struct.pack(">I", 3) + struct.pack(">II", 1, n)
                    + struct.pack(f">{2*n}d", *cs))
        return b

    arr = np.array([r for r in rows], dtype=object)
    ga = wkt.parse_array(arr)
    bts = wkb.encode(ga)
    # flip alternating (or all) rows to BE: buckets end up mixed-endian
    mixed = [to_be(b) if (b is not None and (flip_ring or i % 2 == 0))
             else b for i, b in enumerate(bts)]
    g_le = wkb.decode(bts)
    g_be = wkb.decode(mixed)
    g_fb = wkb._decode_fallback(mixed)
    for other in (g_be, g_fb):
        for name in ("types", "geom_offsets", "part_offsets",
                     "ring_offsets"):
            assert np.array_equal(getattr(g_le, name), getattr(other, name))
        assert np.array_equal(g_le.coords, other.coords, equal_nan=True)


@given(st_.integers(0, 2**31 - 1), st_.integers(2, 60),
       st_.integers(1, 20), st_.sampled_from([0.0, 1e-12, 1e-9]))
@settings(max_examples=40, deadline=None)
def test_polygon_union_stacked_duplicates_and_jitter(seed, n, dup, eps):
    """r6 fuzz target for the union-row dedupe + component machinery:
    union of n random boxes must be invariant (to area tolerance ~
    perimeter*eps) under (a) k-fold duplication of every row, (b)
    sub-quantum jitter on the duplicates, (c) permutation; and the
    result must be idempotent on its own parts."""
    from geopandas_spark.geom.array import boxes_from_bounds

    rng = np.random.default_rng(seed)
    x0 = rng.uniform(0, 200, n)
    y0 = rng.uniform(0, 200, n)
    w = rng.uniform(2, 30, n)
    h = rng.uniform(2, 30, n)
    base = boxes_from_bounds(x0, y0, x0 + w, y0 + h)
    a_base = float(algos.area(algos.union_all(base))[0])
    tol = max(1e-9, 4.0 * float((w + h).sum()) * dup * eps)

    xs = np.tile(x0, dup) + eps * rng.integers(0, 2, n * dup)
    ys = np.tile(y0, dup) + eps * rng.integers(0, 2, n * dup)
    stacked = boxes_from_bounds(xs, ys, xs + np.tile(w, dup),
                                ys + np.tile(h, dup))
    u = algos.union_all(stacked)
    a_stack = float(algos.area(u)[0])
    assert abs(a_stack - a_base) <= tol, (a_stack, a_base, tol)

    parts, _p, _ = algos.get_parts(u)
    if len(parts) > 1:
        a_idem = float(algos.area(algos.union_all(parts))[0])
        assert abs(a_idem - a_stack) <= 1e-7 * max(a_stack, 1.0)

    perm = rng.permutation(n * dup)
    up = algos.union_all(stacked.take(perm))
    a_perm = float(algos.area(up)[0])
    assert abs(a_perm - a_stack) <= 1e-7 * max(a_stack, 1.0)


@given(st_.integers(0, 2**31 - 1), st_.integers(2, 40),
       st_.sampled_from([1.5e6, 1e7, 2.5e7, -1e7]))
@settings(max_examples=30, deadline=None)
def test_union_magnitude_invariance(seed, n, base):
    """r6 fuzz target for the offset-datum/magnitude fixes: union area,
    part count, and centroid of random overlapping boxes at web-mercator
    magnitudes must match the identical computation near the origin
    (translation invariance/equivariance to ~1e-9 relative)."""
    from geopandas_spark.geom.array import boxes_from_bounds

    rng = np.random.default_rng(seed)
    x0 = rng.uniform(0, 300, n)
    y0 = rng.uniform(0, 300, n)
    w = rng.uniform(2, 60, n)
    h = rng.uniform(2, 60, n)
    g0 = boxes_from_bounds(x0, y0, x0 + w, y0 + h)
    gb = boxes_from_bounds(base + x0, base + y0,
                           base + x0 + w, base + y0 + h)
    u0 = algos.union_all(g0)
    ub = algos.union_all(gb)
    a0 = float(algos.area(u0)[0])
    ab = float(algos.area(ub)[0])
    assert abs(ab - a0) <= 1e-9 * max(a0, 1.0), (ab, a0)
    p0, _x, _y = algos.get_parts(u0)
    pb, _x2, _y2 = algos.get_parts(ub)
    assert len(p0) == len(pb)
    c0 = algos.centroid(algos.union_all(g0)).coords[0]
    cb = algos.centroid(ub).coords[0]
    assert abs((cb[0] - base) - c0[0]) < 1e-6
    assert abs((cb[1] - base) - c0[1]) < 1e-6


def _exact_rect_union_area(x0, y0, x1, y1):
    """Exact rectangle-union area by x-slab interval merging — the
    strongest oracle for axis-aligned union fuzzing (no tolerance
    stacking, no trusted kernel in the loop)."""
    xs = np.unique(np.concatenate([x0, x1]))
    total = 0.0
    for i in range(len(xs) - 1):
        xl, xr = xs[i], xs[i + 1]
        m = (x0 < xr) & (x1 > xl)
        if not m.any():
            continue
        ys = np.stack([y0[m], y1[m]], 1)
        ys = ys[np.argsort(ys[:, 0])]
        cov, lo, hi = 0.0, None, None
        for a, b in ys:
            if lo is None:
                lo, hi = a, b
            elif a <= hi:
                hi = max(hi, b)
            else:
                cov += hi - lo
                lo, hi = a, b
        if lo is not None:
            cov += hi - lo
        total += cov * (xr - xl)
    return total


@given(st_.integers(0, 2**31 - 1), st_.integers(2, 60),
       st_.integers(1, 5),
       st_.sampled_from([0.0, 1e-12, 1e-9, 1e-7]),
       st_.sampled_from([0.0, 100.0, 1e6, 1e7, -5e6]))
@settings(max_examples=50, deadline=None)
def test_union_area_vs_exact_rect_oracle(seed, n, dup, eps, base):
    """r6 fuzz target (found the 9th and 10th kernel finds): union area
    of duplicated, float-noise-jittered boxes at assorted coordinate
    magnitudes against the EXACT rectangle-union oracle. Covers the
    near-dup row dedupe, the probe-offset calibration, the offset
    datum, and the local-origin shoelace in one sweep."""
    from geopandas_spark.geom.array import boxes_from_bounds

    rng = np.random.default_rng(seed)
    span = float(rng.choice([50.0, 5000.0]))
    x0 = base + rng.uniform(0, span, n)
    y0 = base + rng.uniform(0, span, n)
    w = rng.uniform(0.5, span / 5, n)
    h = rng.uniform(0.5, span / 5, n)
    xs = np.tile(x0, dup) + eps * rng.integers(0, 2, n * dup)
    ys = np.tile(y0, dup) + eps * rng.integers(0, 2, n * dup)
    ga = boxes_from_bounds(xs, ys, xs + np.tile(w, dup),
                           ys + np.tile(h, dup))
    a = float(algos.area(algos.union_all(ga))[0])
    ex = _exact_rect_union_area(x0, y0, x0 + w, y0 + h)
    tol = max(4.0 * float((w + h).sum()) * dup * max(eps, 1e-9),
              1e-9 * ex, 2e-7 * abs(base))
    assert abs(a - ex) <= tol, (a, ex, tol)


def _sh_clip(subject, clipper):
    """Sutherland–Hodgman convex clip — independent oracle for pairwise
    intersection of convex polygons."""
    out = list(subject)
    n = len(clipper)
    for i in range(n):
        a, b = clipper[i], clipper[(i + 1) % n]
        inp, out = out, []
        if not inp:
            break
        ex, ey = b[0] - a[0], b[1] - a[1]

        def inside(p):
            return ex * (p[1] - a[1]) - ey * (p[0] - a[0]) >= 0

        def inter(p, q):
            dx, dy = q[0] - p[0], q[1] - p[1]
            t = ((ex * (a[1] - p[1]) - ey * (a[0] - p[0]))
                 / (ex * dy - ey * dx))
            return (p[0] + t * dx, p[1] + t * dy)

        s = inp[-1]
        for e in inp:
            if inside(e):
                if not inside(s):
                    out.append(inter(s, e))
                out.append(e)
            elif inside(s):
                out.append(inter(s, e))
            s = e
    return out


def _sh_area(pts):
    if len(pts) < 3:
        return 0.0
    a = 0.0
    for i in range(len(pts)):
        x0, y0 = pts[i]
        x1, y1 = pts[(i + 1) % len(pts)]
        a += x0 * y1 - x1 * y0
    return abs(a) / 2


@given(st_.integers(0, 2**31 - 1), st_.sampled_from([0.0, 1e6]))
@settings(max_examples=60, deadline=None)
def test_rotated_pair_setops_vs_convex_clip_oracle(seed, base):
    """r6 fuzz target for the NON-axis-aligned sweep paths (parametric
    crossings, no axis pinning): intersection/union of random rotated
    rectangles against an independent Sutherland–Hodgman oracle
    (computed at the origin — the naive oracle itself cancels at 1e6,
    which is the point of the engine's offset datum)."""
    from geopandas_spark.geom.array import GT_POLYGON, GeometryBuilder

    rng = np.random.default_rng(seed)

    def rot_rect(cx, cy, w, h, th):
        c, s = np.cos(th), np.sin(th)
        return [(cx + dx * c - dy * s, cy + dx * s + dy * c)
                for dx, dy in ((-w / 2, -h / 2), (w / 2, -h / 2),
                               (w / 2, h / 2), (-w / 2, h / 2))]

    A = rot_rect(base + rng.uniform(0, 50), base + rng.uniform(0, 50),
                 rng.uniform(5, 60), rng.uniform(5, 60),
                 rng.uniform(0, np.pi))
    B = rot_rect(base + rng.uniform(0, 50), base + rng.uniform(0, 50),
                 rng.uniform(5, 60), rng.uniform(5, 60),
                 rng.uniform(0, np.pi))
    b = GeometryBuilder()
    b.append(GT_POLYGON, [[np.array(A + [A[0]])]])
    b.append(GT_POLYGON, [[np.array(B + [B[0]])]])
    ga = b.finish()
    gA, gB = ga.take(np.array([0])), ga.take(np.array([1]))
    A0 = [(p[0] - base, p[1] - base) for p in A]
    B0 = [(p[0] - base, p[1] - base) for p in B]
    exp = _sh_area(_sh_clip(A0, B0))
    aA, aB = _sh_area(A0), _sh_area(B0)
    inter = float(algos.area(algos.intersection(gA, gB))[0])
    uni = float(algos.area(algos.union(gA, gB))[0])
    assert abs(inter - exp) <= 1e-6 * max(exp, 1.0), (inter, exp)
    assert abs(uni - (aA + aB - exp)) <= 1e-6 * max(aA + aB, 1.0)


@given(st_.integers(0, 2**31 - 1),
       st_.sampled_from([0.0, 1e-9, 1e-7, 1e-4]),
       st_.sampled_from([0.0, 1e6, 1e7]), st_.integers(0, 2))
@settings(max_examples=60, deadline=None)
def test_binary_rect_setops_closed_form(seed, eps, base, mode):
    """r6: all four binary set ops on axis-aligned rectangle pairs —
    independent, near-coincident (eps jitter), or edge-adjacent —
    against the closed-form rectangle-intersection area."""
    from geopandas_spark.geom.array import boxes_from_bounds

    rng = np.random.default_rng(seed)
    ax0, ay0 = base + rng.uniform(0, 100, 2)
    aw, ah = rng.uniform(1, 50, 2)
    if mode == 0:
        bx0, by0 = base + rng.uniform(0, 100, 2)
        bw, bh = rng.uniform(1, 50, 2)
    elif mode == 1:
        bx0, by0, bw, bh = ax0 + eps, ay0 + eps, aw, ah
    else:
        bx0, by0 = ax0 + aw + eps, ay0
        bw, bh = rng.uniform(1, 50, 2)
    A = boxes_from_bounds(np.array([ax0]), np.array([ay0]),
                          np.array([ax0 + aw]), np.array([ay0 + ah]))
    B = boxes_from_bounds(np.array([bx0]), np.array([by0]),
                          np.array([bx0 + bw]), np.array([by0 + bh]))
    ix = max(0.0, min(ax0 + aw, bx0 + bw) - max(ax0, bx0))
    iy = max(0.0, min(ay0 + ah, by0 + bh) - max(ay0, by0))
    inter = ix * iy
    exp = {"intersection": inter, "union": aw * ah + bw * bh - inter,
           "difference": aw * ah - inter,
           "symmetric_difference": aw * ah + bw * bh - 2 * inter}
    tol = max(1e-9, 4 * (aw + ah + bw + bh) * max(eps, 1e-9),
              2e-9 * abs(base))
    for op, e in exp.items():
        got = float(algos.area(getattr(algos, op)(A, B))[0])
        assert abs(got - e) <= tol, (op, got, e, tol)


# ---------------------------------------------------------------------------
# CRS registry: full-registry round-trip fuzz + parametric anchors.
#
# The reference delegates reprojection to pyproj (geopandas/array.py:
# 1098-1187); our closed-form registry must stand on its own, so every
# code `supported_epsg_codes()` resolves is exercised here:
#   1. round-trip 4326 -> code -> 4326 closes to <1e-7 deg (the
#      fixed-point datum correction makes Helmert datums close too);
#   2. the projection's natural/false origin maps to (fe, fn) in the
#      CRS's own axis unit — catches transposed lat/lon/fe/fn params
#      that a round trip alone (forward and inverse share the table
#      entry) can never see;
#   3. moving east of lon0 increases easting at mid-latitudes.
# ---------------------------------------------------------------------------

from geopandas_spark.geom import crs as _crs


def _sample_lonlat(kind, p, rng):
    """In-domain sample points for one projection definition."""
    lon0 = p.get("lon0", 0.0)
    lat0 = p.get("lat0")
    if kind == "ps":
        sign = 1.0 if p.get("north") else -1.0
        lats = sign * (90.0 - rng.uniform(2.0, 25.0, 8))
    elif kind == "laea" and lat0 is not None and abs(lat0) > 80.0:
        sign = 1.0 if lat0 > 0 else -1.0
        lats = sign * (90.0 - rng.uniform(2.0, 35.0, 8))
    elif kind in ("lcc", "aea"):
        mid = 0.5 * (p.get("sp1", lat0 or 0.0) + p.get("sp2", lat0 or 0.0))
        lats = np.clip(mid + rng.uniform(-4.0, 4.0, 8), -84.0, 84.0)
    elif lat0 is not None and abs(lat0) > 1e-9 and abs(lat0) < 89.0:
        lats = np.clip(lat0 + rng.uniform(-4.0, 4.0, 8), -84.0, 84.0)
    else:
        lats = rng.uniform(-60.0, 60.0, 8)
    lons = lon0 + rng.uniform(-5.0, 5.0, 8)
    lons = (lons + 180.0) % 360.0 - 180.0
    return np.column_stack([lons, lats])


def test_crs_full_registry_roundtrip_fuzz():
    rng = np.random.default_rng(1234)
    codes = sorted(_crs.supported_epsg_codes())
    assert len(codes) > 400
    bad = []
    for code in codes:
        key = f"EPSG:{code}"
        d = _crs._proj_def(key)
        assert d is not None, key
        kind, p, _ellps, _helm = d
        pts = _sample_lonlat(kind, p, rng)
        rt = _crs.transform_coords(
            _crs.transform_coords(pts, "EPSG:4326", key),
            key, "EPSG:4326")
        dlon = np.abs((rt[:, 0] - pts[:, 0] + 180.0) % 360.0 - 180.0)
        dlat = np.abs(rt[:, 1] - pts[:, 1])
        err = float(max(dlon.max(), dlat.max()))
        if not err < 1e-7:
            bad.append((code, err))
    assert not bad, bad


def test_crs_full_registry_origin_anchor():
    """(lat0, lon0) [or the pole for polar stereo] must land on
    (fe, fn) in the axis unit — validates each table row's origin and
    false-easting/northing independently of the round trip."""
    rng = np.random.default_rng(7)
    skipped = 0
    for code in sorted(_crs.supported_epsg_codes()):
        key = f"EPSG:{code}"
        kind, p, ellps, helm = _crs._proj_def(key)
        if kind in ("geog", "moll", "sinu", "cea", "eqc", "webmerc",
                    "merc"):
            # cylindrical/world families: origin is (0-ish, lon0); the
            # monotonicity test below covers them
            skipped += 1
            continue
        if kind == "ps":
            o_lat = 90.0 if p.get("north") else -90.0
        else:
            o_lat = p.get("lat0", 0.0)
        o_lon = p.get("lon0", 0.0)
        # anchor the projection kernel directly (in its own datum) so
        # polar false origins (Belgian Lambert lat0=90) stay
        # well-defined; the round-trip fuzz covers the datum step
        E, N = _crs._FWD[kind](np.array([o_lon]), np.array([o_lat]), p)
        exp = np.array([p.get("fe", 0.0), p.get("fn", 0.0)])
        got = np.array([E[0], N[0]])
        assert np.abs(got - exp).max() < 2e-4, (code, got, exp)
    assert skipped < 60


def test_crs_full_registry_easting_monotone():
    rng = np.random.default_rng(99)
    for code in sorted(_crs.supported_epsg_codes()):
        key = f"EPSG:{code}"
        kind, p, _e, _h = _crs._proj_def(key)
        if kind == "geog":
            continue
        lon0 = p.get("lon0", 0.0)
        if kind == "ps":
            lat = 75.0 if p.get("north") else -75.0
        elif kind in ("lcc", "aea"):
            lat = 0.5 * (p.get("sp1", 0.0) + p.get("sp2", 0.0)) or 30.0
        else:
            lat = np.clip(p.get("lat0") or 30.0, -80.0, 80.0)
        pts = np.array([[lon0 + 0.5, lat], [lon0 + 1.5, lat]])
        out = _crs.transform_coords(pts, "EPSG:4326", key)
        assert out[1, 0] > out[0, 0], (code, out)


def test_crs_sphere_datum_passthrough_anchors():
    """Sphere CRSs take PROJ's ballpark (pass-through) datum step: the
    published anchors only hold when geodetic lat is fed straight into
    the spherical kernels (a geocentric XYZ step would shift 45N by
    ~0.19 deg = 21 km)."""
    # EPSG:2163 / 9311: US National Atlas LAEA, origin (-100, 45) -> (0,0)
    for code in ("EPSG:2163", "EPSG:9311"):
        out = _crs.transform_coords(
            np.array([[-100.0, 45.0]]), "EPSG:4326", code)
        assert np.abs(out).max() == 0.0, (code, out)
    # ESRI:54009 World Mollweide (sphere R=6378137): pole y = sqrt(2) R,
    # antimeridian x = 2 sqrt(2) R (closed-form constants)
    R = 6378137.0
    pole = _crs.transform_coords(
        np.array([[0.0, 90.0]]), "EPSG:4326", "ESRI:54009")
    assert abs(pole[0, 1] - np.sqrt(2.0) * R) < 1e-6
    edge = _crs.transform_coords(
        np.array([[180.0, 0.0]]), "EPSG:4326", "ESRI:54009")
    assert abs(edge[0, 0] - 2.0 * np.sqrt(2.0) * R) < 1e-6
    # ESRI:54008 World Sinusoidal is ELLIPSOIDAL on WGS84: y(90N) is the
    # WGS84 quarter meridian, not the sphere's pi/2 * R
    q = _crs.transform_coords(
        np.array([[0.0, 90.0]]), "EPSG:4326", "ESRI:54008")
    assert abs(q[0, 1] - 10001965.7293) < 0.1
    # MODIS-style sphere sinusoidal via PROJ string: pass-through datum
    mod = "+proj=sinu +lon_0=0 +a=6371007.181 +b=6371007.181"
    out = _crs.transform_coords(np.array([[0.0, 45.0]]), "EPSG:4326", mod)
    assert abs(out[0, 1] - np.pi / 4 * 6371007.181) < 1e-6


def test_crs_explicit_null_towgs84_still_changes_ellipsoid():
    """+towgs84=0,0,0 declares the datum WGS84-coincident — the
    geocentric ellipsoid change must still run (unlike the ballpark
    no-towgs84 case, which passes lon/lat through)."""
    bessel_null = "+proj=longlat +ellps=bessel +towgs84=0,0,0"
    bessel_bare = "+proj=longlat +ellps=bessel"
    pts = np.array([[10.0, 47.0]])
    out_null = _crs.transform_coords(pts, bessel_null, "EPSG:4326")
    out_bare = _crs.transform_coords(pts, bessel_bare, "EPSG:4326")
    assert np.abs(out_bare - pts).max() == 0.0          # ballpark no-op
    dlat = abs(out_null[0, 1] - 47.0)
    assert 1e-4 < dlat < 2e-3, dlat      # real bessel->WGS84 lat change
    # and it round-trips
    rt = _crs.transform_coords(out_null, "EPSG:4326", bessel_null)
    assert np.abs(rt - pts).max() < 1e-9


def test_crs_datum_composition_exact_anchor():
    """EPSG:4277 (OSGB36 geographic) -> EPSG:27700 composes through the
    WGS84 hub with the SAME Helmert on both legs, so the BNG natural
    origin (-2E, 49N in OSGB36) must land on (400000, -100000) to
    sub-mm despite the ~500 m datum shift."""
    out = _crs.transform_coords(
        np.array([[-2.0, 49.0]]), "EPSG:4277", "EPSG:27700")
    assert abs(out[0, 0] - 400000.0) < 1e-3, out
    assert abs(out[0, 1] + 100000.0) < 1e-3, out
    # Amersfoort twin: RD New origin (5.38763888888889, 52.15616055555555)
    out2 = _crs.transform_coords(
        np.array([[5.38763888888889, 52.15616055555555]]),
        "EPSG:4289", "EPSG:28992")
    assert abs(out2[0, 0] - 155000.0) < 1e-3, out2
    assert abs(out2[0, 1] - 463000.0) < 1e-3, out2


def test_crs_boundcrs_abridged_transformation():
    """A WKT2 BOUNDCRS's ABRIDGEDTRANSFORMATION (the datum shift it
    exists to carry) must be applied, matching the equivalent towgs84
    definition; scale difference arrives as the (1 + s*1e-6) ratio."""
    wkt2 = """BOUNDCRS[
      SOURCECRS[GEOGCRS["OSGB36",
        DATUM["Ordnance Survey of Great Britain 1936",
          ELLIPSOID["Airy 1830",6377563.396,299.3249646]],
        CS[ellipsoidal,2],
        AXIS["latitude",north],AXIS["longitude",east],
        ANGLEUNIT["degree",0.0174532925199433]]],
      TARGETCRS[GEOGCRS["WGS 84",
        DATUM["World Geodetic System 1984",
          ELLIPSOID["WGS 84",6378137,298.257223563]],
        CS[ellipsoidal,2],AXIS["latitude",north],
        AXIS["longitude",east],
        ANGLEUNIT["degree",0.0174532925199433]]],
      ABRIDGEDTRANSFORMATION["OSGB36 to WGS 84",
        METHOD["Position Vector transformation (geog2D domain)",
               ID["EPSG",9606]],
        PARAMETER["X-axis translation",446.448],
        PARAMETER["Y-axis translation",-125.157],
        PARAMETER["Z-axis translation",542.06],
        PARAMETER["X-axis rotation",0.15],
        PARAMETER["Y-axis rotation",0.247],
        PARAMETER["Z-axis rotation",0.842],
        PARAMETER["Scale difference",0.999979511]]]"""
    pts = np.array([[-3.5, 51.5], [0.1, 52.2]])
    via_wkt = _crs.transform_coords(pts, wkt2, "EPSG:4326")
    via_code = _crs.transform_coords(pts, "EPSG:4277", "EPSG:4326")
    assert np.abs(via_wkt - via_code).max() < 1e-9
    # the shift is real (hundreds of metres), not silently dropped
    assert np.abs(via_wkt - pts).max() > 1e-3


def test_crs_urn_ogc_crs84():
    pts = np.array([[10.0, 50.0]])
    a = _crs.transform_coords(pts, "urn:ogc:def:crs:OGC:1.3:CRS84",
                              "EPSG:3857")
    b = _crs.transform_coords(pts, "EPSG:4326", "EPSG:3857")
    assert np.abs(a - b).max() == 0.0
    c = _crs.transform_coords(pts, "urn:ogc:def:crs:EPSG::4326",
                              "EPSG:3857")
    assert np.abs(c - b).max() == 0.0


# ---------------------------------------------------------------------------
# polygonize / polygonize_full: independent planar-graph oracle fuzz
# (VERDICT r7 #5).  Random axis-aligned integer linework makes every
# quantity exactly computable by a SECOND algorithm that shares no code
# with the kernel's half-edge tracer:
#   - unit-edge decomposition replaces noding (integer crossings only);
#   - dangles  == iterative degree-1 pruning of the unit graph;
#   - cuts     == bridges (Tarjan) of the pruned unit graph;
#   - #faces   == E - V + C of the pruned graph (Euler);
#   - face edges + cuts + dangles partition the noded edge set;
#   - sum of face areas == cells unreachable from outside (flood fill);
#   - full=False output == the polygons+invalid components of full=True.
# ---------------------------------------------------------------------------

from geopandas_spark.geom import wkt as _wktm


def _axis_segments(rng, n, G):
    segs = []
    for _ in range(n):
        x, y = int(rng.integers(0, G)), int(rng.integers(0, G))
        ln = int(rng.integers(1, min(6, G)))
        if rng.random() < 0.5:
            x2, y2 = min(x + ln, G), y
        else:
            x2, y2 = x, min(y + ln, G)
        if (x, y) != (x2, y2):
            segs.append(((x, y), (x2, y2)))
    return segs


def _unit_edges(p, q):
    (x, y), (x2, y2) = p, q
    out = set()
    if y == y2:
        for x0 in range(min(x, x2), max(x, x2)):
            out.add(((x0, y), (x0 + 1, y)))
    else:
        for y0 in range(min(y, y2), max(y, y2)):
            out.add(((x, y0), (x, y0 + 1)))
    return out


def _ga_unit_edges(ga, rings=False):
    """Decompose engine output (axis-aligned integer coords) to the
    canonical unit-edge set."""
    out = set()
    co = np.rint(ga.coords).astype(np.int64)
    assert np.abs(ga.coords - co).max(initial=0.0) < 1e-9
    ro = ga.ring_offsets
    for r in range(len(ro) - 1):
        pts = co[ro[r]:ro[r + 1]]
        for k in range(len(pts) - 1):
            p, q = tuple(pts[k]), tuple(pts[k + 1])
            if p != q:
                out |= _unit_edges(p, q)
    return out


def _prune_units(units):
    """(kept, pruned) after iterative degree-1 removal."""
    units = set(units)
    while True:
        deg = {}
        for p, q in units:
            deg[p] = deg.get(p, 0) + 1
            deg[q] = deg.get(q, 0) + 1
        drop = {e for e in units if deg[e[0]] == 1 or deg[e[1]] == 1}
        if not drop:
            return units
        units -= drop


def _bridges(units):
    """Bridge edges of an undirected graph — iterative Tarjan."""
    adj = {}
    for i, (p, q) in enumerate(units):
        adj.setdefault(p, []).append((q, i))
        adj.setdefault(q, []).append((p, i))
    disc, low = {}, {}
    bridges, t = set(), [0]
    units = list(units)
    for root in adj:
        if root in disc:
            continue
        stack = [(root, -1, iter(adj[root]))]
        disc[root] = low[root] = t[0]
        t[0] += 1
        while stack:
            v, pe, it = stack[-1]
            adv = False
            for w, ei in it:
                if ei == pe:
                    continue
                if w not in disc:
                    disc[w] = low[w] = t[0]
                    t[0] += 1
                    stack.append((w, ei, iter(adj[w])))
                    adv = True
                    break
                low[v] = min(low[v], disc[w])
            if adv:
                continue
            stack.pop()
            if stack:
                u = stack[-1][0]
                low[u] = min(low[u], low[v])
                if low[v] > disc[u]:
                    bridges.add(units[pe])
    return bridges


def _components(units):
    parent = {}

    def find(v):
        r = v
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(v, v) != v:
            parent[v], v = r, parent[v]
        return r

    for p, q in units:
        rp, rq = find(p), find(q)
        if rp != rq:
            parent[rp] = rq
    return find


def _enclosed_cells(units, G):
    """Cells of the [0,G)x[0,G) grid not reachable from outside when
    `units` are walls — BFS on the cell dual (padded one ring)."""
    walls = set(units)

    def blocked(c1, c2):
        (x1, y1), (x2, y2) = c1, c2
        if x2 == x1 + 1:
            w = (((x2, y1), (x2, y1 + 1)))
        elif x1 == x2 + 1:
            w = (((x1, y1), (x1, y1 + 1)))
        elif y2 == y1 + 1:
            w = (((x1, y2), (x1 + 1, y2)))
        else:
            w = (((x1, y1), (x1 + 1, y1)))
        return w in walls

    seen = set()
    from collections import deque
    dq = deque()
    for x in range(-1, G + 1):
        for y in (-1, G):
            dq.append((x, y)); seen.add((x, y))
        for y in range(-1, G + 1):
            for x0 in (-1, G):
                if (x0, y) not in seen:
                    dq.append((x0, y)); seen.add((x0, y))
    while dq:
        c = dq.popleft()
        x, y = c
        for nb in ((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)):
            if not (-1 <= nb[0] <= G and -1 <= nb[1] <= G):
                continue
            if nb in seen or blocked(c, nb):
                continue
            seen.add(nb)
            dq.append(nb)
    return sum(1 for x in range(G) for y in range(G)
               if (x, y) not in seen)


@settings(max_examples=60, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_polygonize_full_planar_graph_oracle(seed):
    from geopandas_spark.geom import algos as _alg
    G = 9
    rng = np.random.default_rng(seed)
    segs = _axis_segments(rng, int(rng.integers(3, 19)), G)
    if not segs:
        return
    ws = np.array([f"LINESTRING ({p[0]} {p[1]}, {q[0]} {q[1]})"
                   for p, q in segs], dtype=object)
    ga = _wktm.parse_array(ws)
    polys, cuts, dangles, invalid = _alg.polygonize_full(ga)

    # independent unit-graph oracle
    all_units = set()
    for p, q in segs:
        all_units |= _unit_edges(p, q)
    kept = _prune_units(all_units)
    exp_dangles = all_units - kept
    exp_cuts = _bridges(kept)
    face_units = kept - exp_cuts
    # Euler: bounded faces = E - V + C over the pruned graph
    V = {v for e in kept for v in e}
    find = _components(kept)
    C = len({find(v) for v in V})
    exp_faces = len(kept) - len(V) + C if kept else 0

    got_dangles = _ga_unit_edges(dangles)
    got_cuts = _ga_unit_edges(cuts)
    got_faces = _ga_unit_edges(polys) | _ga_unit_edges(invalid)
    assert got_dangles == exp_dangles
    assert got_cuts == exp_cuts
    assert got_faces == face_units
    assert len(polys) + len(invalid) == exp_faces, (seed, len(polys),
                                                    len(invalid), exp_faces)
    # partition: the three classes are disjoint and cover the edge set
    assert not (got_dangles & got_cuts)
    assert not (got_dangles & got_faces)
    assert not (got_cuts & got_faces)
    assert (got_dangles | got_cuts | got_faces) == all_units
    # area identity vs flood fill
    total = float(np.nansum(_alg.area(polys))) + \
        float(np.nansum(_alg.area(invalid)))
    assert abs(total - _enclosed_cells(all_units, G)) < 1e-9, seed
    # full=False == the faces component of full=True
    plain = _alg.polygonize(ga)
    assert len(plain) == exp_faces
    assert abs(float(np.nansum(_alg.area(plain))) - total) < 1e-9


@settings(max_examples=25, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_polygonize_jittered_duplicates_invariant(seed):
    """Near-coincident duplicate linework (±2e-12 jitter, inside the
    1e-9 canonicalization snap) must not change the polygonize_full
    split."""
    from geopandas_spark.geom import algos as _alg
    G = 7
    rng = np.random.default_rng(seed)
    segs = _axis_segments(rng, int(rng.integers(3, 13)), G)
    if not segs:
        return
    ws = [f"LINESTRING ({p[0]} {p[1]}, {q[0]} {q[1]})" for p, q in segs]
    base = _alg.polygonize_full(_wktm.parse_array(np.array(ws, dtype=object)))
    jit = []
    for p, q in segs:
        jit.append(f"LINESTRING ({p[0]} {p[1]}, {q[0]} {q[1]})")
        dx, dy = rng.uniform(-2e-12, 2e-12, 2)
        jit.append(f"LINESTRING ({p[0] + dx:.17g} {p[1] + dy:.17g}, "
                   f"{q[0] + dx:.17g} {q[1] + dy:.17g})")
    out = _alg.polygonize_full(_wktm.parse_array(np.array(jit, dtype=object)))
    for a, b in zip(base, out):
        assert len(a) == len(b)
        assert sorted(np.round(_alg.area(a), 6).tolist()) == \
            sorted(np.round(_alg.area(b), 6).tolist())
        assert sorted(np.round(_alg.length(a), 6).tolist()) == \
            sorted(np.round(_alg.length(b), 6).tolist())


@given(st_.integers(0, 2**31 - 1), st_.integers(1, 6),
       st_.sampled_from([-20037508.0, 20037508.0, 2**26 * 1.0]))
@settings(max_examples=60, deadline=None)
def test_gc_setops_web_mercator_magnitude_invariance(seed, nboxes, off):
    """r8 fuzz target (VERDICT r7 #7): GC set ops with nested empty
    collections at web-mercator magnitudes.  Axis-aligned integer
    children shifted by ±2e7 stay EXACTLY representable (2e7 + k is an
    exact double), so every set op must match the origin-frame result
    EXACTLY after translation — a zero-tolerance oracle for
    magnitude-dependent epsilons in the boolean kernel."""
    rng = np.random.default_rng(seed)
    children = []
    for _ in range(nboxes):
        x0, y0 = rng.integers(0, 30, 2)
        w, h = rng.integers(1, 12, 2)
        children.append((int(x0), int(y0), int(w), int(h)))
    lx, ly = (int(v) for v in rng.integers(0, 30, 2))

    def gc(dx):
        parts = [f"POLYGON (({x0+dx} {y0}, {x0+w+dx} {y0}, "
                 f"{x0+w+dx} {y0+h}, {x0+dx} {y0+h}, {x0+dx} {y0}))"
                 for x0, y0, w, h in children]
        parts.append(f"LINESTRING ({lx+dx} {ly}, {lx+9+dx} {ly})")
        inner = ("GEOMETRYCOLLECTION (" + ", ".join(
            parts[:max(1, len(parts) // 2)] +
            ["POLYGON EMPTY", "GEOMETRYCOLLECTION EMPTY"]) + ")")
        return "GEOMETRYCOLLECTION (" + ", ".join(
            [inner] + parts[max(1, len(parts) // 2):] +
            ["POINT EMPTY", "LINESTRING EMPTY"]) + ")"

    bx, by = (int(v) for v in rng.integers(0, 25, 2))

    def bpoly(dx):
        return (f"POLYGON (({bx+dx} {by}, {bx+14+dx} {by}, "
                f"{bx+14+dx} {by+10}, {bx+dx} {by+10}, {bx+dx} {by}))")

    A0, B0 = wkt.parse_array([gc(0)]), wkt.parse_array([bpoly(0)])
    A1, B1 = wkt.parse_array([gc(int(off))]), \
        wkt.parse_array([bpoly(int(off))])
    for op in ("intersection", "difference", "union",
               "symmetric_difference"):
        r0 = getattr(algos, op)(A0, B0)
        r1 = getattr(algos, op)(A1, B1)
        a0, a1 = float(algos.area(r0)[0]), float(algos.area(r1)[0])
        l0, l1 = float(algos.length(r0)[0]), float(algos.length(r1)[0])
        assert a0 == a1, (op, off, a0, a1)       # exact: integer grid
        assert l0 == l1, (op, off, l0, l1)


@given(st_.integers(0, 2**31 - 1), st_.integers(2, 8))
@settings(max_examples=40, deadline=None)
def test_mixed_endian_wkb_through_setops(seed, n):
    """r8 fuzz target (VERDICT r7 #7): big-endian (XDR) WKB operands
    through every boolean set-op path — byte-swapped rows must produce
    byte-identical results to their little-endian twins (the decode is
    the only thing that may differ, so any divergence is a decoder
    defect surfacing in the hot kernel)."""
    import struct

    rng = np.random.default_rng(seed)

    def make(k):
        x0, y0 = rng.integers(0, 40, 2)
        w, h = rng.integers(1, 15, 2)
        return boxes_from_bounds([float(x0)], [float(y0)],
                                 [float(x0 + w)], [float(y0 + h)])

    A = wkb.decode([wkb.encode(make(i))[0] for i in range(n)])
    B = wkb.decode([wkb.encode(make(i))[0] for i in range(n)])

    def poly_to_be(b):
        (nr,) = struct.unpack_from("<I", b, 5)
        out = [b"\x00", struct.pack(">I", 3), struct.pack(">I", nr)]
        pos = 9
        for _ in range(nr):
            (m,) = struct.unpack_from("<I", b, pos)
            cs = struct.unpack_from(f"<{2*m}d", b, pos + 4)
            out.append(struct.pack(">I", m))
            out.append(struct.pack(f">{2*m}d", *cs))
            pos += 4 + 16 * m
        return b"".join(out)

    a_le = wkb.encode(A)
    b_le = wkb.encode(B)
    flip = rng.random(n) < 0.5
    a_mix = [poly_to_be(v) if flip[i] else v for i, v in enumerate(a_le)]
    b_mix = [poly_to_be(v) if not flip[i] else v
             for i, v in enumerate(b_le)]
    Am, Bm = wkb.decode(a_mix), wkb.decode(b_mix)
    for op in ("intersection", "union", "difference",
               "symmetric_difference"):
        r_le = wkb.encode(getattr(algos, op)(A, B))
        r_mx = wkb.encode(getattr(algos, op)(Am, Bm))
        assert r_le == r_mx, (op, seed)
    # predicates through the same mixed decode
    for pred in ("intersects", "touches", "contains", "overlaps"):
        assert (getattr(algos, pred)(A, B) ==
                getattr(algos, pred)(Am, Bm)).all(), pred


def test_crs_object_inputs_duck_typed():
    """CRS-like OBJECTS (pyproj.CRS duck: to_authority()/to_wkt()) are
    accepted everywhere a CRS string is (reference array.py:1098 takes
    any pyproj CRS)."""
    class _AuthCRS:
        def to_authority(self):
            return ("EPSG", "32632")

        def to_wkt(self):          # pragma: no cover - authority wins
            raise AssertionError("authority path should win")

    class _WktCRS:
        def to_authority(self):
            return None

        def to_wkt(self):
            return (
                'PROJCRS["x",BASEGEOGCRS["ETRS89",DATUM["European '
                'Terrestrial Reference System 1989",ELLIPSOID['
                '"GRS 1980",6378137,298.257222101]],ANGLEUNIT["degree",'
                '0.0174532925199433]],CONVERSION["c",METHOD["Transverse '
                'Mercator",ID["EPSG",9807]],PARAMETER["Latitude of '
                'natural origin",0],PARAMETER["Longitude of natural '
                'origin",9],PARAMETER["Scale factor at natural origin",'
                '0.9996],PARAMETER["False easting",500000],PARAMETER['
                '"False northing",0]],CS[Cartesian,2],AXIS["(E)",east],'
                'AXIS["(N)",north],LENGTHUNIT["metre",1]]')

    pts = np.array([[9.0, 0.0], [10.0, 47.0]])
    a = _crs.transform_coords(pts, "EPSG:4326", _AuthCRS())
    b = _crs.transform_coords(pts, "EPSG:4326", "EPSG:32632")
    c = _crs.transform_coords(pts, "EPSG:4326", _WktCRS())
    assert np.abs(a - b).max() == 0.0
    # ETRS89/GRS80 vs WGS84 UTM: sub-mm ellipsoid difference only
    assert np.abs(c - b).max() < 1e-3


@given(st_.integers(0, 2**31 - 1), st_.sampled_from([1.0, 0.35]),
       st_.sampled_from([2**26 * 1.0, -20037508.0]))
@settings(max_examples=30, deadline=None)
def test_buffer_translate_invariance_magnitude(seed, d, off):
    """r8 fuzz target: positive AND negative buffer at web-mercator
    magnitudes.  Integer-grid polygons shifted by ±2e7 stay exactly
    representable, and the offset construction is translation-covariant
    in exact arithmetic, so areas must agree to a few ULPs of the
    shifted frame — catches absolute epsilons (1e-12-class probe
    slacks) that are sub-ULP at |x| ≈ 2e7."""
    from geopandas_spark.geom.array import GT_POLYGON, GeometryBuilder

    rng = np.random.default_rng(seed)
    n = int(rng.integers(5, 10))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.integers(3, 12, n).astype(np.float64)
    ring = np.column_stack([np.round(20 + rad * np.cos(ang)),
                            np.round(20 + rad * np.sin(ang))])
    ring = np.vstack([ring, ring[:1]])
    sa = 0.5 * np.sum(ring[:-1, 0] * ring[1:, 1]
                      - ring[1:, 0] * ring[:-1, 1])
    if abs(sa) < 4.0:
        return
    if sa < 0:
        ring = ring[::-1]

    def mk(dx):
        r = ring.copy()
        r[:, 0] += dx
        b = GeometryBuilder()
        b.append(GT_POLYGON, [[r]])
        return b.finish()

    A0, A1 = mk(0.0), mk(off)
    for dd in (d, -d):
        r0 = algos.buffer(A0, np.array([dd]))
        r1 = algos.buffer(A1, np.array([dd]))
        # translate the shifted result BACK before measuring: the
        # shoelace at |x| ≈ 2e7 has inherent 4e14-scale cancellation
        # that would force a loose tolerance; after translation the
        # only error left is the buffer construction's own (~ULP of
        # the shifted coordinates × perimeter)
        r1t = algos.translate(r1, -off, 0.0)
        a0 = float(algos.area(r0)[0])
        a1 = float(algos.area(r1t)[0])
        peri = float(algos.length(r0)[0])
        tol = 64.0 * np.spacing(abs(off)) * max(peri, 1.0) + 1e-9
        assert abs(a0 - a1) <= tol, (dd, a0, a1, tol)


@given(st_.integers(0, 2**31 - 1), st_.integers(0, 24),
       st_.sampled_from([0.0, 67108864.0]))
@settings(max_examples=120, deadline=None)
def test_relate_matrix_consistent_with_predicates(seed, kinds, off):
    """r8 cross-check: the DE-9IM matrix and the boolean predicates are
    computed by different kernel paths — they must tell the same story
    for every pair (intersects = not disjoint-pattern, contains/within/
    touches/crosses/overlaps/equals each match their defining pattern),
    at origin AND web-mercator magnitudes."""
    from geopandas_spark.geom import wkt as _w

    rng = np.random.default_rng(seed)

    def geom(kind):
        x0, y0 = (int(v) for v in rng.integers(0, 12, 2))
        w, h = (int(v) for v in rng.integers(1, 8, 2))
        if kind == 0:
            return (f"POLYGON (({x0+off} {y0}, {x0+w+off} {y0}, "
                    f"{x0+w+off} {y0+h}, {x0+off} {y0+h}, "
                    f"{x0+off} {y0}))")
        if kind == 1:
            return f"LINESTRING ({x0+off} {y0}, {x0+w+off} {y0+h})"
        if kind == 2:
            return f"POINT ({x0+off} {y0})"
        if kind == 3:      # polygon with a hole (when it fits)
            w, h = max(w, 3), max(h, 3)
            hx, hy = x0 + 1, y0 + 1
            return (f"POLYGON (({x0+off} {y0}, {x0+w+off} {y0}, "
                    f"{x0+w+off} {y0+h}, {x0+off} {y0+h}, "
                    f"{x0+off} {y0}), ({hx+off} {hy}, {hx+off} {hy+1}, "
                    f"{hx+1+off} {hy+1}, {hx+1+off} {hy}, "
                    f"{hx+off} {hy}))")
        if kind == 4:      # 2-segment polyline with an axis-aligned leg
            x1, y1 = (int(v) for v in rng.integers(0, 12, 2))
            return (f"LINESTRING ({x0+off} {y0}, {x0+w+off} {y0+h}, "
                    f"{x1+off} {y0+h})")
        # kind 5: GC(polygon + line) — pointwise RelateNG semantics
        x1, y1 = (int(v) for v in rng.integers(0, 12, 2))
        l1 = int(rng.integers(1, 8))
        return (f"GEOMETRYCOLLECTION (POLYGON (({x0+off} {y0}, "
                f"{x0+w+off} {y0}, {x0+w+off} {y0+h}, {x0+off} {y0+h}, "
                f"{x0+off} {y0})), "
                f"LINESTRING ({x1+off} {y1}, {x1+l1+off} {y1}))")

    A = _w.parse_array([geom(kinds % 6)])
    B = _w.parse_array([geom((kinds // 5 + seed) % 6)])
    m = algos.relate(A, B)[0]
    assert len(m) == 9

    def p(ix):
        return m[ix] != "F"

    inter = bool(algos.intersects(A, B)[0])
    # intersects <=> any of II, IB, BI, BB non-F
    assert inter == (p(0) or p(1) or p(3) or p(4)), (m, inter)
    assert bool(algos.disjoint(A, B)[0]) == (not inter), m
    # within: II and not IE, BE  (T*F**F***)
    assert bool(algos.within(A, B)[0]) == \
        (p(0) and not p(2) and not p(5)), (m,)
    assert bool(algos.contains(A, B)[0]) == \
        (p(0) and not p(6) and not p(7)), (m,)
    # touches: no II, but some boundary contact (FT*******, F**T*****,
    # F***T****)
    assert bool(algos.touches(A, B)[0]) == \
        (not p(0) and (p(1) or p(3) or p(4))), (m,)
    # equals: T*F**FFF* (within and contains)
    assert bool(algos.geom_equals(A, B)[0]) == \
        (p(0) and not p(2) and not p(5) and not p(6) and not p(7)), (m,)
    # covers: some intersection, nothing of B outside A's closure
    assert bool(algos.covers(A, B)[0]) == \
        ((p(0) or p(1) or p(3) or p(4)) and not p(6) and not p(7)), (m,)
    # covered_by: transpose
    assert bool(algos.covered_by(A, B)[0]) == \
        ((p(0) or p(1) or p(3) or p(4)) and not p(2) and not p(5)), (m,)
    # crosses / overlaps per dimension pair (GC: max child dimension)
    def _dim(G):
        t = int(G.types[0])
        if t in (3, 6):
            return 2
        if t in (2, 5):
            return 1
        if t in (1, 4):
            return 0
        return max([2 if ct in (3, 6) else 1 if ct in (2, 5) else 0
                    for ct, _p in G.children_of(0)] + [0])
    da, db = _dim(A), _dim(B)
    cr = bool(algos.crosses(A, B)[0])
    ov = bool(algos.overlaps(A, B)[0])
    if da == db:
        if da == 1:
            assert cr == (p(0) and m[0] == "0"), (m,)
        else:
            assert not cr, (m,)
        # overlaps: dim(II) must EQUAL the operands' dimension (a GC
        # whose line child pierces a polygon gives II=1 for a 2/2 pair
        # -> not an overlap), plus both exclusive parts
        assert ov == (m[0] == str(da) and p(2) and p(6)), (m, da)
    else:
        assert cr == (p(0) and (p(2) if da < db else p(6))), (m, da, db)
        assert not ov, (m,)


@given(st_.integers(0, 2**31 - 1), st_.booleans(),
       st_.sampled_from([0.0, 67108864.0]))
@settings(max_examples=80, deadline=None)
def test_distance_matches_naive_segment_oracle(seed, degen, off):
    """r8 fuzz: distance(line/polygon boundary pairs) against a naive
    per-segment/per-vertex oracle, with optional REPEATED-VERTEX
    degenerate segments (the zero-length-segment class that broke
    intersects) and web-mercator offsets."""
    rng = np.random.default_rng(seed)

    def polyline(n):
        pts = np.cumsum(rng.integers(-5, 6, (n, 2)), axis=0) + 20.0
        if degen and n > 2:
            k = int(rng.integers(1, n - 1))
            pts[k] = pts[k - 1]          # repeated vertex
        pts[:, 0] += off
        return pts

    a = polyline(int(rng.integers(2, 7)))
    b = polyline(int(rng.integers(2, 7))) + rng.integers(0, 30, 2)

    from geopandas_spark.geom.array import GT_LINESTRING, GeometryBuilder
    bb_ = GeometryBuilder()
    bb_.append(GT_LINESTRING, [[a]])
    A = bb_.finish()
    bb_ = GeometryBuilder()
    bb_.append(GT_LINESTRING, [[b]])
    B = bb_.finish()
    got = float(algos.distance(A, B)[0])

    def seg_pt_d(p, q0, q1):
        d = q1 - q0
        dd = float(d @ d)
        if dd == 0.0:
            return float(np.hypot(*(p - q0)))
        t = np.clip(float((p - q0) @ d) / dd, 0.0, 1.0)
        return float(np.hypot(*(p - (q0 + t * d))))

    best = np.inf
    segs_a = [(a[k], a[k + 1]) for k in range(len(a) - 1)]
    segs_b = [(b[k], b[k + 1]) for k in range(len(b) - 1)]
    for p in a:
        for q0, q1 in segs_b:
            best = min(best, seg_pt_d(p, q0, q1))
    for p in b:
        for q0, q1 in segs_a:
            best = min(best, seg_pt_d(p, q0, q1))
    # segment/segment crossing => 0
    from geopandas_spark.geom.algos import _segs_intersect_flags
    sa = np.stack([a[:-1], a[1:]], axis=1)
    sb = np.stack([b[:-1], b[1:]], axis=1)
    hit, _ = _segs_intersect_flags(sa, sb)
    if hit:
        best = 0.0
    tol = 1e-9 + 16 * np.spacing(max(abs(off), 1.0))
    assert abs(got - best) <= tol, (got, best)


def test_gc_pointwise_predicates_and_relate():
    """RelateNG pointwise GC semantics (r8): covers through joint child
    coverage, protruding lower-dim children defeat coverage, overlaps
    sees them as uncovered interior, and relate() assembles a matrix
    consistent with all of it."""
    from geopandas_spark.geom import wkt as _w

    GC = _w.parse_array([
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), "
        "LINESTRING (2 2, 10 2))"])
    P = _w.parse_array(["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"])
    PB = _w.parse_array(["POLYGON ((-1 -1, 5 -1, 5 5, -1 5, -1 -1))"])
    GC2 = _w.parse_array([
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 5 0, 5 4, 0 4, 0 0)), "
        "POLYGON ((5 0, 10 0, 10 4, 5 4, 5 0)))"])
    L = _w.parse_array(["LINESTRING (1 2, 9 2)"])
    E = _w.parse_array(["GEOMETRYCOLLECTION EMPTY"])

    assert bool(algos.covers(GC, P)[0])          # child covers P
    assert not bool(algos.covers(P, GC)[0])      # line protrudes
    assert bool(algos.covered_by(P, GC)[0])
    assert bool(algos.contains(GC, P)[0])
    assert not bool(algos.overlaps(GC, P)[0])    # GC covers P -> EI=F
    assert bool(algos.overlaps(GC, PB)[0])       # protrusion + bigger P
    assert bool(algos.covers(GC2, L)[0])         # joint coverage
    assert not bool(algos.covers(P, E)[0])       # empty covered by none

    # relate consistency with the predicates on the same pairs
    for A, B in ((GC, P), (GC, PB), (P, GC)):
        m = algos.relate(A, B)[0]
        inter_m = any(m[k] != "F" for k in (0, 1, 3, 4))
        assert inter_m == bool(algos.intersects(A, B)[0]), m
        cov_m = inter_m and m[6] == "F" and m[7] == "F"
        assert cov_m == bool(algos.covers(A, B)[0]), m


# ---------------------------------------------------------------------------
# voronoi / delaunay degenerate-site fuzz (VERDICT r8 #5): random INTEGER
# sites on a small grid maximize cocircular sets (grid squares) and
# collinear runs — the configurations where circumcenter arithmetic
# degenerates. Every oracle below is exact:
#   - convex hull + boundary-point count via an independent monotone
#     chain (int64);
#   - triangle count == 2n − h − 2 (any triangulation of n sites with h
#     on the hull boundary);
#   - covered area == hull area (shoelace, exact in int64);
#   - empty-circumcircle via the exact int64 incircle determinant;
#   - voronoi nearest-site via exact squared distances + an independent
#     ray-cast point-in-polygon.
# ---------------------------------------------------------------------------


def _mono_hull(pts):
    """Andrew's monotone chain on int points: (hull_vertices_ccw,
    n_boundary) where n_boundary counts input points lying ON the hull
    boundary (collinear edge points included). Independent of the
    kernel's hull/triangulation code."""
    P = sorted({(int(x), int(y)) for x, y in pts})
    if len(P) <= 2:
        return P, len(P)

    def cross(o, a, b):
        return ((a[0] - o[0]) * (b[1] - o[1]) -
                (a[1] - o[1]) * (b[0] - o[0]))

    def half(seq):
        h = []
        for p in seq:
            while len(h) >= 2 and cross(h[-2], h[-1], p) <= 0:
                h.pop()
            h.append(p)
        return h

    lo = half(P)
    hi = half(P[::-1])
    hull = lo[:-1] + hi[:-1]

    def on_seg(p, a, b):
        return (cross(a, b, p) == 0 and
                min(a[0], b[0]) <= p[0] <= max(a[0], b[0]) and
                min(a[1], b[1]) <= p[1] <= max(a[1], b[1]))

    nb = 0
    for p in P:
        if any(on_seg(p, hull[k], hull[(k + 1) % len(hull)])
               for k in range(len(hull))):
            nb += 1
    return hull, nb


def _shoelace2(ring):
    s = 0
    for k in range(len(ring)):
        x0, y0 = ring[k]
        x1, y1 = ring[(k + 1) % len(ring)]
        s += x0 * y1 - x1 * y0
    return abs(s)


def _incircle(a, b, c, d):
    """Exact int64 incircle: >0 iff d strictly inside the circumcircle
    of CCW triangle abc (coords small ints — no overflow)."""
    m = np.array([
        [a[0] - d[0], a[1] - d[1], (a[0] - d[0])**2 + (a[1] - d[1])**2],
        [b[0] - d[0], b[1] - d[1], (b[0] - d[0])**2 + (b[1] - d[1])**2],
        [c[0] - d[0], c[1] - d[1], (c[0] - d[0])**2 + (c[1] - d[1])**2],
    ], dtype=object)           # python ints: exact
    det = (m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
           - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
           + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0]))
    return det


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_delaunay_degenerate_sites_oracle(seed):
    rng = np.random.default_rng(seed)
    n_raw = int(rng.integers(3, 16))
    G = int(rng.integers(3, 7))     # small grid => many cocircular sets
    pts = np.unique(rng.integers(0, G, size=(n_raw, 2)), axis=0)
    sites = [(int(x), int(y)) for x, y in pts]
    hull, nb = _mono_hull(sites)
    ws = "MULTIPOINT (" + ", ".join(f"{x} {y}" for x, y in sites) + ")"
    ga = wkt.parse_array(np.array([ws], dtype=object))
    dt = algos.delaunay_triangles(ga)

    if len(hull) <= 2:              # all collinear: no triangles
        assert algos.count_geometries(dt)[0] == 0
        return
    n = len(sites)
    exp_tris = 2 * n - nb - 2
    assert algos.count_geometries(dt)[0] == exp_tris, (seed, sites)
    # covered area == hull area, exactly (half-integer doubles)
    assert algos.area(dt)[0] * 2 == _shoelace2(hull), (seed, sites)
    # exact empty-circumcircle on every (triangle, site)
    co = np.rint(dt.coords).astype(np.int64)
    assert np.abs(dt.coords - co).max(initial=0.0) < 1e-9
    ro = dt.ring_offsets
    for r in range(len(ro) - 1):
        tri = [tuple(map(int, co[k])) for k in range(ro[r], ro[r + 1] - 1)]
        assert len(tri) == 3, (seed, tri)
        a, b, c = tri
        if ((b[0] - a[0]) * (c[1] - a[1]) -
                (b[1] - a[1]) * (c[0] - a[0])) < 0:
            a, c = c, a             # normalize CCW for the incircle sign
        for s in sites:
            if s in (a, b, c):
                continue
            assert _incircle(a, b, c, s) <= 0, (seed, (a, b, c), s)


def _pip(pt, ring):
    """Independent ray-cast point-in-polygon; returns None on boundary
    (within eps) so callers can skip ambiguous probes."""
    x, y = pt
    eps = 1e-9
    inside = False
    for k in range(len(ring) - 1):
        (x0, y0), (x1, y1) = ring[k], ring[k + 1]
        # boundary proximity check
        dx, dy = x1 - x0, y1 - y0
        L2 = dx * dx + dy * dy
        if L2 > 0:
            t = max(0.0, min(1.0, ((x - x0) * dx + (y - y0) * dy) / L2))
            if (x - (x0 + t * dx))**2 + (y - (y0 + t * dy))**2 < eps:
                return None
        if (y0 > y) != (y1 > y):
            xi = x0 + (y - y0) * dx / dy
            if abs(xi - x) < eps:
                return None
            if xi > x:
                inside = not inside
    return inside


@settings(max_examples=30, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_voronoi_degenerate_sites_nearest_oracle(seed):
    rng = np.random.default_rng(seed)
    n_raw = int(rng.integers(2, 12))
    G = int(rng.integers(3, 7))
    pts = np.unique(rng.integers(0, G, size=(n_raw, 2)), axis=0)
    sites = [(int(x), int(y)) for x, y in pts]
    ws = "MULTIPOINT (" + ", ".join(f"{x} {y}" for x, y in sites) + ")"
    ga = wkt.parse_array(np.array([ws], dtype=object))
    vp = algos.voronoi_polygons(ga)
    assert algos.count_geometries(vp)[0] == len(sites), (seed, sites)
    parts, _parent, _order = algos.get_parts(vp)

    # cells partition the diagram envelope: Σ area == envelope area
    env = algos.bounds(vp)[0]
    env_area = (env[2] - env[0]) * (env[3] - env[1])
    assert abs(float(np.sum(algos.area(parts))) - env_area) < 1e-6 * max(
        env_area, 1.0), (seed, sites)

    # map each cell to its generating site (the unique site it contains)
    rings = []
    ro = parts.ring_offsets
    gi = parts.coord_geom_index()[parts.ring_offsets[:-1]] \
        if len(parts.coords) else []
    # cell k ring coords
    cell_rings = []
    for k in range(len(parts)):
        sl = parts.geom_slices(k)
        ring = [tuple(map(float, v)) for v in sl[0][0]]
        cell_rings.append(ring)
    owner = []
    for ring in cell_rings:
        inside = [s for s in sites if _pip(s, ring) in (True, None)]
        assert inside, (seed, ring)
        owner.append(inside)

    # nearest-site oracle on random float probes
    for _ in range(20):
        p = (float(rng.uniform(env[0], env[2])),
             float(rng.uniform(env[1], env[3])))
        d2 = [(p[0] - s[0])**2 + (p[1] - s[1])**2 for s in sites]
        best = min(d2)
        for k, ring in enumerate(cell_rings):
            r = _pip(p, ring)
            if r is True:
                # every site this cell can stand for must be an argmin
                ds = min((p[0] - s[0])**2 + (p[1] - s[1])**2
                         for s in owner[k])
                assert ds <= best * (1 + 1e-9) + 1e-12, (seed, p, k)


# ---------------------------------------------------------------------------
# offset_curve vs an independent distance oracle (VERDICT r8 #5): for an
# x-monotone (hence simple) integer polyline and small |d|, every point
# of the offset curve must lie within [d·cos(θ/2), d] of the input line,
# where θ = (π/2)/quad_segs is the arc step (chords of round joins sag
# inward by the sagitta, never outward). Distances are measured with a
# naive per-segment point-segment kernel that shares no code with the
# engine's distance/buffer machinery.
# ---------------------------------------------------------------------------


def _seg_dist(p, a, b):
    px, py = p
    ax, ay = a
    bx, by = b
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    t = 0.0 if L2 == 0 else max(0.0, min(1.0, ((px - ax) * dx +
                                               (py - ay) * dy) / L2))
    qx, qy = ax + t * dx, ay + t * dy
    return ((px - qx) ** 2 + (py - qy) ** 2) ** 0.5


def _line_dist(p, pts):
    return min(_seg_dist(p, pts[k], pts[k + 1]) for k in range(len(pts) - 1))


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_offset_curve_distance_band_oracle(seed):
    import math
    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 8))
    xs = np.cumsum(rng.integers(2, 4, size=n))          # strictly monotone
    ys = rng.integers(-2, 3, size=n)
    pts = [(float(x), float(y)) for x, y in zip(xs, ys)]
    d = float(rng.choice([0.25, 0.5, -0.25, -0.5]))
    qs = int(rng.choice([4, 8, 16]))
    ws = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in pts) + ")"
    ga = wkt.parse_array(np.array([ws], dtype=object))
    oc = algos.offset_curve(ga, d, quad_segs=qs)
    if oc.is_empty()[0]:
        return                      # degenerate trims may empty the curve
    co = oc.coords
    assert len(co) >= 2, seed
    lo = abs(d) * math.cos((math.pi / 2) / qs / 2) * (1 - 1e-9)
    hi = abs(d) * (1 + 1e-9)
    # sample vertices AND segment midpoints of the offset output
    samples = [tuple(map(float, v)) for v in co]
    samples += [((co[k][0] + co[k + 1][0]) / 2.0,
                 (co[k][1] + co[k + 1][1]) / 2.0)
                for k in range(len(co) - 1)]
    for p in samples:
        dist = _line_dist(p, pts)
        assert lo <= dist <= hi, (seed, p, dist, lo, hi)


# ---------------------------------------------------------------------------
# simplify_coverage vs exact expectations (VERDICT r8 #5): a grid-cell
# coverage whose edges carry redundant collinear vertices must simplify
# (tolerance < cell size) to EXACTLY the clean cells — junction corners
# are preserved, interior collinear points are removed, and both
# neighbors of every shared arc reuse the same simplified arc, so the
# coverage identity Σ area_i == area(union) must keep holding exactly.
# ---------------------------------------------------------------------------


def _cell_wkt(x, y, sub):
    """Unit cell (x,y)..(x+1,y+1) with each edge split into `sub` pieces
    (redundant collinear vertices the simplifier must remove)."""
    f = 1.0 / sub
    ring = []
    for k in range(sub):
        ring.append((x + k * f, y))
    for k in range(sub):
        ring.append((x + 1, y + k * f))
    for k in range(sub):
        ring.append((x + 1 - k * f, y + 1))
    for k in range(sub):
        ring.append((x, y + 1 - k * f))
    ring.append((x, y))
    return ("POLYGON ((" + ", ".join(f"{a:.6f} {b:.6f}" for a, b in ring)
            + "))")


@settings(max_examples=25, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_simplify_coverage_grid_exact(seed):
    rng = np.random.default_rng(seed)
    K = int(rng.integers(2, 5))
    sub = int(rng.choice([2, 4, 5]))
    # random subset of the K×K grid, at least 2 cells, keep it connected
    # enough by taking a random walk
    cells = {(0, 0)}
    cur = (0, 0)
    for _ in range(int(rng.integers(2, K * K + 4))):
        dx, dy = rng.choice([(1, 0), (-1, 0), (0, 1), (0, -1)])
        cur = (min(max(cur[0] + dx, 0), K - 1),
               min(max(cur[1] + dy, 0), K - 1))
        cells.add(cur)
    cells = sorted(cells)
    dirty = wkt.parse_array(np.array(
        [_cell_wkt(x, y, sub) for x, y in cells], dtype=object))
    clean = wkt.parse_array(np.array(
        [f"POLYGON (({x} {y}, {x+1} {y}, {x+1} {y+1}, {x} {y+1}, {x} {y}))"
         for x, y in cells], dtype=object))
    simp = algos.simplify_coverage(dirty, 0.6)
    eq = algos.geom_equals(simp, clean)
    assert bool(np.all(eq)), (seed, cells, sub,
                              [k for k in range(len(eq)) if not eq[k]])
    # coverage identity preserved exactly on unit squares
    assert float(np.sum(algos.area(simp))) == float(len(cells))
    assert float(algos.area(algos.union_all(simp))[0]) == float(len(cells))


# ---------------------------------------------------------------------------
# segmentize + set_precision at web-mercator magnitudes (VERDICT r8 #5):
# coordinates near 2e7 are where absolute-epsilon kernels break. Exact
# oracles: inserted vertices must lie ON their source segment (naive
# point-segment distance, relative tolerance), length is conserved,
# every sub-segment obeys the max length, endpoints are bit-exact;
# set_precision with a binary-representable grid lands every coordinate
# EXACTLY on the grid and is bit-exact idempotent — including composed
# after segmentize.
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_segmentize_set_precision_web_mercator(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 7))
    OX, OY = 2.0e7, -8.0e6            # web-mercator-scale offsets
    pts = [(OX + float(rng.integers(0, 50)) + float(rng.random()),
            OY + float(rng.integers(0, 50)) + float(rng.random()))
           for _ in range(n)]
    # drop consecutive duplicates
    pts = [p for k, p in enumerate(pts) if k == 0 or p != pts[k - 1]]
    if len(pts) < 2:
        return
    ws = "LINESTRING (" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + ")"
    ga = wkt.parse_array(np.array([ws], dtype=object))
    m = float(rng.choice([0.7, 1.3, 5.0]))
    seg = algos.segmentize(ga, m)
    co = [tuple(map(float, v)) for v in seg.coords]
    # endpoints bit-exact
    assert co[0] == pts[0] and co[-1] == pts[-1], seed
    # vertices on the original segments (relative tolerance ~ulp·|coord|)
    tol = 3e-8                        # 2e7 · ~1e-15 ≈ 2e-8
    for p in co:
        assert _line_dist(p, pts) <= tol, (seed, p)
    # length conserved, sub-segments bounded
    def L(ps):
        return sum(((ps[k+1][0]-ps[k][0])**2 +
                    (ps[k+1][1]-ps[k][1])**2) ** 0.5
                   for k in range(len(ps)-1))
    assert abs(L(co) - L(pts)) <= tol * len(co), seed
    for k in range(len(co) - 1):
        sl = ((co[k+1][0]-co[k][0])**2 + (co[k+1][1]-co[k][1])**2) ** 0.5
        assert sl <= m * (1 + 1e-12) + tol, (seed, sl, m)

    # set_precision on a binary grid: exact snap + bit-exact idempotence
    grid = float(rng.choice([0.25, 0.5, 2.0]))
    for src in (ga, seg):
        snapped = algos.set_precision(src, grid)
        cs = snapped.coords
        assert np.all(cs == np.round(cs / grid) * grid), (seed, grid)
        again = algos.set_precision(snapped, grid)
        assert np.array_equal(again.coords, cs), seed
        assert wkb.encode(again)[0] == wkb.encode(snapped)[0], seed


# ---------------------------------------------------------------------------
# hausdorff / frechet vs independent exact oracles (r9 fuzz program):
# the kernels are vertex-discrete by contract (GEOS parity), so both are
# EXACTLY recomputable in-test — Hausdorff as the symmetric max of
# vertex-to-polyline distances (the naive _seg_dist kernel above),
# Fréchet as the textbook coupling DP on the vertex sequences. Runs at
# the origin and at web-mercator offsets (magnitude robustness).
# ---------------------------------------------------------------------------


def _hausdorff_oracle(P, Q):
    one = max(_line_dist(p, Q) for p in P)
    two = max(_line_dist(q, P) for q in Q)
    return max(one, two)


def _frechet_oracle(P, Q):
    import math
    n, m = len(P), len(Q)
    d = [[math.sqrt((p[0] - q[0])**2 + (p[1] - q[1])**2) for q in Q]
         for p in P]
    dp = [[0.0] * m for _ in range(n)]
    dp[0][0] = d[0][0]
    for i in range(1, n):
        dp[i][0] = max(dp[i - 1][0], d[i][0])
    for j in range(1, m):
        dp[0][j] = max(dp[0][j - 1], d[0][j])
    for i in range(1, n):
        for j in range(1, m):
            dp[i][j] = max(min(dp[i - 1][j], dp[i][j - 1],
                               dp[i - 1][j - 1]), d[i][j])
    return dp[n - 1][m - 1]


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_hausdorff_frechet_exact_oracles(seed):
    rng = np.random.default_rng(seed)
    ox, oy = (0.0, 0.0) if seed % 2 == 0 else (2.0e7, -8.0e6)
    scale = 1.0 if seed % 2 == 0 else 3.0

    def chain(n):
        pts, cur = [], (float(rng.integers(0, 20)),
                        float(rng.integers(0, 20)))
        pts.append(cur)
        for _ in range(n - 1):
            cur = (cur[0] + float(rng.integers(-4, 5)),
                   cur[1] + float(rng.integers(-4, 5)))
            if cur != pts[-1]:
                pts.append(cur)
        return [(ox + x * scale, oy + y * scale) for x, y in pts]

    A = chain(int(rng.integers(2, 8)))
    B = chain(int(rng.integers(2, 8)))
    if len(A) < 2 or len(B) < 2:
        return
    wa = "LINESTRING (" + ", ".join(f"{x!r} {y!r}" for x, y in A) + ")"
    wb = "LINESTRING (" + ", ".join(f"{x!r} {y!r}" for x, y in B) + ")"
    ga = wkt.parse_array(np.array([wa], dtype=object))
    gb = wkt.parse_array(np.array([wb], dtype=object))

    tol = 1e-9 * max(1.0, abs(ox), abs(oy))
    hd = float(algos.hausdorff_distance(ga, gb)[0])
    assert abs(hd - _hausdorff_oracle(A, B)) <= tol, (seed, hd)
    fd = float(algos.frechet_distance(ga, gb)[0])
    assert abs(fd - _frechet_oracle(A, B)) <= tol, (seed, fd)
    # densify can only tighten (grow) the discrete Hausdorff bound, and
    # Fréchet with finer chains stays >= the Hausdorff distance
    hdd = float(algos.hausdorff_distance(ga, gb, densify=0.25)[0])
    assert hdd >= hd - tol, seed
    fdd = float(algos.frechet_distance(ga, gb, densify=0.25)[0])
    assert fdd >= hdd - tol, seed


# ---------------------------------------------------------------------------
# concave_hull structural fuzz (r9): on random integer point sets the
# chi-shape peel must (a) equal the convex hull exactly at ratio=1
# (shoelace vs the independent monotone chain), (b) cover every input
# point at every ratio, (c) shrink monotonically in area as the ratio
# drops, never below a simple-polygon floor, and (d) stay valid.
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_concave_hull_structural(seed):
    rng = np.random.default_rng(seed)
    pts = np.unique(rng.integers(0, 12, size=(int(rng.integers(4, 20)), 2)),
                    axis=0)
    sites = [(int(x), int(y)) for x, y in pts]
    hull, _nb = _mono_hull(sites)
    if len(hull) <= 2:
        return                          # collinear: hull degenerate
    ws = "MULTIPOINT (" + ", ".join(f"{x} {y}" for x, y in sites) + ")"
    ga = wkt.parse_array(np.array([ws], dtype=object))

    ch1 = algos.concave_hull(ga, ratio=1.0)
    assert algos.area(ch1)[0] * 2 == _shoelace2(hull), (seed, sites)

    prev = None
    for ratio in (1.0, 0.6, 0.3, 0.0):
        ch = algos.concave_hull(ga, ratio=ratio)
        assert bool(algos.is_valid(ch)[0]), (seed, ratio)
        # covers every input point
        cov = algos.covers(np.repeat(ch, len(sites)) if False else ch,
                           ga)  # multipoint operand: all points covered
        assert bool(cov[0]), (seed, ratio)
        a = float(algos.area(ch)[0])
        if prev is not None:
            assert a <= prev + 1e-9, (seed, ratio, a, prev)
        prev = a


# ---------------------------------------------------------------------------
# cross-kernel consistency fuzz (r9, second batch): two pairs of
# independent implementations must agree exactly on integer-grid inputs —
#   clip_by_rect (Sutherland–Hodgman) vs intersection-with-box
#   (Martinez–Rueda boolean kernel): same area, covered both ways;
#   subdivide: the pieces form an edge-matched coverage whose union and
#   total area equal the input exactly.
# ---------------------------------------------------------------------------


def _rand_star(rng, cx, cy, n, rmax):
    """Random star-shaped simple polygon around (cx, cy) with integer
    vertices (angles sorted — no self-intersection)."""
    angs = np.sort(rng.uniform(0, 2 * np.pi, n))
    pts = []
    for a in angs:
        r = rng.integers(1, rmax + 1)
        p = (int(round(cx + r * np.cos(a))), int(round(cy + r * np.sin(a))))
        if not pts or p != pts[-1]:
            pts.append(p)
    # integer rounding can land two angle samples on the SAME point —
    # a ring revisiting a vertex is a figure-eight (invalid; its
    # shoelace diverges from its point set), not a test subject
    if len(pts) < 3 or len(set(pts)) != len(pts):
        return None
    pts.append(pts[0])
    return pts


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_clip_by_rect_vs_boolean_intersection(seed):
    rng = np.random.default_rng(seed)
    ring = _rand_star(rng, 10, 10, int(rng.integers(4, 12)), 9)
    if ring is None:
        return
    w = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
    ga = wkt.parse_array(np.array([w], dtype=object))
    if not bool(algos.is_valid(ga)[0]):
        return                          # rounding can collapse a spike
    x0, y0 = int(rng.integers(0, 14)), int(rng.integers(0, 14))
    x1, y1 = x0 + int(rng.integers(2, 10)), y0 + int(rng.integers(2, 10))
    clipped = algos.clip_by_rect(ga, x0, y0, x1, y1)
    box = boxes_from_bounds([x0], [y0], [x1], [y1])
    inter = algos.intersection(ga, box)
    a_clip = float(algos.area(clipped)[0])
    a_int = float(algos.area(inter)[0])
    # crossings at rational coordinates round differently between the
    # two kernels (different expression order) — identity holds to ulps
    assert abs(a_clip - a_int) <= 1e-11 * max(a_int, 1.0), (seed, a_clip,
                                                            a_int)
    if a_int > 0:
        sd = float(algos.area(algos.symmetric_difference(clipped,
                                                         inter))[0])
        assert sd <= 1e-9, (seed, sd)


@settings(max_examples=30, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_subdivide_union_identity(seed):
    rng = np.random.default_rng(seed)
    ring = _rand_star(rng, 20, 20, int(rng.integers(8, 24)), 18)
    if ring is None:
        return
    w = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
    ga = wkt.parse_array(np.array([w], dtype=object))
    if not bool(algos.is_valid(ga)[0]):
        return
    parts, parent = algos.subdivide(ga, max_vertices=10)
    assert set(parent) <= {0}
    # pieces partition the input: exact area sum and exact re-union
    a0 = float(algos.area(ga)[0])
    assert abs(float(np.sum(algos.area(parts))) - a0) < 1e-9 * max(a0, 1.0)
    reun = algos.union_all(parts)
    assert abs(float(algos.area(reun)[0]) - a0) < 1e-9 * max(a0, 1.0)
    # the reunion's cut vertices are float-rounded, so covers() is
    # (correctly) strict about ulp offsets; the geometric identity is
    # zero symmetric difference
    sd = float(algos.area(algos.symmetric_difference(reun, ga))[0])
    assert sd <= 1e-9 * max(a0, 1.0), (seed, sd)
    # every piece within the vertex budget — up to subdivide's documented
    # non-shedding escape hatch (a split whose halves shed no vertex is
    # emitted as-is rather than looping forever), so allow a small
    # multiple of the budget rather than budget+closure exactly
    for k in range(len(parts)):
        co = parts.geom_slices(k)
        nv = sum(len(r) for p in co for r in p)
        assert nv <= 3 * 10, (seed, k, nv)


# ---------------------------------------------------------------------------
# boundary Mod-2 rule + linear-referencing inverse fuzz (r9, third batch)
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_multiline_boundary_mod2_oracle(seed):
    """OGC Mod-2 rule, recomputed independently: a MultiLineString's
    boundary is the set of endpoints occurring an ODD number of times
    across parts (interior vertices never count)."""
    rng = np.random.default_rng(seed)
    nodes = [(int(x), int(y)) for x, y in rng.integers(0, 6, size=(8, 2))]
    lines = []
    for _ in range(int(rng.integers(2, 7))):
        a, bq = rng.integers(0, len(nodes), size=2)
        if nodes[a] != nodes[bq]:
            lines.append((nodes[a], nodes[bq]))
    if not lines:
        return
    w = "MULTILINESTRING (" + ", ".join(
        f"({a[0]} {a[1]}, {b[0]} {b[1]})" for a, b in lines) + ")"
    ga = wkt.parse_array(np.array([w], dtype=object))
    bd = algos.boundary(ga)
    # independent endpoint-degree count
    deg = {}
    for a, bq in lines:
        deg[a] = deg.get(a, 0) + 1
        deg[bq] = deg.get(bq, 0) + 1
    want = {p for p, d in deg.items() if d % 2 == 1}
    got = set()
    if not bd.is_empty()[0]:
        got = {(int(round(v[0])), int(round(v[1]))) for v in bd.coords}
    assert got == want, (seed, sorted(got), sorted(want))


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_project_interpolate_inverse(seed):
    """Linear referencing round trip at web-mercator magnitudes:
    interpolate(project(p)) is the closest point on the line to p, so
    re-projecting it must return the same measure (exact fixpoint), and
    for points ON the line the round trip reproduces the point itself
    within magnitude-relative ulps."""
    rng = np.random.default_rng(seed)
    ox, oy = (0.0, 0.0) if seed % 2 == 0 else (2.0e7, -8.0e6)
    pts = []
    cur = (0.0, 0.0)
    for _ in range(int(rng.integers(2, 7))):
        cur = (cur[0] + float(rng.integers(1, 5)),
               cur[1] + float(rng.integers(-3, 4)))
        pts.append((ox + cur[0], oy + cur[1]))
    if len(pts) < 2:
        return
    w = "LINESTRING (" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + ")"
    line = wkt.parse_array(np.array([w], dtype=object))
    tol = 1e-8 * max(1.0, abs(ox), abs(oy))
    L = float(algos.length(line)[0])
    # probes: points on the line (interpolated) and off-line points
    for frac in (0.0, 0.17, 0.5, 0.83, 1.0):
        d = frac * L
        q = algos.interpolate(line, d)
        m = float(algos.project(line.take([0]), q)[0])
        assert abs(m - d) <= tol + 1e-12 * L, (seed, frac, m, d)
    for _ in range(5):
        p = wkt.parse_array(np.array([
            f"POINT ({ox + float(rng.uniform(0, 20))!r} "
            f"{oy + float(rng.uniform(-6, 6))!r})"], dtype=object))
        m = float(algos.project(line, p)[0])
        assert -tol <= m <= L + tol, (seed, m, L)
        foot = algos.interpolate(line, m)
        m2 = float(algos.project(line, foot)[0])
        assert abs(m2 - m) <= tol + 1e-12 * L, (seed, m, m2)
        # the foot is genuinely the nearest line point (naive oracle)
        fx, fy = float(foot.coords[0][0]), float(foot.coords[0][1])
        px, py = float(p.coords[0][0]), float(p.coords[0][1])
        dmin = _line_dist((px, py), pts)
        dfoot = ((px - fx) ** 2 + (py - fy) ** 2) ** 0.5
        assert dfoot <= dmin + tol, (seed, dfoot, dmin)


# ---------------------------------------------------------------------------
# centroid exact-rational oracle + minimum_rotated_rectangle structure
# (r9, fourth batch). Polygon centroid on integer rings is an exact
# rational: C = (1/6A)·Σ (p_i + p_{i+1})·cross(p_i, p_{i+1}); line
# centroid is the length-weighted midpoint average; point centroid the
# mean. The MRR must cover the convex hull, touch it (equal area only
# for box-aligned inputs), and have area between the hull's and its
# axis-aligned bbox's.
# ---------------------------------------------------------------------------


def _poly_centroid_exact(ring):
    from fractions import Fraction as Fr
    A2 = Fr(0)
    sx = Fr(0)
    sy = Fr(0)
    for k in range(len(ring) - 1):
        x0, y0 = ring[k]
        x1, y1 = ring[k + 1]
        c = Fr(x0) * Fr(y1) - Fr(x1) * Fr(y0)
        A2 += c
        sx += (Fr(x0) + Fr(x1)) * c
        sy += (Fr(y0) + Fr(y1)) * c
    return float(sx / (3 * A2)), float(sy / (3 * A2))


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_centroid_exact_oracles(seed):
    import math
    rng = np.random.default_rng(seed)
    # polygon
    ring = _rand_star(rng, 30, 30, int(rng.integers(4, 14)), 20)
    if ring is not None:
        w = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
        ga = wkt.parse_array(np.array([w], dtype=object))
        if bool(algos.is_valid(ga)[0]):
            cx, cy = _poly_centroid_exact(ring)
            c = algos.centroid(ga)
            assert abs(float(c.coords[0][0]) - cx) < 1e-9, (seed, cx)
            assert abs(float(c.coords[0][1]) - cy) < 1e-9, (seed, cy)
    # polyline: length-weighted midpoint average
    pts = [(int(x), int(y)) for x, y in rng.integers(0, 20, size=(5, 2))]
    pts = [p for k, p in enumerate(pts) if k == 0 or p != pts[k - 1]]
    if len(pts) >= 2:
        w = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in pts) + ")"
        gl = wkt.parse_array(np.array([w], dtype=object))
        tot = wx = wy = 0.0
        for k in range(len(pts) - 1):
            L = math.dist(pts[k], pts[k + 1])
            tot += L
            wx += L * (pts[k][0] + pts[k + 1][0]) / 2.0
            wy += L * (pts[k][1] + pts[k + 1][1]) / 2.0
        if tot > 0:
            c = algos.centroid(gl)
            assert abs(float(c.coords[0][0]) - wx / tot) < 1e-9, seed
            assert abs(float(c.coords[0][1]) - wy / tot) < 1e-9, seed
    # multipoint: mean of distinct points? (GEOS: mean of ALL points)
    mp = [(int(x), int(y)) for x, y in rng.integers(0, 9, size=(6, 2))]
    w = "MULTIPOINT (" + ", ".join(f"{x} {y}" for x, y in mp) + ")"
    gp = wkt.parse_array(np.array([w], dtype=object))
    c = algos.centroid(gp)
    assert abs(float(c.coords[0][0]) - np.mean([p[0] for p in mp])) < 1e-9
    assert abs(float(c.coords[0][1]) - np.mean([p[1] for p in mp])) < 1e-9


@settings(max_examples=30, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_minimum_rotated_rectangle_structure(seed):
    rng = np.random.default_rng(seed)
    pts = np.unique(rng.integers(0, 15, size=(int(rng.integers(4, 14)), 2)),
                    axis=0)
    sites = [(int(x), int(y)) for x, y in pts]
    hull, _nb = _mono_hull(sites)
    if len(hull) <= 2:
        return
    ws = "MULTIPOINT (" + ", ".join(f"{x} {y}" for x, y in sites) + ")"
    ga = wkt.parse_array(np.array([ws], dtype=object))
    mrr = algos.minimum_rotated_rectangle(ga)
    hull_area2 = _shoelace2(hull)
    a = float(algos.area(mrr)[0])
    bb = algos.bounds(ga)[0]
    bbox_area = (bb[2] - bb[0]) * (bb[3] - bb[1])
    # hull ≤ MRR ≤ axis-aligned bbox (the bbox is one admissible rect)
    assert hull_area2 / 2 <= a * (1 + 1e-9), (seed, a, hull_area2 / 2)
    assert a <= bbox_area * (1 + 1e-9), (seed, a, bbox_area)
    # rectangle covers every site
    assert bool(algos.covers(mrr, ga)[0]), seed
    # rotating-calipers optimality: the MRR is no larger than any
    # hull-edge-aligned rectangle (computed independently)
    import math
    best = np.inf
    H = np.array(hull, dtype=np.float64)
    for k in range(len(hull)):
        e = H[(k + 1) % len(hull)] - H[k]
        L = math.hypot(*e)
        if L == 0:
            continue
        u = e / L
        v = np.array([-u[1], u[0]])
        pu = H @ u
        pv = H @ v
        best = min(best, (pu.max() - pu.min()) * (pv.max() - pv.min()))
    assert a <= best * (1 + 1e-9), (seed, a, best)
    # classic result: some hull-edge-aligned rect IS optimal
    assert a >= best * (1 - 1e-9), (seed, a, best)


# ---------------------------------------------------------------------------
# line_merge vs an independent degree-graph oracle (r9, fifth batch):
# GEOS LineMerger joins parts only through degree-2 nodes. From a random
# integer segment soup the oracle computes, with no engine code:
#   - the multiset of undirected segments is PRESERVED exactly;
#   - every output chain's interior nodes have degree exactly 2 in the
#     input graph, and chain endpoints have degree != 2 (or the chain is
#     a closed ring of an all-degree-2 component);
#   - the number of output chains equals the graph-derived count.
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_line_merge_degree_graph_oracle(seed):
    rng = np.random.default_rng(seed)
    nodes = [(int(x), int(y)) for x, y in rng.integers(0, 5, size=(7, 2))]
    segs = set()
    for _ in range(int(rng.integers(2, 9))):
        a, bq = rng.integers(0, len(nodes), size=2)
        u, v = nodes[a], nodes[bq]
        if u != v:
            segs.add((min(u, v), max(u, v)))
    if not segs:
        return
    w = "MULTILINESTRING (" + ", ".join(
        f"({a[0]} {a[1]}, {b[0]} {b[1]})" for a, b in segs) + ")"
    ga = wkt.parse_array(np.array([w], dtype=object))
    merged = algos.line_merge(ga)

    # input graph degrees
    deg = {}
    adj = {}
    for a, bq in segs:
        deg[a] = deg.get(a, 0) + 1
        deg[bq] = deg.get(bq, 0) + 1
        adj.setdefault(a, set()).add(bq)
        adj.setdefault(bq, set()).add(a)

    # engine output chains
    out_segs = []
    chains = []
    ro = merged.ring_offsets
    co = np.rint(merged.coords).astype(np.int64)
    assert np.abs(merged.coords - co).max(initial=0.0) < 1e-9
    for r in range(len(ro) - 1):
        chain = [tuple(map(int, co[k])) for k in range(ro[r], ro[r + 1])]
        chains.append(chain)
        for k in range(len(chain) - 1):
            u, v = chain[k], chain[k + 1]
            out_segs.append((min(u, v), max(u, v)))
    # segment multiset preserved (input had no duplicates by set())
    assert sorted(out_segs) == sorted(segs), (seed, chains)
    for chain in chains:
        closed = chain[0] == chain[-1]
        for p in chain[1:-1]:
            assert deg[p] == 2, (seed, chain, p)
        if not closed:
            assert deg[chain[0]] != 2 and deg[chain[-1]] != 2, (seed, chain)
        # closed chains may end at a junction (a lollipop loop closes AT
        # the junction without merging THROUGH it) or be a pure ring of
        # an all-degree-2 cycle — both are legal LineMerger outputs

    # endpoint-slot count: a node of degree d != 2 offers d chain-end
    # slots (degree-2 nodes merge through). Every chain consumes 2
    # slots except a pure ring (closed with a degree-2 endpoint), which
    # consumes 0.
    slots = sum(d if d != 2 else 0 for d in deg.values())
    consuming = sum(1 for c in chains
                    if not (c[0] == c[-1] and deg[c[0]] == 2))
    assert consuming * 2 == slots, (seed, consuming, slots, chains)


# ---------------------------------------------------------------------------
# sample_points containment (independent ray-cast PIP) and snap
# idempotence/identity (r9, sixth batch)
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_sample_points_containment_independent_pip(seed):
    rng = np.random.default_rng(seed)
    ring = _rand_star(rng, 15, 15, int(rng.integers(4, 12)), 10)
    if ring is None:
        return
    w = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
    ga = wkt.parse_array(np.array([w], dtype=object))
    if not bool(algos.is_valid(ga)[0]):
        return
    n = int(rng.integers(3, 30))
    pts = algos.sample_points(ga, n, seed=seed)
    assert len(pts.coords) == n, (seed, len(pts.coords))
    rl = [tuple(map(float, v)) for v in ring]
    for v in pts.coords:
        r = _pip((float(v[0]), float(v[1])), rl)
        assert r is not False, (seed, tuple(v))   # inside or boundary-eps
    # determinism across calls
    again = algos.sample_points(ga, n, seed=seed)
    assert np.array_equal(pts.coords, again.coords), seed


@settings(max_examples=30, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_snap_identity_and_idempotence(seed):
    rng = np.random.default_rng(seed)
    pts = [(int(x), int(y)) for x, y in rng.integers(0, 12, size=(5, 2))]
    pts = [p for k, p in enumerate(pts) if k == 0 or p != pts[k - 1]]
    if len(pts) < 2:
        return
    wa = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in pts) + ")"
    ga = wkt.parse_array(np.array([wa], dtype=object))
    tgt = [(int(x) + 0.25, int(y) - 0.25)
           for x, y in rng.integers(0, 12, size=(4, 2))]
    wb = "MULTIPOINT (" + ", ".join(f"{x!r} {y!r}" for x, y in tgt) + ")"
    gb = wkt.parse_array(np.array([wb], dtype=object))
    # tol=0: identity, bit-exact
    s0 = algos.snap(ga, gb, 0.0)
    assert wkb.encode(s0)[0] == wkb.encode(ga)[0], seed
    # snapping twice with the same target/tol changes nothing
    tol = float(rng.choice([0.3, 0.6, 1.0]))
    s1 = algos.snap(ga, gb, tol)
    s2 = algos.snap(s1, gb, tol)
    assert wkb.encode(s2)[0] == wkb.encode(s1)[0], (seed, tol)
    # every output vertex is an input vertex or a target point
    allowed = {tuple(map(float, p)) for p in pts} | set(tgt)
    for v in s1.coords:
        p = (float(v[0]), float(v[1]))
        assert p in allowed or min(
            (p[0]-q[0])**2 + (p[1]-q[1])**2 for q in allowed) < 1e-18, \
            (seed, p)


# ---------------------------------------------------------------------------
# shared_paths vs a unit-edge direction oracle (r9, final batch): on
# axis-aligned integer polylines every shared portion decomposes into
# DIRECTED unit edges, so both direction classes are exactly
# recomputable — same_direction = directed unit edges of A also
# traversed by B in the same direction, opposite_direction likewise
# reversed.
# ---------------------------------------------------------------------------


def _axis_chain(rng, n, G):
    cur = (int(rng.integers(0, G)), int(rng.integers(0, G)))
    pts = [cur]
    for _ in range(n):
        dx, dy = rng.choice([(1, 0), (-1, 0), (0, 1), (0, -1)])
        ln = int(rng.integers(1, 4))
        cur = (min(max(cur[0] + dx * ln, 0), G),
               min(max(cur[1] + dy * ln, 0), G))
        if cur != pts[-1]:
            pts.append(cur)
    return pts if len(pts) >= 2 else None


def _directed_units(pts):
    out = []
    for k in range(len(pts) - 1):
        (x, y), (x2, y2) = pts[k], pts[k + 1]
        sx = 0 if x == x2 else (1 if x2 > x else -1)
        sy = 0 if y == y2 else (1 if y2 > y else -1)
        cx, cy = x, y
        while (cx, cy) != (x2, y2):
            out.append(((cx, cy), (cx + sx, cy + sy)))
            cx, cy = cx + sx, cy + sy
    return out


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_shared_paths_unit_edge_oracle(seed):
    rng = np.random.default_rng(seed)
    A = _axis_chain(rng, int(rng.integers(3, 10)), 6)
    B = _axis_chain(rng, int(rng.integers(3, 10)), 6)
    if A is None or B is None:
        return
    wa = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in A) + ")"
    wb = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in B) + ")"
    ga = wkt.parse_array(np.array([wa], dtype=object))
    gb = wkt.parse_array(np.array([wb], dtype=object))
    same, opp = algos.shared_paths(ga, gb)

    ua = _directed_units(A)
    ub = set(_directed_units(B))
    # classify each undirected shared edge; edges either input traverses
    # in BOTH directions are direction-ambiguous (either class is a
    # defensible GEOS answer) — bound the engine's classes instead
    same_only, opp_only, both = set(), set(), set()
    for e in ua:
        fwd = e in ub
        rev = (e[1], e[0]) in ub
        k = (min(e), max(e))
        if fwd and rev:
            both.add(k)
        elif fwd:
            same_only.add(k)
        elif rev:
            opp_only.add(k)
    amb = same_only & opp_only
    both |= amb
    same_only -= amb
    opp_only -= amb
    got_same = _ga_unit_edges(same) if not same.is_empty()[0] else set()
    got_opp = _ga_unit_edges(opp) if not opp.is_empty()[0] else set()
    assert same_only <= got_same <= same_only | both, (
        seed, sorted(got_same), sorted(same_only), sorted(both))
    assert opp_only <= got_opp <= opp_only | both, (
        seed, sorted(got_opp), sorted(opp_only), sorted(both))
    assert got_same | got_opp == same_only | opp_only | both, (
        seed, sorted(got_same | got_opp))


@settings(max_examples=30, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_representative_point_containment(seed):
    """representative_point must lie INSIDE the polygon (reference
    base.py guarantees interior, unlike centroid) — checked with the
    independent ray-cast PIP, plus determinism."""
    rng = np.random.default_rng(seed)
    ring = _rand_star(rng, 15, 15, int(rng.integers(4, 14)), 10)
    if ring is None:
        return
    w = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
    ga = wkt.parse_array(np.array([w], dtype=object))
    if not bool(algos.is_valid(ga)[0]):
        return
    rp = algos.representative_point(ga)
    p = (float(rp.coords[0][0]), float(rp.coords[0][1]))
    rl = [tuple(map(float, v)) for v in ring]
    assert _pip(p, rl) is not False, (seed, p)
    again = algos.representative_point(ga)
    assert np.array_equal(rp.coords, again.coords), seed


# ---------------------------------------------------------------------------
# negative buffer (erosion) of CONVEX polygons vs an independent
# half-plane-intersection oracle (r9, last batch): eroding a convex
# polygon by d is exactly the intersection of its edges' inward-offset
# half-planes — no arcs involved — computable with a tiny standalone
# convex clipper.
# ---------------------------------------------------------------------------


def _clip_halfplane(poly, a, b, c):
    """Clip convex polygon (list of (x, y), open) to a*x + b*y <= c."""
    out = []
    n = len(poly)
    for i in range(n):
        p, q = poly[i], poly[(i + 1) % n]
        fp = a * p[0] + b * p[1] - c
        fq = a * q[0] + b * q[1] - c
        if fp <= 0:
            out.append(p)
        if (fp < 0 < fq) or (fq < 0 < fp):
            t = fp / (fp - fq)
            out.append((p[0] + t * (q[0] - p[0]),
                        p[1] + t * (q[1] - p[1])))
    return out


def _area_open(poly):
    s = 0.0
    n = len(poly)
    for i in range(n):
        x0, y0 = poly[i]
        x1, y1 = poly[(i + 1) % n]
        s += x0 * y1 - x1 * y0
    return abs(s) / 2


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_negative_buffer_convex_erosion_oracle(seed):
    rng = np.random.default_rng(seed)
    pts = np.unique(rng.integers(0, 20, size=(int(rng.integers(4, 12)), 2)),
                    axis=0)
    hull, _nb = _mono_hull([(int(x), int(y)) for x, y in pts])
    if len(hull) < 3:
        return
    ring = [tuple(map(float, p)) for p in hull]
    w = "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring)
    w += f", {ring[0][0]!r} {ring[0][1]!r}))"
    ga = wkt.parse_array(np.array([w], dtype=object))
    d = float(rng.choice([0.25, 0.5, 1.0]))

    # oracle: intersect inward-offset half-planes (hull is CCW)
    poly = ring
    import math
    for i in range(len(ring)):
        p, q = ring[i], ring[(i + 1) % len(ring)]
        ex, ey = q[0] - p[0], q[1] - p[1]
        L = math.hypot(ex, ey)
        # outward normal of a CCW edge is (ey, -ex)/L; inward shift by d:
        # constraint (ey, -ex)·x <= (ey, -ex)·p - d*L
        a, bq = ey / L, -ex / L
        c = a * p[0] + bq * p[1] - d
        poly = _clip_halfplane(poly, a, bq, c)
        if len(poly) < 3:
            poly = []
            break
    want = _area_open(poly) if poly else 0.0

    er = algos.buffer(ga, -d)
    got = float(algos.area(er)[0]) if not er.is_empty()[0] else 0.0
    # the erosion runs A − (∂A ⊕ D) with polygonized round arcs whose
    # chords sag INSIDE the true disc by the sagitta d·(1−cos(θ/2)),
    # θ = (π/2)/quad_segs — so the engine's erosion is one-sided: at
    # least the exact one, and larger by at most perimeter·sagitta
    P = sum(math.hypot(ring[(i + 1) % len(ring)][0] - ring[i][0],
                       ring[(i + 1) % len(ring)][1] - ring[i][1])
            for i in range(len(ring)))
    sag = d * (1.0 - math.cos((math.pi / 2) / 16 / 2))
    assert got >= want - 1e-9, (seed, got, want, d)
    assert got - want <= P * sag + 1e-9, (seed, got, want, d, P * sag)


@settings(max_examples=40, deadline=None)
@given(st_.integers(min_value=0, max_value=100000))
def test_make_valid_output_is_valid(seed):
    """make_valid(linework) output must itself pass the (r9-hardened)
    validity check — spikes stripped, pinched shells split into lobes,
    holes re-homed (GEOS MakeValid emits simple rings)."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(4, 10))
    pts = [(int(x), int(y)) for x, y in rng.integers(0, 10, size=(n, 2))]
    pts = [p for k, p in enumerate(pts) if k == 0 or p != pts[k - 1]]
    if len(pts) < 3:
        return
    w = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in pts) + \
        f", {pts[0][0]} {pts[0][1]}))"
    try:
        ga = wkt.parse_array(np.array([w], dtype=object))
    except Exception:
        return
    if bool(algos.is_valid(ga)[0]):
        mv = algos.make_valid(ga)
        assert wkb.encode(mv)[0] == wkb.encode(ga)[0], seed  # pass-through
        return
    mv = algos.make_valid(ga)
    assert bool(algos.is_valid(mv)[0]), (
        seed, algos.is_valid_reason(mv)[0])
    # idempotence: a valid result passes through unchanged
    mv2 = algos.make_valid(mv)
    assert wkb.encode(mv2)[0] == wkb.encode(mv)[0], seed


# ---------------------------------------------------------------------------
# r10 exact-oracle suites (VERDICT r9 #6)
# ---------------------------------------------------------------------------

def _box_de9im_oracle(a, b):
    """EXACT DE-9IM for two axis-aligned boxes (x0, y0, x1, y1) by pure
    interval case analysis — an independent oracle for relate().
    Dimension codes per GEOS: F, 0, 1, 2."""
    ax0, ay0, ax1, ay1 = a
    bx0, by0, bx1, by1 = b

    def _ivl(lo1, hi1, lo2, hi2):
        """Overlap length class of [lo1,hi1] ∩ [lo2,hi2]: -1 empty,
        0 point, 1 positive length."""
        lo, hi = max(lo1, lo2), min(hi1, hi2)
        if lo > hi:
            return -1
        return 0 if lo == hi else 1

    ox = _ivl(ax0, ax1, bx0, bx1)
    oy = _ivl(ay0, ay1, by0, by1)

    # interior/interior: positive overlap on both axes
    ii = "2" if (ox == 1 and oy == 1 and
                 max(ax0, bx0) < min(ax1, bx1) and
                 max(ay0, by0) < min(ay1, by1)) else "F"

    def _contains(outer, inner):        # closed containment
        return (outer[0] <= inner[0] and inner[2] <= outer[2] and
                outer[1] <= inner[1] and inner[3] <= outer[3])

    def _strict_contains(outer, inner):
        return (outer[0] < inner[0] and inner[2] < outer[2] and
                outer[1] < inner[1] and inner[3] < outer[3])

    # boundary of a box = its 4 edges (dimension 1)
    def _edges(r):
        x0, y0, x1, y1 = r
        return [((x0, y0), (x1, y0)), ((x1, y0), (x1, y1)),
                ((x1, y1), (x0, y1)), ((x0, y1), (x0, y0))]

    def _seg_in_interior_len(seg, r):
        """Does segment (axis-parallel) run with positive length through
        r's OPEN interior / touch it at a point?  Returns -1/0/1."""
        (sx0, sy0), (sx1, sy1) = seg
        lo_x, hi_x = min(sx0, sx1), max(sx0, sx1)
        lo_y, hi_y = min(sy0, sy1), max(sy0, sy1)
        # clip to open box: positive-length iff clipped interval has
        # positive length strictly inside both open ranges
        cx0, cx1 = max(lo_x, r[0]), min(hi_x, r[2])
        cy0, cy1 = max(lo_y, r[1]), min(hi_y, r[3])
        if cx0 > cx1 or cy0 > cy1:
            return -1
        if sy0 == sy1:      # horizontal
            if not (r[1] < sy0 < r[3]):
                return -1
            return 1 if cx0 < cx1 else (0 if r[0] < cx0 < r[2] else -1)
        else:               # vertical
            if not (r[0] < sx0 < r[2]):
                return -1
            return 1 if cy0 < cy1 else (0 if r[1] < cy0 < r[3] else -1)

    def _dim_max(vals):
        d = max(vals)
        return "F" if d < 0 else str(d)

    # interior(a) ∩ boundary(b): any b edge passing through a's interior
    ib = _dim_max([_seg_in_interior_len(e, a) for e in _edges(b)])
    bi = _dim_max([_seg_in_interior_len(e, b) for e in _edges(a)])

    # interior(a) ∩ exterior(b): a's interior not fully inside closed b
    ie = "2" if not _contains(b, a) else "F"
    ei = "2" if not _contains(a, b) else "F"

    # boundary(a) ∩ boundary(b): overlap of the edge sets
    bb = -1
    for ea in _edges(a):
        for eb in _edges(b):
            (p0, p1), (q0, q1) = ea, eb
            a_h = p0[1] == p1[1]
            b_h = q0[1] == q1[1]
            if a_h and b_h:
                if p0[1] == q0[1]:
                    o = _ivl(min(p0[0], p1[0]), max(p0[0], p1[0]),
                             min(q0[0], q1[0]), max(q0[0], q1[0]))
                    bb = max(bb, o)
            elif not a_h and not b_h:
                if p0[0] == q0[0]:
                    o = _ivl(min(p0[1], p1[1]), max(p0[1], p1[1]),
                             min(q0[1], q1[1]), max(q0[1], q1[1]))
                    bb = max(bb, o)
            else:
                h, v = (ea, eb) if a_h else (eb, ea)
                hy = h[0][1]
                vx = v[0][0]
                if (min(h[0][0], h[1][0]) <= vx <= max(h[0][0], h[1][0])
                        and min(v[0][1], v[1][1]) <= hy
                        <= max(v[0][1], v[1][1])):
                    bb = max(bb, 0)
    bb = "F" if bb < 0 else str(bb)

    # boundary(a) ∩ exterior(b): any part of a's edges outside closed b
    def _edges_outside(r_edges, other):
        for (p0, p1) in r_edges:
            lo_x, hi_x = min(p0[0], p1[0]), max(p0[0], p1[0])
            lo_y, hi_y = min(p0[1], p1[1]), max(p0[1], p1[1])
            # clip segment to closed other; if clipped length < full
            # length, some part lies outside
            cx0, cx1 = max(lo_x, other[0]), min(hi_x, other[2])
            cy0, cy1 = max(lo_y, other[1]), min(hi_y, other[3])
            inside_len = (max(cx1 - cx0, 0.0) if p0[1] == p1[1]
                          else max(cy1 - cy0, 0.0))
            full_len = (hi_x - lo_x) if p0[1] == p1[1] else (hi_y - lo_y)
            if (cx0 > cx1 or cy0 > cy1 or
                    not (other[0] <= cx0 and other[1] <= cy0)):
                return True
            if inside_len < full_len:
                return True
        return False

    be = "1" if _edges_outside(_edges(a), b) else "F"
    eb_ = "1" if _edges_outside(_edges(b), a) else "F"

    # exterior/exterior is always 2 for bounded regions
    return ii + ib + ie + bi + bb + be + ei + eb_ + "2"


@settings(max_examples=300, deadline=None)
@given(coords, coords, sizes, sizes, coords, coords, sizes, sizes)
def test_relate_matches_exact_box_oracle(ax, ay, aw, ah, bx, by, bw, bh):
    """relate() vs a pure interval-arithmetic DE-9IM oracle on integer
    boxes — touching, overlapping, nested, disjoint, and equal cases all
    arise from the strategy (VERDICT r9 #6: relate had no independent
    oracle)."""
    a = (float(ax), float(ay), float(ax + aw), float(ay + ah))
    b = (float(bx), float(by), float(bx + bw), float(by + bh))
    ga = _box(*[a[0], a[1], a[2] - a[0], a[3] - a[1]])
    gb = _box(*[b[0], b[1], b[2] - b[0], b[3] - b[1]])
    got = algos.relate(ga, gb)[0]
    want = _box_de9im_oracle(a, b)
    assert got == want, (a, b, got, want)


def _sites_strategy(draw):
    n = draw(st_.integers(4, 9))
    pts = set()
    for _ in range(n):
        ix = draw(st_.integers(0, 100_000))
        iy = draw(st_.integers(0, 100_000))
        pts.add((round(ix / 997.0, 6), round(iy / 1009.0, 6)))
    return sorted(pts)


sites_strategy = st_.composite(_sites_strategy)


def _incircle_ok(pts):
    """Reject near-cocircular quadruples — there the Delaunay diagonal is
    ambiguous and the dual Voronoi boundary degenerates to a point, so
    edge-set equality is not required to hold."""
    import itertools
    P = np.asarray(pts)
    scale = max(P.max() - P.min(), 1.0)
    for q in itertools.combinations(range(len(P)), 4):
        a, b, c, d = P[list(q)]
        m = np.array([
            [a[0] - d[0], a[1] - d[1],
             (a[0] - d[0]) ** 2 + (a[1] - d[1]) ** 2],
            [b[0] - d[0], b[1] - d[1],
             (b[0] - d[0]) ** 2 + (b[1] - d[1]) ** 2],
            [c[0] - d[0], c[1] - d[1],
             (c[0] - d[0]) ** 2 + (c[1] - d[1]) ** 2]])
        if abs(np.linalg.det(m)) < 1e-3 * scale ** 4:
            return False
    return True


@settings(max_examples=60, deadline=None)
@given(sites_strategy())
def test_voronoi_delaunay_duality_referee(pts):
    """The two triangulation-family kernels referee each other (VERDICT
    r9 #6: two independent implementations now exist in-repo). For sites
    in general position:
      - Voronoi cells PARTITION the clip envelope (areas sum exactly,
        every site strictly inside its own cell);
      - cells sharing a positive-length boundary <=> a Delaunay edge
        connects their sites (duality);
      - Euler: triangles = 2n-2-h, unique edges = 3n-3-h (h = hull
        vertices) — checked against the exact-predicate Delaunay."""
    from hypothesis import assume
    import itertools
    assume(len(pts) >= 4)
    assume(_incircle_ok(pts))
    P = np.asarray(pts)
    scale = max(P.max() - P.min(), 1.0)
    # general position: no near-collinear triple (a collinear triple
    # puts a site on a hull edge — the Euler h changes meaning — and
    # shrinks a dual boundary toward zero length)
    for t3 in itertools.combinations(range(len(P)), 3):
        a, b, c = P[list(t3)]
        assume(abs(np.cross(b - a, c - a)) > 1e-4 * scale ** 2)

    mp_wkt = "MULTIPOINT (" + ", ".join(
        f"({x} {y})" for x, y in pts) + ")"
    ga = wkt.parse_array([mp_wkt])

    # widen the clip envelope so every circumcenter lies inside it —
    # duality is a property of the UNBOUNDED diagram; the default
    # GEOS-style pad clips thin configurations' dual edges away
    big = 1000.0 * scale
    ext = wkt.parse_array([
        f"POLYGON (({P[:,0].min()-big} {P[:,1].min()-big}, "
        f"{P[:,0].max()+big} {P[:,1].min()-big}, "
        f"{P[:,0].max()+big} {P[:,1].max()+big}, "
        f"{P[:,0].min()-big} {P[:,1].max()+big}, "
        f"{P[:,0].min()-big} {P[:,1].min()-big}))"])
    vor = algos.voronoi_polygons(ga, extend_to=ext)
    cells, _parents, _t = algos.get_parts(vor)
    n = len(pts)
    assert len(cells) == n, (len(cells), n)

    # map each cell to its site by strict containment
    cell_rings = [cells.geom_slices(i)[0] for i in range(len(cells))]
    owner = []
    for k in range(len(cells)):
        ring = cell_rings[k][0]
        cls = algos.points_in_rings(P[:, 0], P[:, 1], [ring])
        inside = np.flatnonzero(cls == 2)
        assert len(inside) == 1, (k, inside)
        owner.append(int(inside[0]))
    assert sorted(owner) == list(range(n))

    # partition of the (extended) construction envelope
    mn, mx = P.min(axis=0), P.max(axis=0)
    pad = max(mx[0] - mn[0], mx[1] - mn[1], 1.0)
    env_area = (mx[0] - mn[0] + 2 * big) * (mx[1] - mn[1] + 2 * big)
    areas = algos.area(cells)
    assert abs(areas.sum() - env_area) <= 1e-8 * env_area, (
        areas.sum(), env_area)

    # adjacency: positive-length shared boundary between cells. The
    # half-plane clipper builds each cell independently, so oblique
    # shared edges wobble by ~1e-13·scale between the two cells and an
    # EXACT lineal intersection sees points — estimate the shared
    # length instead from the areal overlap with one side dilated by
    # delta (strip area ≈ delta · shared length, corner terms O(d²)).
    idx_pairs = list(itertools.combinations(range(n), 2))
    delta = 1e-6 * scale
    enc = wkb.encode(cells)
    la = wkb.decode([enc[i] for i, _ in idx_pairs])
    lb = algos.buffer(wkb.decode([enc[j] for _, j in idx_pairs]), delta)
    ar = algos.area(algos.intersection(la, lb))
    adj = {(min(owner[i], owner[j]), max(owner[i], owner[j]))
           for (i, j), a_ in zip(idx_pairs, ar)
           if a_ / delta > 1e-3 * scale}

    # structural: the canonicalized cells form a VALID COVERAGE (shared
    # edges vertex-exact, no overlaps/gaps at the kernel's resolution)
    assert algos.is_valid_coverage(cells)

    de = algos.delaunay_triangles(ga, only_edges=True)
    edges = set()
    for seg in de.geom_slices(0):
        p, q = seg[0][0], seg[0][-1]
        ip = int(np.argmin(((P - p) ** 2).sum(axis=1)))
        iq = int(np.argmin(((P - q) ** 2).sum(axis=1)))
        assert np.allclose(P[ip], p) and np.allclose(P[iq], q)
        edges.add((min(ip, iq), max(ip, iq)))
    assert adj == edges, (sorted(adj - edges), sorted(edges - adj))

    # Euler identities against the triangle count
    tri = algos.delaunay_triangles(ga)
    tris, _p2, _t2 = algos.get_parts(tri)
    hull = algos.convex_hull(ga)
    h = len(hull.geom_slices(0)[0][0]) - 1
    assert len(tris) == 2 * n - 2 - h, (len(tris), n, h)
    assert len(edges) == 3 * n - 3 - h, (len(edges), n, h)


def test_voronoi_collinear_sites_slabs():
    """Collinear sites: Delaunay has no triangles; the Voronoi diagram
    degenerates to parallel slabs that still partition the envelope with
    a pure chain adjacency."""
    pts = [(float(i * 3), float(2 * i * 3)) for i in range(5)]
    mp = "MULTIPOINT (" + ", ".join(f"({x} {y})" for x, y in pts) + ")"
    ga = wkt.parse_array([mp])
    tri = algos.delaunay_triangles(ga)
    assert tri.is_empty()[0] or len(algos.get_parts(tri)[0]) == 0
    vor = algos.voronoi_polygons(ga)
    cells, _p, _t = algos.get_parts(vor)
    assert len(cells) == 5
    P = np.asarray(pts)
    mn, mx = P.min(axis=0), P.max(axis=0)
    pad = max(mx[0] - mn[0], mx[1] - mn[1], 1.0)
    env_area = (mx[0] - mn[0] + 2 * pad) * (mx[1] - mn[1] + 2 * pad)
    assert abs(algos.area(cells).sum() - env_area) <= 1e-8 * env_area


def _nonconvex_polygon(draw):
    """Random simple NON-convex polygon: a star polygon with alternating
    radii (guaranteed reflex vertices)."""
    cx = draw(st_.integers(20, 40))
    cy = draw(st_.integers(20, 40))
    k = draw(st_.integers(4, 7))
    r_out = [draw(st_.integers(8, 15)) for _ in range(k)]
    r_in = [draw(st_.integers(3, 6)) for _ in range(k)]
    ang = np.linspace(0, 2 * np.pi, 2 * k, endpoint=False)
    radii = np.empty(2 * k)
    radii[0::2] = r_out
    radii[1::2] = r_in
    pts = np.column_stack([cx + radii * np.cos(ang),
                           cy + radii * np.sin(ang)])
    pts = np.round(pts, 3)
    return np.concatenate([pts, pts[:1]], axis=0)


nonconvex_polygon = st_.composite(_nonconvex_polygon)


@settings(max_examples=40, deadline=None)
@given(nonconvex_polygon(), st_.integers(5, 30))
def test_negative_buffer_nonconvex_distance_oracle(ring, d10):
    """Point-classification oracle for NON-convex erosion (VERDICT r9
    #6: the r9 oracle was convex-only). Definitionally
    erode(A, d) = {x ∈ A : dist(x, ∂A) ≥ d}, and dist-to-boundary is an
    independent kernel — probe a jittered grid and require agreement
    outside a band around |dist − d| that covers the arc-chord
    discretization of the offset construction."""
    from geopandas_spark.geom.array import GeometryBuilder
    d = d10 / 10.0
    gb_ = GeometryBuilder()
    gb_.append(3, [[np.asarray(ring, dtype=np.float64)]])
    ga = gb_.finish()
    er = algos.buffer(ga, -d)
    bnd = algos.boundary(ga)

    # probe grid over the bbox, jittered off lattice alignments
    bb = algos.bounds(ga)[0]
    xs = np.linspace(bb[0], bb[2], 23) + 0.0137
    ys = np.linspace(bb[1], bb[3], 23) + 0.0101
    gx, gy = np.meshgrid(xs, ys)
    px, py = gx.ravel(), gy.ravel()

    in_a = algos.points_in_geom(px, py, ga, 0)
    in_e = algos.points_in_geom(px, py, er, 0) \
        if not er.is_empty()[0] else np.zeros(len(px), dtype=np.int8)

    # exact point→boundary distance via the distance kernel (pairwise:
    # every probe point vs a replicated boundary row)
    from geopandas_spark.geom.array import GeometryBuilder
    pb = GeometryBuilder()
    for x, y in zip(px, py):
        pb.append_point(x, y)
    pga = pb.finish()
    benc = wkb.encode(bnd)[0]
    brep = wkb.decode([benc] * len(px))
    dist = algos.distance(pga, brep)

    # arc-chord sagitta of the offset construction at quad_segs=16 plus
    # float headroom
    band = d * (1 - np.cos(np.pi / 2 / 16)) + 1e-7 * (1 + d)
    decisive = np.abs(dist - d) > band
    want_in = (in_a == 2) & (dist >= d)
    got_in = in_e == 2
    mism = decisive & (want_in != got_in)
    assert not mism.any(), (
        d, [(px[k], py[k], float(dist[k]), int(in_a[k]), int(in_e[k]))
            for k in np.flatnonzero(mism)[:5]])


@settings(max_examples=40, deadline=None)
@given(st_.integers(2, 4), st_.integers(2, 4),
       st_.sampled_from([0.0, 1.0e6, -1.7e7, 2.003e7]),
       st_.sampled_from([0.0, 4.9e6, -1.9e7]),
       st_.integers(1, 1000))
def test_polygonize_build_area_web_mercator_invariance(nx, ny, ox, oy,
                                                       cell10):
    """polygonize / build_area at web-mercator magnitudes (VERDICT r9
    #6): a grid linework translated by ~2e7 must produce the same face
    count and the same total area (relative tolerance) as at the origin
    — translation invariance of the noding + face tracing."""
    cell = cell10 / 10.0

    def grid_wkt(dx, dy):
        segs = []
        for i in range(nx + 1):
            segs.append(f"LINESTRING ({dx + i * cell} {dy}, "
                        f"{dx + i * cell} {dy + ny * cell})")
        for j in range(ny + 1):
            segs.append(f"LINESTRING ({dx} {dy + j * cell}, "
                        f"{dx + nx * cell} {dy + j * cell})")
        return segs

    base = wkt.parse_array(grid_wkt(0.0, 0.0))
    far = wkt.parse_array(grid_wkt(ox, oy))

    pb = algos.polygonize(base)
    pf = algos.polygonize(far)
    nb = len(algos.get_parts(pb)[0])
    nf = len(algos.get_parts(pf)[0])
    assert nb == nf == nx * ny, (nb, nf, nx * ny)
    ab = float(algos.area(pb).sum())
    af = float(algos.area(pf).sum())
    want = nx * ny * cell * cell
    assert abs(ab - want) <= 1e-9 * want
    # at 2e7 offsets one coordinate ulp is ~4e-9; faces are exact grid
    # cells so the only error source is the snap-rounding of noding
    assert abs(af - want) <= 1e-6 * want + 1e-3, (af, want)

    # the faces must come back in the INPUT frame (the local-frame
    # shift must un-apply at emission), not the internal one
    fb = algos.bounds(pf)
    assert abs(float(fb[:, 0].min()) - ox) <= 1e-6 * max(abs(ox), 1.0) + 1e-6
    assert abs(float(fb[:, 1].min()) - oy) <= 1e-6 * max(abs(oy), 1.0) + 1e-6

    bb = algos.build_area(base)
    bf = algos.build_area(far)
    assert abs(float(algos.area(bb)[0]) - want) <= 1e-9 * want
    assert abs(float(algos.area(bf)[0]) - want) <= 1e-6 * want + 1e-3


def _seg_box_de9im_oracle(p0, p1, box):
    """EXACT DE-9IM for an integer-coordinate segment (as A) vs a
    positive-area integer box (as B) — Fractions for edge-intersection
    parameters, so every classification is exact."""
    from fractions import Fraction as Fr

    bx0, by0, bx1, by1 = box
    dx, dy = p1[0] - p0[0], p1[1] - p0[1]

    def on_boundary(x, y):
        return ((x in (bx0, bx1) and by0 <= y <= by1) or
                (y in (by0, by1) and bx0 <= x <= bx1))

    def strictly_inside(x, y):
        return bx0 < x < bx1 and by0 < y < by1

    def strictly_outside(x, y):
        return x < bx0 or x > bx1 or y < by0 or y > by1

    # closed-box clip via Liang-Barsky with exact Fractions
    t0, t1 = Fr(0), Fr(1)
    ok = True
    for d, lo, hi, o in ((dx, bx0, bx1, p0[0]), (dy, by0, by1, p0[1])):
        if d == 0:
            if o < lo or o > hi:
                ok = False
                break
        else:
            ta, tb = Fr(lo - o, d), Fr(hi - o, d)
            if ta > tb:
                ta, tb = tb, ta
            t0, t1 = max(t0, ta), min(t1, tb)
            if t0 > t1:
                ok = False
                break

    def pt(t):
        return (Fr(p0[0]) + t * dx, Fr(p0[1]) + t * dy)

    ii = "F"
    if ok and t1 > t0:
        mx, my = pt((t0 + t1) / 2)
        if bx0 < mx < bx1 and by0 < my < by1:
            ii = "1"

    # segment ∩ each boundary edge, exactly (interval or point in t)
    ib_dim = -1
    edges = [((bx0, by0), (bx1, by0)), ((bx1, by0), (bx1, by1)),
             ((bx1, by1), (bx0, by1)), ((bx0, by1), (bx0, by0))]
    for (q0, q1) in edges:
        ex, ey = q1[0] - q0[0], q1[1] - q0[1]
        cross = dx * ey - dy * ex
        qp = (q0[0] - p0[0], q0[1] - p0[1])
        if cross == 0:
            # parallel: collinear iff qp x e == 0
            if qp[0] * ey - qp[1] * ex == 0:
                # project edge endpoints onto segment parameter t
                den = dx * dx + dy * dy
                ta = Fr((q0[0] - p0[0]) * dx + (q0[1] - p0[1]) * dy, den)
                tb = Fr((q1[0] - p0[0]) * dx + (q1[1] - p0[1]) * dy, den)
                lo, hi = min(ta, tb), max(ta, tb)
                lo, hi = max(lo, Fr(0)), min(hi, Fr(1))
                if hi > lo and hi > 0 and lo < 1:
                    # positive-length run; does it intersect t∈(0,1)?
                    if min(hi, Fr(1)) > max(lo, Fr(0)) and \
                            not (hi <= 0 or lo >= 1):
                        ib_dim = max(ib_dim, 1 if hi > lo else 0)
                        if hi > lo and (min(hi, 1) > max(lo, 0)):
                            ib_dim = 1
                elif lo == hi and 0 < lo < 1:
                    ib_dim = max(ib_dim, 0)
            continue
        # proper or endpoint crossing: t on segment, u on edge
        t = Fr(qp[0] * ey - qp[1] * ex, cross)
        u = Fr(qp[0] * dy - qp[1] * dx, cross)
        if 0 <= u <= 1 and 0 < t < 1:
            ib_dim = max(ib_dim, 0)
    ib = "F" if ib_dim < 0 else str(ib_dim)

    ie = "1" if (not ok or t0 > 0 or t1 < 1) else "F"
    bi = "0" if (strictly_inside(*p0) or strictly_inside(*p1)) else "F"
    bb = "0" if (on_boundary(*p0) or on_boundary(*p1)) else "F"
    be = "0" if (strictly_outside(*p0) or strictly_outside(*p1)) else "F"
    return ii + ib + ie + bi + bb + be + "212"


@settings(max_examples=300, deadline=None)
@given(st_.integers(0, 12), st_.integers(0, 12),
       st_.integers(0, 12), st_.integers(0, 12),
       st_.integers(0, 10), st_.integers(0, 10),
       st_.integers(1, 6), st_.integers(1, 6))
def test_relate_segment_box_matches_exact_oracle(ax, ay, bx, by,
                                                 qx, qy, qw, qh):
    """relate()'s mixed-dimension path (line A × polygon B) vs an exact
    Fraction-arithmetic oracle — crossing, grazing, collinear-edge runs,
    containment, corner touches all arise on the small integer grid."""
    from hypothesis import assume
    assume((ax, ay) != (bx, by))
    ga = ga_from = wkt.parse_array([f"LINESTRING ({ax} {ay}, {bx} {by})"])
    gb = wkt.parse_array([
        f"POLYGON (({qx} {qy}, {qx + qw} {qy}, {qx + qw} {qy + qh}, "
        f"{qx} {qy + qh}, {qx} {qy}))"])
    got = algos.relate(ga, gb)[0]
    want = _seg_box_de9im_oracle((ax, ay), (bx, by),
                                 (qx, qy, qx + qw, qy + qh))
    assert got == want, ((ax, ay, bx, by), (qx, qy, qw, qh), got, want)


@settings(max_examples=200, deadline=None)
@given(st_.integers(0, 8), st_.integers(0, 8),
       st_.integers(0, 6), st_.integers(0, 6),
       st_.integers(1, 5), st_.integers(1, 5))
def test_relate_point_box_matches_exact_oracle(px, py, qx, qy, qw, qh):
    """relate() point × polygon vs the trivially-exact classification."""
    ga = wkt.parse_array([f"POINT ({px} {py})"])
    gb = wkt.parse_array([
        f"POLYGON (({qx} {qy}, {qx + qw} {qy}, {qx + qw} {qy + qh}, "
        f"{qx} {qy + qh}, {qx} {qy}))"])
    got = algos.relate(ga, gb)[0]
    x0, y0, x1, y1 = qx, qy, qx + qw, qy + qh
    if x0 < px < x1 and y0 < py < y1:
        want = "0FFFFF212"
    elif ((px in (x0, x1) and y0 <= py <= y1) or
          (py in (y0, y1) and x0 <= px <= x1)):
        want = "F0FFFF212"
    else:
        want = "FF0FFF212"
    assert got == want, ((px, py), (qx, qy, qw, qh), got, want)
