"""Unit tests for the pure-numpy geometry kernel (no Spark needed).

Modeled on the reference's operator unit tests
(geopandas/tests/test_geom_methods.py — hand-computed expectations on small
constructed geometries, incl. empty/None edge cases)."""

import numpy as np
import pytest

from geopandas_spark.geom import algos, wkb, wkt
from geopandas_spark.geom.array import (
    GT_POINT, GT_POLYGON, GT_MULTIPOINT, GeometryBuilder,
    points_from_xy, boxes_from_bounds,
)


def ga_from_wkt(*strs):
    return wkt.parse_array(list(strs))


class TestCodecs:
    def test_wkt_roundtrip(self):
        samples = [
            "POINT (3 7)",
            "POINT EMPTY",
            "LINESTRING (0 0, 1 1, 2 0)",
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
            "MULTIPOINT ((1 1), (2 2))",
            "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))",
            None,
        ]
        ga = wkt.parse_array(samples)
        out = wkt.format_array(ga)
        assert out == samples

    def test_wkt_fast_path_differential(self):
        """r12: the vectorized batch WKT parser must agree with the
        cursor parser on everything it accepts, and bail (None) on
        everything it can't represent so semantics/errors never
        change."""
        cases = [
            "POINT (1 2)", "POINT (-3.5 +4e2)",
            "LINESTRING (0 0, 1 1, 2 0)",
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
            "(2 2, 4 2, 4 4, 2 4, 2 2))",
            "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))",
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), "
            "((5 5, 6 5, 6 6, 5 5), "
            "(5.2 5.2, 5.4 5.2, 5.3 5.4, 5.2 5.2)))",
            None, "  point  ( 7   8 ) ",
        ]
        batch = (cases * 8)[:64]
        fast, bad = wkt._parse_array_fast(batch)
        assert fast is not None and len(bad) == 0
        b = wkt.GeometryBuilder()
        for v in batch:
            if v is None:
                b.append_null()
            else:
                wkt.parse_one(str(v), b)
        assert wkt.format_array(fast) == wkt.format_array(b.finish())
        # random fuzz: parse_array (fast-or-fallback) == cursor parser
        rng = np.random.default_rng(7)

        def pts(k):
            return ", ".join(
                f"{rng.uniform(-100, 100):.6g} {rng.uniform(-100, 100):.6g}"
                for _ in range(k))

        def ring(k):
            body = pts(k)
            first = body.split(",")[0].strip()
            return f"{body}, {first}"

        def rand_wkt():
            u = rng.random()
            if u < 0.2:
                return f"POINT ({pts(1)})"
            if u < 0.4:
                return f"LINESTRING ({pts(int(rng.integers(2, 6)))})"
            if u < 0.6:
                hole = f", ({ring(4)})" if rng.random() < 0.4 else ""
                return f"POLYGON ((0 0, 4 0, 4 4, 0 0){hole})"
            if u < 0.8:
                return f"MULTILINESTRING (({pts(3)}), ({pts(2)}))"
            return f"MULTIPOLYGON ((({ring(4)})), ((0 0, 1 0, 1 1, 0 0)))"

        for _ in range(8):
            batch = [rand_wkt() if rng.random() > 0.1 else None
                     for _ in range(200)]
            a = wkt.parse_array(batch)
            b = wkt.GeometryBuilder()
            for v in batch:
                if v is None:
                    b.append_null()
                else:
                    wkt.parse_one(str(v), b)
            assert wkt.format_array(a) == wkt.format_array(b.finish())

    def test_wkt_fast_path_localizes_dirt(self):
        """r13 split-batch: inputs the fast path can't represent (or
        that are malformed) are localized to THEIR ROW — the remaining
        39 clean rows still parse vectorized, and only the dirty row
        routes through the cursor parser (which keeps owning semantics
        and error messages). Wholly-unrepresentable batches punt."""
        # homogeneous unrepresentable batches: every row dirty → punt
        for bb in [["POINT Z (1 2 3)"] * 40,
                   ["MULTIPOINT ((1 1), (2 2))"] * 40,
                   ["GEOMETRYCOLLECTION (POINT (1 1))"] * 40,
                   ["POLYGON EMPTY"] * 40]:
            ga, bad = wkt._parse_array_fast(bb)
            assert ga is None and bad is None
        # one dirty row in a clean batch: exactly row 39 is localized
        dirties = [
            "LINESTRING (0 0, 1 1",
            "POLYGON ((1 2 3, 4 5 6, 7 8 9, 1 2 3))",   # bare-Z width
            "FOO (1 2)",
            "POINT (1 2) junk",
            "POINT M (1 2 3)",
            "POINT ((1 2))",
            "POLYGON (0 0, 1 0, 1 1, 0 0)",
            "POINT (1 x 2)",
            "POLYGON ((0 0, 1 0, 1 1, 0 0)),",          # trailing comma
            "POLYGON ((0 0, 1 0, 1 1, 0 0)) ()",        # stray group
            "POINT (1.2.3 4)",
            "POINT (nan nan)",
            "POINT (1e500 0)",
        ]
        for i, d in enumerate(dirties):
            bb = ["POINT (1 2)"] * 39 + [d]
            ga, bad = wkt._parse_array_fast(bb)
            assert ga is not None and list(bad) == [39], f"case {i}: {bad}"
            assert int(ga.types[39]) == 0          # NULL placeholder
            assert (ga.types[:39] == 1).all()      # clean rows parsed
        # and parse_array still raises through the cursor parser
        for d in ["FOO (1 2)", "POINT (1 2) junk",
                  "POLYGON ((0 0, 1 0, 1 1, 0 0)),"]:
            with pytest.raises(ValueError):
                wkt.parse_array(["POINT (1 2)"] * 39 + [d])
        # valid-but-fast-unrepresentable dirt splices through the cursor
        mix = (["POINT (1 2)"] * 20 + ["POINT Z (1 2 3)"] +
               ["LINESTRING (0 0, 1 1, 2 0)"] * 20 +
               ["GEOMETRYCOLLECTION (POINT (5 5))", "POLYGON EMPTY"])
        out = wkt.format_array(wkt.parse_array(mix))
        assert out == mix

    def test_wkb_roundtrip(self):
        samples = [
            "POINT (3 7)",
            "LINESTRING (0 0, 1 1, 2 0)",
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
            "MULTIPOINT ((1 1), (2 2))",
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))",
            None,
        ]
        ga = wkt.parse_array(samples)
        blobs = wkb.encode(ga)
        assert blobs[-1] is None
        ga2 = wkb.decode(blobs)
        assert wkt.format_array(ga2) == samples

    def test_point_fast_path(self):
        ga = points_from_xy([1.0, 2.0, 3.5], [4.0, 5.0, -6.25])
        blobs = wkb.encode(ga)
        assert all(len(b) == 21 for b in blobs)
        ga2 = wkb.decode(blobs)
        np.testing.assert_array_equal(ga2.coords, ga.coords)

    def test_multipoint_bare_wkt(self):
        ga = ga_from_wkt("MULTIPOINT (1 1, 2 2)")
        assert wkt.format_array(ga) == ["MULTIPOINT ((1 1), (2 2))"]


class TestMeasures:
    def test_area(self):
        ga = ga_from_wkt(
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
            "POINT (1 1)",
            "LINESTRING (0 0, 5 0)",
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))",
            None,
        )
        out = algos.area(ga)
        np.testing.assert_allclose(out[:5], [16.0, 96.0, 0.0, 0.0, 4.5])
        assert np.isnan(out[5])

    def test_length(self):
        ga = ga_from_wkt(
            "LINESTRING (0 0, 3 4)",
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
            "POINT (1 1)",
            "MULTILINESTRING ((0 0, 1 0), (0 0, 0 2))",
        )
        np.testing.assert_allclose(algos.length(ga), [5.0, 16.0, 0.0, 3.0])

    def test_bounds(self):
        ga = ga_from_wkt("LINESTRING (1 2, 5 -3)", "POINT (7 8)", None)
        bb = algos.bounds(ga)
        np.testing.assert_allclose(bb[0], [1, -3, 5, 2])
        np.testing.assert_allclose(bb[1], [7, 8, 7, 8])
        assert np.isnan(bb[2]).all()

    def test_centroid(self):
        ga = ga_from_wkt(
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
            "LINESTRING (0 0, 0 4)",
            "MULTIPOINT ((0 0), (2 2))",
            # hole: centroid of square with symmetric hole stays at center
            "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
        )
        c = algos.centroid(ga)
        np.testing.assert_allclose(algos.get_x(c), [2.0, 0.0, 1.0, 3.0])
        np.testing.assert_allclose(algos.get_y(c), [2.0, 2.0, 1.0, 3.0])

    def test_counts(self):
        ga = ga_from_wkt(
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))",
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
            "POINT (0 0)",
        )
        np.testing.assert_array_equal(algos.count_geometries(ga), [2, 1, 1])
        np.testing.assert_array_equal(algos.count_interior_rings(ga), [0, 1, 0])
        np.testing.assert_array_equal(algos.count_coordinates(ga), [8, 10, 1])


class TestPredicates:
    def test_point_in_polygon(self):
        poly = ga_from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        px = np.array([5.0, 10.0, 15.0, 0.0])
        py = np.array([5.0, 5.0, 5.0, 0.0])
        cls = algos.points_in_geom(px, py, poly, 0)
        np.testing.assert_array_equal(cls, [2, 1, 0, 1])

    def test_pip_with_hole(self):
        poly = ga_from_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
        cls = algos.points_in_geom(np.array([5.0, 2.0]), np.array([5.0, 2.0]),
                                   poly, 0)
        np.testing.assert_array_equal(cls, [0, 2])

    def test_intersects_contains(self):
        a = ga_from_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
            "LINESTRING (0 0, 10 10)",
            "POINT (3 3)",
        )
        b = ga_from_wkt(
            "POINT (5 5)",
            "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))",
            "POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))",
            "LINESTRING (0 10, 10 0)",
            "POINT (3 3)",
        )
        np.testing.assert_array_equal(
            algos.intersects(a, b), [True, True, False, True, True])
        np.testing.assert_array_equal(
            algos.contains(a, b), [True, True, False, False, True])
        np.testing.assert_array_equal(
            algos.within(b, a), [True, True, False, False, True])

    def test_boundary_not_contained(self):
        a = ga_from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        b = ga_from_wkt("POINT (10 5)")
        assert not algos.contains(a, b)[0]
        assert algos.covers(a, b)[0]
        assert algos.intersects(a, b)[0]

    def test_touches(self):
        a = ga_from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
                        "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        b = ga_from_wkt("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))",
                        "POLYGON ((0.5 0.5, 2 0.5, 2 2, 0.5 2, 0.5 0.5))")
        np.testing.assert_array_equal(algos.touches(a, b), [True, False])

    def test_overlaps_crosses(self):
        a = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                        "LINESTRING (0 0, 4 4)")
        b = ga_from_wkt("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))",
                        "POLYGON ((1 0, 3 0, 3 3, 1 3, 1 0))")
        assert algos.overlaps(a, b)[0]
        assert algos.crosses(a, b)[1]

    def test_distance(self):
        a = ga_from_wkt("POINT (0 0)", "POINT (0 0)",
                        "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        b = ga_from_wkt("POINT (3 4)", "LINESTRING (0 5, 10 5)",
                        "POLYGON ((3 0, 4 0, 4 1, 3 1, 3 0))")
        np.testing.assert_allclose(algos.distance(a, b), [5.0, 5.0, 2.0])

    def test_dwithin(self):
        a = ga_from_wkt("POINT (0 0)")
        b = ga_from_wkt("POINT (3 4)")
        assert algos.dwithin(a, b, 5.0)[0]
        assert not algos.dwithin(a, b, 4.99)[0]


class TestConstructive:
    def test_envelope(self):
        ga = ga_from_wkt("LINESTRING (1 1, 4 5)", "POINT (2 2)")
        env = wkt.format_array(algos.envelope(ga))
        assert env[0] == "POLYGON ((1 1, 4 1, 4 5, 1 5, 1 1))"
        assert env[1] == "POINT (2 2)"

    def test_convex_hull(self):
        ga = ga_from_wkt("MULTIPOINT ((0 0), (4 0), (4 4), (0 4), (2 2))")
        h = algos.convex_hull(ga)
        np.testing.assert_allclose(algos.area(h), [16.0])

    def test_buffer_point(self):
        ga = ga_from_wkt("POINT (0 0)")
        buf = algos.buffer(ga, 10.0, quad_segs=16)
        assert algos.count_coordinates(buf)[0] == 65
        expected = 0.5 * 64 * 100 * np.sin(2 * np.pi / 64)
        np.testing.assert_allclose(algos.area(buf), [expected], rtol=1e-12)
        assert algos.contains(buf, ga_from_wkt("POINT (9.9 0)"))[0]

    def test_buffer_box(self):
        ga = ga_from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        buf = algos.buffer(ga, 2.0, quad_segs=4)
        a = algos.area(buf)[0]
        # area = box + perimeter*d + pi*d^2 (n-gon approx slightly less)
        assert 100 + 80 + np.pi * 4 * 0.97 < a < 100 + 80 + np.pi * 4 + 0.01

    def test_simplify(self):
        ga = ga_from_wkt("LINESTRING (0 0, 1 0.01, 2 0, 3 0.01, 4 0)")
        s = algos.simplify(ga, 0.1)
        assert algos.count_coordinates(s)[0] == 2

    def test_clip_by_rect(self):
        ga = ga_from_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
            "LINESTRING (-5 5, 15 5)",
            "MULTIPOINT ((3 3), (20 20))",
        )
        out = algos.clip_by_rect(ga, 2, 2, 8, 8)
        np.testing.assert_allclose(algos.area(out)[0], 36.0)
        np.testing.assert_allclose(algos.length(out)[1], 6.0)
        assert wkt.format_array(out)[2] == "POINT (3 3)"

    def test_intersection_boxes(self):
        a = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        b = ga_from_wkt("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
        out = algos.intersection(a, b)
        np.testing.assert_allclose(algos.area(out), [4.0])

    def test_intersection_touching_only_is_empty(self):
        # polygonal-only default: shared edge / corner touch → empty,
        # never a degenerate zero-area sliver
        a = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        b = ga_from_wkt("POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))",
                        "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))")
        out = algos.intersection(a, b)
        assert list(out.is_empty()) == [True, True]

    def test_intersection_mixed_shared_edge(self):
        a = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        b = ga_from_wkt("POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))")
        out = algos.intersection(a, b, mixed=True)
        assert wkt.format_array(out) == ["LINESTRING (2 0, 2 2)"]
        np.testing.assert_allclose(algos.length(out), [2.0])

    def test_intersection_mixed_corner_touch(self):
        a = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        b = ga_from_wkt("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))")
        out = algos.intersection(a, b, mixed=True)
        assert wkt.format_array(out) == ["POINT (2 2)"]

    def test_intersection_mixed_collection(self):
        # one part overlaps in area, the other only shares an edge → GC
        a = ga_from_wkt("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), "
                        "((5 0, 6 0, 6 1, 5 1, 5 0)))")
        b = ga_from_wkt("POLYGON ((1 0, 5 0, 5 1, 1 1, 1 0))")
        out = algos.intersection(a, b, mixed=True)
        s = wkt.format_array(out)[0]
        assert s.startswith("GEOMETRYCOLLECTION")
        assert "POLYGON" in s and "LINESTRING" in s
        np.testing.assert_allclose(algos.area(out), [1.0])

    def test_intersection_mixed_overlap_unaffected(self):
        a = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        b = ga_from_wkt("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
        out = algos.intersection(a, b, mixed=True)
        assert wkt.format_array(out)[0].startswith("POLYGON")
        np.testing.assert_allclose(algos.area(out), [4.0])

    def test_intersection_mixed_line_poly_tangent(self):
        a = ga_from_wkt("LINESTRING (2 2, 4 4)")
        b = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        out = algos.intersection(a, b, mixed=True)
        assert wkt.format_array(out) == ["POINT (2 2)"]

    def test_affine3d(self):
        ga = ga_from_wkt("POINT Z (1 2 3)", "POINT (1 2)")
        out = algos.affine_transform12(ga, 0, 1, 0, 1, 0, 0, 0, 0, 2,
                                       10, 20, 5)
        assert wkt.format_array(out) == ["POINT Z (12 21 11)",
                                         "POINT (12 21)"]
        t = algos.translate(ga, 1, 2, 3)
        assert wkt.format_array(t) == ["POINT Z (2 4 6)", "POINT (2 4)"]
        s = algos.scale(ga, 1, 1, 3, origin=(0, 0, 0))
        assert wkt.format_array(s) == ["POINT Z (1 2 9)", "POINT (1 2)"]

    def test_affine_preserves_geometrycollection(self):
        ga = ga_from_wkt(
            "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 5 0))")
        out = algos.translate(ga, 10, 0)
        assert wkt.format_array(out) == [
            "GEOMETRYCOLLECTION (POINT (11 2), LINESTRING (10 0, 15 0))"]

    def test_affine(self):
        ga = ga_from_wkt("POINT (1 2)")
        t = algos.translate(ga, 10, 20)
        assert wkt.format_array(t) == ["POINT (11 22)"]
        r = algos.rotate(ga, 90, origin=(0, 0))
        np.testing.assert_allclose(algos.get_x(r), [-2], atol=1e-12)
        np.testing.assert_allclose(algos.get_y(r), [1], atol=1e-12)
        s = algos.scale(ga, 2, 3, origin=(0, 0))
        assert wkt.format_array(s) == ["POINT (2 6)"]

    def test_union_mixed_dimensions(self):
        a = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                        "POINT (5 5)", "POINT (1 0)")
        b = ga_from_wkt("LINESTRING (1 1, 5 1)",
                        "LINESTRING (0.5 1, 1.5 1)",
                        "LINESTRING (0 0, 2 0)", "LINESTRING (0 0, 2 0)")
        out = wkt.format_array(algos.union(a, b))
        assert out[0] == ("GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, "
                          "0 2, 0 0)), LINESTRING (2 1, 5 1))")
        assert out[1] == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"  # absorbed
        assert out[2] == ("GEOMETRYCOLLECTION (LINESTRING (0 0, 2 0), "
                          "POINT (5 5))")
        assert out[3] == "LINESTRING (0 0, 2 0)"

    def test_symmetric_difference_lines_and_mixed(self):
        a = ga_from_wkt("LINESTRING (0 0, 4 0)",
                        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        b = ga_from_wkt("LINESTRING (2 0, 6 0)", "POINT (5 5)")
        out = wkt.format_array(algos.symmetric_difference(a, b))
        assert out[0] == "MULTILINESTRING ((0 0, 2 0), (4 0, 6 0))"
        assert out[1] == ("GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, "
                          "0 2, 0 0)), POINT (5 5))")

    def test_setop_gc_point_operand(self):
        """GC with a lone point operand (r5: no longer raises)."""
        a = ga_from_wkt("GEOMETRYCOLLECTION (POINT (1 1))")
        b = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        out = algos.intersection(a, b)
        assert wkt.format_array(out)[0] == "POINT (1 1)"

    def test_union_all_points(self):
        ga = ga_from_wkt("POINT (1 1)", "POINT (2 2)", "POINT (1 1)")
        u = algos.union_all(ga)
        assert algos.count_geometries(u)[0] == 2

    def test_union_all_disjoint_boxes(self):
        ga = boxes_from_bounds([0, 10], [0, 0], [5, 15], [5, 5])
        u = algos.union_all(ga)
        assert wkt.format_array(u)[0].startswith("MULTIPOLYGON")
        np.testing.assert_allclose(algos.area(u), [50.0])

    def test_union_all_overlapping_boxes(self):
        ga = boxes_from_bounds([0, 2], [0, 0], [5, 7], [5, 5])
        u = algos.union_all(ga)
        assert algos.area(u)[0] == 25.0 + 25.0 - 15.0

    def test_union_all_overlapping_lines(self):
        """Lineal union (GEOS unary_union over lines): collinear overlap
        dedupes, crossings node, duplicates collapse, length exact."""
        g = ga_from_wkt("LINESTRING (0 0, 2 0)", "LINESTRING (1 0, 3 0)")
        u = algos.union_all(g)
        assert algos.length(u)[0] == 3.0
        assert wkt.format_array(u)[0] == \
            "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (2 0, 3 0))"
        x = ga_from_wkt("LINESTRING (0 0, 2 2)", "LINESTRING (0 2, 2 0)")
        ux = algos.union_all(x)
        assert algos.count_geometries(ux)[0] == 4
        np.testing.assert_allclose(algos.length(ux)[0], 4 * np.sqrt(2))
        dup = ga_from_wkt("LINESTRING (0 0, 1 1)", "LINESTRING (0 0, 1 1)")
        assert wkt.format_array(algos.union_all(dup))[0] == \
            "LINESTRING (0 0, 1 1)"

    def test_gc_setops(self):
        """GEOMETRYCOLLECTION operands (GEOS OverlayNG semantics):
        dispatch per dimension class, merge with absorption."""
        gc = ga_from_wkt("GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, "
                         "0 4, 0 0)), LINESTRING (6 0, 10 0), POINT (8 5))")
        poly = ga_from_wkt("POLYGON ((2 -1, 12 -1, 12 6, 2 6, 2 -1))")
        inter = algos.intersection(gc, poly)
        assert algos.area(inter)[0] == 8.0
        assert algos.count_geometries(inter)[0] == 3
        assert algos.area(algos.union(gc, poly))[0] == 78.0
        diff = algos.difference(gc, poly)
        assert algos.area(diff)[0] == 8.0
        assert wkt.format_array(diff)[0].startswith("POLYGON")
        assert algos.area(algos.symmetric_difference(gc, poly))[0] == 70.0
        gc2 = ga_from_wkt("GEOMETRYCOLLECTION (POLYGON ((2 2, 6 2, 6 6, "
                          "2 6, 2 2)), POINT (0 0))")
        u2 = algos.union(gc, gc2)
        assert algos.area(u2)[0] == 16.0 + 16.0 - 4.0

    def test_union_all_mixed_types(self):
        """Mixed-dimension union_all (reference unary_union): polygons
        union, line residue outside them survives, covered points drop,
        GC rows decompose."""
        g = ga_from_wkt(
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
            "LINESTRING (2 2, 8 2)",
            "POINT (6 6)", "POINT (2 2)",
            "GEOMETRYCOLLECTION (POLYGON ((3 3, 6 3, 6 6, 3 6, 3 3)), "
            "POINT (9 9))")
        u = algos.union_all(g)
        assert algos.area(u)[0] == 24.0
        assert algos.length(algos.collection_extract(u, "line"))[0] == 4.0
        assert algos.count_geometries(
            algos.collection_extract(u, "point"))[0] == 1

    def test_union_all_line_grid(self):
        rows = [f"LINESTRING (0 {y}, 10 {y})" for y in (2, 5, 8)] + \
               [f"LINESTRING ({x} 0, {x} 10)" for x in (2, 5, 8)]
        u = algos.union_all(ga_from_wkt(*rows))
        assert algos.length(u)[0] == 60.0

    def test_subdivide_bounds_vertices_and_preserves_area(self):
        """ST_Subdivide analogue: pieces bounded by max_vertices, exact
        area preservation, coverage-union reassembly, passthrough for
        small/non-areal rows."""
        import numpy as np

        ring = ([(k, 0) for k in range(40)] + [(40, k) for k in range(20)]
                + [(40 - k, 20) for k in range(40)]
                + [(0, 20 - k) for k in range(20)] + [(0, 0)])
        b = GeometryBuilder()
        b.append(GT_POLYGON, [[np.array(ring, dtype=float)]])
        ga = b.finish()
        parts, parent = algos.subdivide(ga, 40)
        assert len(parts) > 1
        assert algos.count_coordinates(parts).max() <= 40
        assert float(algos.area(parts).sum()) == 800.0
        assert (parent == 0).all()
        u = algos.union_all(parts, method="coverage")
        assert float(algos.area(u)[0]) == 800.0
        # small polygons / points / lines / nulls pass through untouched
        small = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
                            "POINT (1 2)", "LINESTRING (0 0, 9 0)", None)
        p2, par2 = algos.subdivide(small, 40)
        assert wkt.format_array(p2) == wkt.format_array(small)
        np.testing.assert_array_equal(par2, [0, 1, 2, 3])

    def test_boolean_op_same_side_shared_edge(self):
        """A flat even-odd ring set whose rings share an edge exactly
        (two adjacent tiles — the shape cascade outputs produce) used to
        raise 'invalid input'; the probe-based tracer handles it."""
        import numpy as np

        from geopandas_spark.geom import clipping as mr

        subject = [np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]],
                            dtype=float),
                   np.array([[1, 0], [2, 0], [2, 1], [1, 1], [1, 0]],
                            dtype=float)]
        clip = [np.array([[0.5, -0.5], [1.5, -0.5], [1.5, 0.5],
                          [0.5, 0.5], [0.5, -0.5]], dtype=float)]
        out = mr.boolean_op(subject, clip, mr.UNION)
        area = sum(abs(mr._ring_signed_area(r)) * (1 if k == 0 else -1)
                   for poly in out for k, r in enumerate(poly))
        assert abs(area - 2.5) < 1e-9
        inter = mr.boolean_op(subject, clip, mr.INTERSECTION)
        iarea = sum(abs(mr._ring_signed_area(r)) * (1 if k == 0 else -1)
                    for poly in inter for k, r in enumerate(poly))
        assert abs(iarea - 0.5) < 1e-9

    def test_union_many_one_sweep_matches_pairwise(self):
        """The N-way single-sweep union (clipping.union_many) must agree
        with the pairwise Martinez–Rueda tree (the fallback of
        algos._union_polys, forced by making union_many raise) on
        overlapping, touching, duplicated and holed inputs, and on the
        dilation pieces of buffer (a line, a concave polygon with a hole
        and a multipoint, round and flat caps)."""
        import numpy as np

        import geopandas_spark.geom.clipping as mr

        rng = np.random.default_rng(3)
        x = rng.uniform(0, 40, 300)
        y = rng.uniform(0, 40, 300)
        ga = boxes_from_bounds(x, y, x + 4.0, y + 4.0)
        shapes = ga_from_wkt(
            "LINESTRING (0 0, 6 1, 3 5, 9 7)",
            "POLYGON ((0 0, 20 0, 20 20, 10 8, 0 20, 0 0), "
            "(3 2, 17 2, 17 6, 3 6, 3 2))",
            "MULTIPOINT (0 0, 1.5 0.5, 3 0, 2 2)")

        def run():
            return [algos.union_all(ga)] + [
                algos.buffer(shapes, 1.0, cap_style=cap)
                for cap in ("round", "flat")]

        sweep = run()
        orig = mr.union_many
        mr.union_many = lambda p: (_ for _ in ()).throw(ValueError())
        try:
            tree = run()
        finally:
            mr.union_many = orig
        u1, u2 = sweep[0], tree[0]
        assert abs(algos.area(u1)[0] - algos.area(u2)[0]) < 1e-9
        assert abs(algos.length(u1)[0] - algos.length(u2)[0]) < 1e-9
        assert algos.count_geometries(u1)[0] == algos.count_geometries(u2)[0]
        for b1, b2 in zip(sweep[1:], tree[1:]):
            np.testing.assert_allclose(algos.area(b1), algos.area(b2),
                                       rtol=0, atol=1e-9)
            np.testing.assert_array_equal(algos.count_geometries(b1),
                                          algos.count_geometries(b2))
            assert algos.is_valid(b1).all() and algos.is_valid(b2).all()

    def test_union_keeps_spike_off_unnoded_collinear_edge(self):
        """A vertex (19 15) pokes ~4e-3 out of an edge line that both
        operands share up to float noise. The sweep leaves the
        near-collinear overlap unnoded, and the trace used to take the
        bare chord and drop the spike (area short by ~9e-6)."""
        import numpy as np

        import geopandas_spark.geom.clipping as mr

        a = [np.array([
            [6.764, 13.351], [6.764, 8.649], [11.236, 7.196],
            [12.002903971868458, 7.528873426402055], [16.545, 5.245],
            [20.0, 10.0], [19.8152810431211, 10.919823036060322],
            [20.0, 11.0], [19.780003786104345, 11.095489000189305],
            [18.09, 19.511], [13.184169495031835, 13.958400187231732],
            [11.236, 14.804], [6.764, 13.351]])]
        b = [np.array([
            [6.764, 17.351], [6.764, 12.649], [11.545, 10.245],
            [11.764, 10.384684104627766], [11.764, 7.649],
            [16.236, 6.196], [20.0, 10.0],
            [18.996365076605688, 14.997681547855137], [19.0, 15.0],
            [18.995451995053482, 15.002228311542575], [18.09, 19.511],
            [15.58342334595085, 16.67396414116473], [11.236, 18.804],
            [6.764, 17.351]])]
        for out in (mr.boolean_op(a, b, mr.UNION), mr.union_many([a, b])):
            assert len(out) == 1 and len(out[0]) == 1
            ring = out[0][0]
            assert ((ring[:, 0] == 19.0) & (ring[:, 1] == 15.0)).any()
            assert abs(mr._ring_signed_area(ring) - 135.0907715745811) < 1e-9

    def test_union_many_welds_ulp_twin_vertices(self):
        """Three buffer rectangles, two of whose corners are 1 ulp apart
        (7.294 against 7.2940000000000005): the unwelded sweep missed
        the crossings behind the twin pair and the union came back
        empty (a holed star's opening lost 93% of its area)."""
        import numpy as np

        import geopandas_spark.geom.clipping as mr

        rects = [
            [(23.861712266039746, 11.082269003264049),
             (22.704822453095964, 8.31430838925472), (25.146, 7.294),
             (26.302889812943782, 10.06196061400933)],
            [(26.361150798347463, 10.036142891988852),
             (25.08773901459632, 7.319817722020477),
             (25.203111831107005, 7.2657310074792365),
             (26.47652361485815, 9.982056177447614)],
            [(27.159504753229548, 9.517915153220105),
             (25.146, 7.2940000000000005),
             (29.17983878478333, 3.6418131999943824),
             (31.193343538012876, 5.865728353214488)]]
        polys = [[np.array(r + r[:1])] for r in rects]
        out = mr.union_many(polys)
        tree = mr.boolean_op(
            [r for p in mr.boolean_op(polys[0], polys[1], mr.UNION)
             for r in p], polys[2], mr.UNION)
        area = sum(mr._ring_signed_area(r) for p in out for r in p)
        assert len(out) == len(tree) == 1
        assert abs(area - 24.589833486454) < 1e-9
        assert abs(area - sum(mr._ring_signed_area(r)
                              for p in tree for r in p)) < 1e-9

    def test_union_tree_matches_union_many_on_star_stack(self):
        """Five star polygons whose tips graze shared edge lines: the
        pairwise merge tree used to lose a tip (147.965 against 147.991)."""
        import numpy as np

        import geopandas_spark.geom.clipping as mr

        stars = [
            [(20, 11), (11.236, 14.804), (6.764, 13.351), (6.764, 8.649),
             (11.236, 7.196)],
            [(14, 15), (12.163, 21.657), (6.764, 17.351), (6.764, 12.649),
             (11.236, 11.196)],
            [(19, 16), (11.236, 19.804), (6.764, 18.351), (6.764, 13.649),
             (11.854, 10.294)],
            [(20, 10), (18.09, 19.511), (11.764, 12.351), (11.764, 7.649),
             (16.236, 6.196)],
            [(20, 10), (18.09, 19.511), (11.764, 12.351), (11.764, 7.649),
             (16.545, 5.245)]]
        ga = ga_from_wkt(*["POLYGON ((" + ", ".join(
            f"{x} {y}" for x, y in s + s[:1]) + "))" for s in stars])
        u1 = algos.union_all(ga)
        orig = mr.union_many
        mr.union_many = lambda p: (_ for _ in ()).throw(ValueError())
        try:
            u2 = algos.union_all(ga)
        finally:
            mr.union_many = orig
        assert abs(algos.area(u1)[0] - 147.991228152782) < 1e-9
        assert abs(algos.area(u2)[0] - algos.area(u1)[0]) < 1e-9
        assert abs(algos.length(u2)[0] - algos.length(u1)[0]) < 1e-9

    def test_union_many_holes_and_duplicates(self):
        ws = ["POLYGON ((0 0, 12 0, 12 12, 0 12, 0 0), "
              "(4 4, 8 4, 8 8, 4 8, 4 4))",          # donut
              "POLYGON ((5 5, 7 5, 7 7, 5 7, 5 5))",  # island in the hole
              "POLYGON ((0 0, 12 0, 12 12, 0 12, 0 0), "
              "(4 4, 8 4, 8 8, 4 8, 4 4))"]           # exact duplicate
        u = algos.union_all(ga_from_wkt(*ws))
        # 144 - 16 (hole) + 4 (island) = 132
        assert algos.area(u)[0] == 132.0
        assert algos.count_geometries(u)[0] == 2   # donut + island

    def test_union_all_coverage_grid(self):
        # 3x3 edge-matched unit tiles -> one 3x3 square, no sweep
        ws = [f"POLYGON (({i} {j}, {i+1} {j}, {i+1} {j+1}, {i} {j+1}, "
              f"{i} {j}))" for i in range(3) for j in range(3)]
        u = algos.union_all(ga_from_wkt(*ws), method="coverage")
        assert algos.area(u)[0] == 9.0
        assert algos.length(u)[0] == 12.0
        assert algos.count_interior_rings(u)[0] == 0

    def test_union_all_coverage_hole(self):
        # ring of 8 tiles around an empty center -> square with hole
        ws = [f"POLYGON (({i} {j}, {i+1} {j}, {i+1} {j+1}, {i} {j+1}, "
              f"{i} {j}))" for i in range(3) for j in range(3)
              if not (i == 1 and j == 1)]
        u = algos.union_all(ga_from_wkt(*ws), method="coverage")
        assert algos.area(u)[0] == 8.0
        assert algos.count_interior_rings(u)[0] == 1

    def test_union_all_coverage_fallback_matches_unary(self):
        # detectable violation (duplicated directed edge: stacked tiles)
        # falls back to the full union — same result as method="unary"
        ws = ["POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"] * 2 + \
             ["POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))"]
        cu = algos.union_all(ga_from_wkt(*ws), method="coverage")
        uu = algos.union_all(ga_from_wkt(*ws))
        assert algos.area(cu)[0] == algos.area(uu)[0] == 2.0

    def test_union_all_coverage_disjoint_and_pinch(self):
        ws = ["POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
              "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))",   # corner touch
              "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"]   # disjoint
        u = algos.union_all(ga_from_wkt(*ws), method="coverage")
        assert algos.area(u)[0] == 3.0
        assert algos.count_geometries(u)[0] == 3

    def test_union_all_coverage_method_validation(self):
        import pytest as _pt
        with _pt.raises(ValueError):
            algos.union_all(ga_from_wkt("POINT (0 0)"), method="nope")

    def test_get_parts(self):
        ga = ga_from_wkt("MULTIPOINT ((1 1), (2 2))", "POINT (3 3)")
        parts, parent, ordinal = algos.get_parts(ga)
        assert wkt.format_array(parts) == ["POINT (1 1)", "POINT (2 2)",
                                           "POINT (3 3)"]
        np.testing.assert_array_equal(parent, [0, 0, 1])
        np.testing.assert_array_equal(ordinal, [0, 1, 0])

    def test_interpolate(self):
        ga = ga_from_wkt("LINESTRING (0 0, 10 0)")
        p = algos.interpolate(ga, 4.0)
        assert wkt.format_array(p) == ["POINT (4 0)"]
        p = algos.interpolate(ga, 0.5, normalized=True)
        assert wkt.format_array(p) == ["POINT (5 0)"]

    def test_project(self):
        ga = ga_from_wkt("LINESTRING (0 0, 10 0)")
        gb = ga_from_wkt("POINT (3 5)")
        np.testing.assert_allclose(algos.project(ga, gb), [3.0])

    def test_boundary(self):
        ga = ga_from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 0))",
                         "LINESTRING (0 0, 1 1)")
        out = wkt.format_array(algos.boundary(ga))
        assert out[0] == "LINESTRING (0 0, 1 0, 1 1, 0 0)"
        assert out[1] == "MULTIPOINT ((0 0), (1 1))"


class TestValidity:
    def test_is_valid(self):
        ga = ga_from_wkt(
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
            "POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))",  # bowtie
            None,
        )
        np.testing.assert_array_equal(algos.is_valid(ga), [True, False, False])

    def test_is_valid_consecutive_duplicate_vertices(self):
        # GEOS parity (r10 ADVICE): repeated CONSECUTIVE points are
        # valid; only non-consecutive revisits (pinches) are not.
        ga = ga_from_wkt(
            "POLYGON ((0 0, 1 0, 1 0, 1 1, 0 1, 0 0))",   # interior dup
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0, 0 0))",   # dup at wrap
            "POLYGON ((0 0, 1 0, 1 0, 0 0))",             # collapses: seg
            "POLYGON ((0 0, 2 0, 2 2, 1 1, 2 2, 0 2, 0 0))",  # true pinch
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0),"
            " (1 1, 2 1, 2 1, 2 2, 1 2, 1 1))",           # dup in hole
        )
        np.testing.assert_array_equal(
            algos.is_valid(ga), [True, True, False, False, True])
        assert algos.is_valid_reason(ga)[0] == "Valid Geometry"

    def test_is_valid_sibling_shells(self):
        # r10: nested/overlapping sibling shells — the last documented
        # is_valid gap. Island-in-a-hole and point-touch stay valid.
        ga = ga_from_wkt(
            "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)),"
            " ((2 2, 4 2, 4 4, 2 4, 2 2)))",                  # nested
            "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0),"
            " (1 1, 9 1, 9 9, 1 9, 1 1)),"
            " ((3 3, 5 3, 5 5, 3 5, 3 3)))",                  # in hole
            "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)),"
            " ((2 2, 6 2, 6 6, 2 6, 2 2)))",                  # overlap
            "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
            " ((2 2, 4 2, 4 4, 2 4, 2 2)))",                  # pt touch
            "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
            " ((2 0, 4 0, 4 2, 2 2, 2 0)))",                  # edge share
        )
        np.testing.assert_array_equal(
            algos.is_valid(ga), [False, True, False, True, False])
        reasons = algos.is_valid_reason(ga)
        assert reasons[0] == "Nested shells"
        assert reasons[1] == "Valid Geometry"

    def test_is_ring_closed(self):
        ga = ga_from_wkt("LINESTRING (0 0, 1 0, 1 1, 0 0)",
                         "LINESTRING (0 0, 1 1)")
        np.testing.assert_array_equal(algos.is_closed(ga), [True, False])
        np.testing.assert_array_equal(algos.is_ring(ga), [True, False])


class TestHilbert:
    def test_hilbert_locality(self):
        ga = points_from_xy([0, 1, 1000], [0, 1, 1000])
        d = algos.hilbert_distance(ga, [0, 0, 1000, 1000], level=10)
        assert abs(int(d[0]) - int(d[1])) < abs(int(d[0]) - int(d[2]))

    def test_hilbert_unique_cells(self):
        rng = np.random.default_rng(42)
        pts = points_from_xy(rng.uniform(0, 100, 200), rng.uniform(0, 100, 200))
        d = algos.hilbert_distance(pts, [0, 0, 100, 100], level=15)
        assert len(np.unique(d)) > 150


class TestBooleanOps:
    """Martinez–Rueda set ops (geom/clipping.py; reference:
    geopandas/base.py:4405-4879)."""

    def test_overlapping_boxes_all_ops(self):
        a = ga_from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        b = ga_from_wkt("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
        assert algos.area(algos.intersection(a, b))[0] == 25.0
        assert algos.area(algos.union(a, b))[0] == 175.0
        assert algos.area(algos.difference(a, b))[0] == 75.0
        assert algos.area(algos.symmetric_difference(a, b))[0] == 150.0
        # XOR of overlapping boxes is two disjoint L-shapes
        assert wkt.format_array(
            algos.symmetric_difference(a, b))[0].startswith("MULTIPOLYGON")

    def test_concave_times_box(self):
        L = ga_from_wkt("POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))")
        box = ga_from_wkt("POLYGON ((1 1, 5 1, 5 5, 1 5, 1 1))")
        assert algos.area(algos.intersection(L, box))[0] == 7.0
        assert algos.area(algos.difference(L, box))[0] == 13.0
        assert algos.area(algos.union(L, box))[0] == 20.0 + 16.0 - 7.0

    def test_hole_preserved(self):
        H = ga_from_wkt("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0),"
                        " (3 3, 5 3, 5 5, 3 5, 3 3))")
        box = ga_from_wkt("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
        assert algos.area(algos.intersection(H, box))[0] == 12.0
        # difference carving a hole entirely inside the subject
        big = ga_from_wkt("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))")
        small = ga_from_wkt("POLYGON ((3 3, 5 3, 5 5, 3 5, 3 3))")
        d = algos.difference(big, small)
        assert algos.area(d)[0] == 60.0
        assert algos.count_interior_rings(d)[0] == 1

    def test_disjoint_and_empty(self):
        a = ga_from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", None)
        b = ga_from_wkt("POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",
                        "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        inter = algos.intersection(a, b)
        assert inter.is_empty()[0]
        assert inter.is_missing()[1]
        assert algos.area(algos.union(a, b))[0] == 2.0
        assert wkt.format_array(algos.union(a, b))[0].startswith("MULTIPOLYGON")

    def test_shared_edge_union_dissolves_edge(self):
        a = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        b = ga_from_wkt("POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))")
        u = algos.union(a, b)
        assert algos.area(u)[0] == 8.0
        assert wkt.format_array(u)[0].startswith("POLYGON")
        # touching-only intersection is polygonal-empty (documented deviation)
        assert algos.area(algos.intersection(a, b))[0] == 0.0

    def test_line_polygon_clip(self):
        L = ga_from_wkt("POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))")
        ln = ga_from_wkt("LINESTRING (-1 1, 7 1)")
        assert algos.length(algos.intersection(ln, L))[0] == 6.0
        assert algos.length(algos.difference(ln, L))[0] == 2.0

    def test_line_line(self):
        l1 = ga_from_wkt("LINESTRING (0 0, 10 0)")
        l2 = ga_from_wkt("LINESTRING (5 -5, 5 5)")
        assert wkt.format_array(algos.intersection(l1, l2))[0] == "POINT (5 0)"
        l3 = ga_from_wkt("LINESTRING (2 0, 6 0)")
        assert algos.length(algos.intersection(l1, l3))[0] == 4.0
        assert algos.length(algos.union(l1, l3))[0] == 10.0
        assert algos.length(algos.difference(l1, l3))[0] == 6.0

    def test_union_all_overlapping(self):
        ga = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
                         "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))",
                         "POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))")
        u = algos.union_all(ga)
        assert algos.area(u)[0] == 29.0
        assert wkt.format_array(u)[0].startswith("MULTIPOLYGON")

    def test_union_all_tree_matches_pairwise(self):
        # 7 shifted boxes in a row, each overlapping the next by half
        texts = [f"POLYGON (({i} 0, {i+2} 0, {i+2} 2, {i} 2, {i} 0))"
                 for i in range(7)]
        u = algos.union_all(ga_from_wkt(*texts))
        assert algos.area(u)[0] == 8.0 * 2.0  # x ∈ [0, 8], y ∈ [0, 2]

    def test_multipolygon_inputs(self):
        mp = ga_from_wkt("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
                         " ((4 0, 6 0, 6 2, 4 2, 4 0)))")
        box = ga_from_wkt("POLYGON ((1 1, 5 1, 5 3, 1 3, 1 1))")
        assert algos.area(algos.intersection(mp, box))[0] == 2.0
        assert algos.area(algos.union(mp, box))[0] == 8.0 + 8.0 - 2.0


class TestConstructiveExtras:
    def test_segmentize(self):
        ga = ga_from_wkt("LINESTRING (0 0, 10 0)")
        out = algos.segmentize(ga, 3.0)
        assert wkt.format_array(out)[0] == \
            "LINESTRING (0 0, 2.5 0, 5 0, 7.5 0, 10 0)"
        assert algos.length(out)[0] == 10.0

    def test_remove_repeated_points(self):
        ga = ga_from_wkt("LINESTRING (0 0, 0 0, 1 1, 1 1, 2 2)")
        assert wkt.format_array(algos.remove_repeated_points(ga))[0] == \
            "LINESTRING (0 0, 1 1, 2 2)"

    def test_extract_unique_points(self):
        ga = ga_from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 0))")
        assert wkt.format_array(algos.extract_unique_points(ga))[0] == \
            "MULTIPOINT ((0 0), (1 0), (1 1))"

    def test_normalize_idempotent_across_rotation(self):
        a = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        b = ga_from_wkt("POLYGON ((2 2, 0 2, 0 0, 2 0, 2 2))")  # rotated CCW
        c = ga_from_wkt("POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0))")  # CW winding
        na = wkt.format_array(algos.normalize(a))[0]
        nb = wkt.format_array(algos.normalize(b))[0]
        nc = wkt.format_array(algos.normalize(c))[0]
        assert na == nb == nc

    def test_orient_polygons(self):
        cw = ga_from_wkt("POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0))")
        out = algos.orient_polygons(cw)
        assert algos.is_ccw(algos.boundary(out))[0]

    def test_set_precision(self):
        ga = ga_from_wkt("POINT (1.26 3.74)")
        assert wkt.format_array(algos.set_precision(ga, 0.5))[0] == \
            "POINT (1.5 3.5)"

    def test_snap(self):
        a = ga_from_wkt("LINESTRING (0.1 0.1, 5 5)")
        b = ga_from_wkt("POINT (0 0)")
        out = algos.snap(a, b, 0.5)
        assert wkt.format_array(out)[0] == "LINESTRING (0 0, 5 5)"

    def test_shortest_line(self):
        a = ga_from_wkt("POINT (0 5)")
        b = ga_from_wkt("LINESTRING (2 0, 2 10)")
        out = algos.shortest_line(a, b)
        assert wkt.format_array(out)[0] == "LINESTRING (0 5, 2 5)"

    def test_hausdorff(self):
        a = ga_from_wkt("LINESTRING (0 0, 10 0)")
        b = ga_from_wkt("LINESTRING (0 3, 10 3)")
        np.testing.assert_allclose(algos.hausdorff_distance(a, b), [3.0])

    def test_frechet(self):
        a = ga_from_wkt("LINESTRING (0 0, 10 0)")
        b = ga_from_wkt("LINESTRING (0 3, 10 3)")
        np.testing.assert_allclose(algos.frechet_distance(a, b), [3.0])

    def test_hausdorff_frechet_densify(self):
        # JTS DiscreteHausdorffDistance javadoc example: vertex-sampled
        # sqrt(200), densifyFraction=0.5 -> exactly 70.0
        a = ga_from_wkt("LINESTRING (130 0, 0 0, 0 150)")
        b = ga_from_wkt("LINESTRING (10 10, 10 150, 130 10)")
        np.testing.assert_allclose(algos.hausdorff_distance(a, b),
                                   [np.sqrt(200.0)])
        assert algos.hausdorff_distance(a, b, densify=0.5)[0] == 70.0
        p = ga_from_wkt("LINESTRING (0 0, 10 0)")
        q = ga_from_wkt("LINESTRING (0 0, 5 4, 10 0)")
        np.testing.assert_allclose(algos.frechet_distance(p, q),
                                   [np.sqrt(41.0)])
        assert algos.frechet_distance(p, q, densify=0.5)[0] == 4.0
        assert algos.frechet_distance(p, q, densify=0.25)[0] == 4.0
        import pytest
        with pytest.raises(ValueError):
            algos.hausdorff_distance(a, b, densify=1.5)

    def test_minimum_bounding_radius_box(self):
        ga = ga_from_wkt("POLYGON ((0 0, 6 0, 6 8, 0 8, 0 0))")
        np.testing.assert_allclose(algos.minimum_bounding_radius(ga), [5.0])

    def test_minimum_bounding_circle_geometry(self):
        ga = ga_from_wkt("POLYGON ((0 0, 6 0, 6 8, 0 8, 0 0))")
        circ = algos.minimum_bounding_circle(ga)
        # center (3,4), radius 5 → bbox [-2,-1,8,9] up to the 64-gon chord
        bb = algos.bounds(circ)[0]
        np.testing.assert_allclose(bb, [-2, -1, 8, 9], atol=0.02)
        # covers the input shrunk clear of the polygonized-chord sagitta
        inner = ga_from_wkt("POLYGON ((0.1 0.1, 5.9 0.1, 5.9 7.9, 0.1 7.9,"
                            " 0.1 0.1))")
        assert algos.covers(circ, inner)[0]

    def test_minimum_rotated_rectangle(self):
        # 45-degree line of points → thin diagonal rect, area ~0
        ga = ga_from_wkt("MULTIPOINT ((0 0), (2 2), (4 4))")
        out = algos.minimum_rotated_rectangle(ga)
        # degenerate → linestring hull
        assert wkt.format_array(out)[0].startswith("LINESTRING")
        ga2 = ga_from_wkt("POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))")
        out2 = algos.minimum_rotated_rectangle(ga2)
        np.testing.assert_allclose(algos.area(out2), [8.0])

    def test_representative_point_inside(self):
        # C-shape whose centroid falls in the gap
        ga = ga_from_wkt(
            "POLYGON ((0 0, 5 0, 5 1, 1 1, 1 4, 5 4, 5 5, 0 5, 0 0))")
        rp = algos.representative_point(ga)
        x, y = algos.get_x(rp)[0], algos.get_y(rp)[0]
        assert algos.points_in_geom(np.array([x]), np.array([y]), ga, 0)[0] == 2

    def test_geom_equals_exact(self):
        a = ga_from_wkt("LINESTRING (0 0, 1 1)")
        b = ga_from_wkt("LINESTRING (0 0.0000001, 1 1)")
        assert algos.geom_equals_exact(a, b, 1e-6)[0]
        assert not algos.geom_equals_exact(a, b, 1e-9)[0]

    def test_contains_properly(self):
        a = ga_from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
                        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        b = ga_from_wkt("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))",
                        "POLYGON ((0 2, 4 2, 4 4, 0 4, 0 2))")  # touches edge
        np.testing.assert_array_equal(algos.contains_properly(a, b),
                                      [True, False])
        np.testing.assert_array_equal(algos.contains(a, b), [True, True])


class TestGeneralBuffer:
    """General Minkowski buffer paths (reference: base.py:5389 buffer).
    Areas compared against closed forms with the polygonized-arc chord
    tolerance (circumscribed disks: rel error < 1e-3)."""

    def test_line_capsule(self):
        ga = ga_from_wkt("LINESTRING (0 0, 10 0)")
        a = algos.area(algos.buffer(ga, 1.0))[0]
        np.testing.assert_allclose(a, 20 + np.pi, rtol=2e-3)

    def test_concave_polygon_buffer(self):
        L = ga_from_wkt("POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))")
        a = algos.area(algos.buffer(L, 0.5))[0]
        # A + P*d + pi d^2 (convex corners) - reflex corner notch (d^2 - pi d^2/4)
        exact = 20 + 24 * 0.5 + np.pi * 0.25 - (0.25 - np.pi * 0.25 / 4)
        np.testing.assert_allclose(a, exact, rtol=2e-3)
        assert algos.is_valid(algos.buffer(L, 0.5))[0]

    def test_negative_buffer_erosion(self):
        L = ga_from_wkt("POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))")
        a = algos.area(algos.buffer(L, -0.5))[0]
        # arms union (9) + reflex-corner clearance (0.25 - pi/16)
        np.testing.assert_allclose(a, 9 + 0.25 - np.pi / 16, rtol=3e-3)

    def test_erosion_grows_hole(self):
        H = ga_from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
                        " (4 4, 6 4, 6 6, 4 6, 4 4))")
        out = algos.buffer(H, -1.0)
        a = algos.area(out)[0]
        np.testing.assert_allclose(a, 64 - 16 + (4 - np.pi), rtol=2e-3)
        assert algos.count_interior_rings(out)[0] == 1

    def test_negative_buffer_lines_points_empty(self):
        """GEOS: negative buffer of lower-dimensional geometry is empty
        (nothing to erode), not an error."""
        ga = ga_from_wkt("LINESTRING (0 0, 5 0)", "POINT (1 2)",
                         "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")
        out = algos.buffer(ga, -1.0)
        assert out.is_empty().all()
        assert algos.area(out).sum() == 0.0

    def test_multipoint_buffer_merges(self):
        mp = ga_from_wkt("MULTIPOINT ((0 0), (0.5 0), (10 0))")
        a = algos.area(algos.buffer(mp, 1.0))[0]
        r = 1.0
        dlens = 2 * r * r * np.arccos(0.25) - 0.25 * np.sqrt(4 - 0.25)
        np.testing.assert_allclose(a, 2 * np.pi - dlens + np.pi, rtol=3e-3)


class TestRepairAndLinework:
    def test_make_valid_bowtie(self):
        bt = ga_from_wkt("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))")
        mv = algos.make_valid(bt)
        assert algos.is_valid(mv)[0]
        assert algos.area(mv)[0] == 2.0
        assert wkt.format_array(mv)[0].startswith("MULTIPOLYGON")
        # vertex-pinched rings (a ring revisiting one of its own
        # vertices): an inverted-notch hole and a figure-eight
        for w, area in (
                ("POLYGON ((0 0, 4 0, 4 4, 2 4, 3 2, 1 2, 2 4, 0 4, 0 0))",
                 14.0),
                ("POLYGON ((0 0, 2 0, 1 1, 2 2, 0 2, 1 1, 0 0))", 2.0)):
            g = ga_from_wkt(w)
            assert not algos.is_valid(g)[0]
            for method in ("linework", "structure"):
                mv = algos.make_valid(g, method=method)
                assert algos.is_valid(mv)[0], (w, method)
                assert algos.area(mv)[0] == area, (w, method)

    def test_make_valid_pinch_hole_on_pinch_point(self):
        # r10 ADVICE: a hole whose FIRST vertex is exactly the pinch
        # point matched no lobe and was silently dropped, inflating the
        # repaired area — the re-homing now probes all vertices + edge
        # midpoints
        g = ga_from_wkt(
            "POLYGON ((0 0, 4 0, 2 2, 4 4, 0 4, 2 2, 0 0),"
            " (2 2, 1 2, 1.5 1.2, 2 2))")
        no_hole = ga_from_wkt("POLYGON ((0 0, 4 0, 2 2, 4 4, 0 4, 2 2, 0 0))")
        a_with = algos.area(algos.make_valid(g, method="structure"))[0]
        a_wo = algos.area(algos.make_valid(no_hole, method="structure"))[0]
        assert a_with < a_wo          # the hole subtracts area

    def test_make_valid_boundary_notch_becomes_hole(self):
        # r10 deep-sweep find (seed 192): the coverage-merge tracer
        # folds an excluded boundary notch into one pinched ring; the
        # pinch split must respect orientation — the reversed loop is a
        # HOLE of the containing lobe, not a sibling lobe overlapping
        # the region it was carved from.
        g = ga_from_wkt(
            "POLYGON ((6 0, 6 4, 0 5, 9 7, 6 0, 2 7, 6 2, 6 0))")
        mv = algos.make_valid(g)
        assert algos.is_valid(mv)[0], algos.is_valid_reason(mv)[0]
        parts, _p, _t = algos.get_parts(mv)
        # the excluded triangle (6 4, 4.15.., 6 2) must NOT double-count
        import numpy as np
        enc = wkb.encode(parts)
        for a in range(len(parts)):
            for b in range(a + 1, len(parts)):
                inter = algos.intersection(wkb.decode([enc[a]]),
                                           wkb.decode([enc[b]]))
                assert float(algos.area(inter)[0]) <= 1e-9

    def test_make_valid_passthrough(self):
        ok = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", None)
        out = algos.make_valid(ok)
        assert wkt.format_array(out) == wkt.format_array(ok)

    def test_make_valid_method_split(self):
        """Jutting hole (crosses the shell): linework applies the even-odd
        strategy — the shell∩hole overlap (depth 2) becomes a hole, the
        jutting region (depth 1) becomes AREA: 100 - 6 + 9 = 103.
        structure subtracts the hole inside and drops the outside part
        (GEOS MakeValid method semantics, reference base.py:2114)."""
        g = ga_from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
                        "(8 4, 13 4, 13 7, 8 7, 8 4))")
        assert not algos.is_valid(g)[0]
        lw = algos.make_valid(g, method="linework")
        sv = algos.make_valid(g, method="structure")
        assert algos.area(lw)[0] == 103.0 and algos.is_valid(lw)[0]
        assert algos.area(sv)[0] == 94.0 and algos.is_valid(sv)[0]

    def test_make_valid_linework_nested_rings(self):
        """Three nested disjoint rings as one 'polygon': even-odd keeps
        the outer annulus (with the middle ring as hole) and the inner
        island — area 100 - 36 + 4 = 68."""
        g = ga_from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
                        "(2 2, 8 2, 8 8, 2 8, 2 2), "
                        "(4 4, 6 4, 6 6, 4 6, 4 4))")
        lw = algos.make_valid(g, method="linework")
        assert algos.area(lw)[0] == 68.0
        assert algos.is_valid(lw)[0]

    def test_make_valid_hole_outside_shell(self):
        g = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
                        "(10 10, 12 10, 12 12, 10 12, 10 10))")
        assert not algos.is_valid(g)[0]
        assert algos.area(algos.make_valid(g, method="linework"))[0] == 20.0
        assert algos.area(algos.make_valid(g, method="structure"))[0] == 16.0

    def test_is_valid_detects_ring_cross(self):
        bad = ga_from_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
            "(8 4, 12 4, 12 6, 8 6, 8 4))",          # hole crosses shell
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
            "(1 1, 2 1, 2 2, 1 2, 1 1))")            # proper hole: valid
        v = algos.is_valid(bad)
        assert not v[0] and v[1]

    def test_is_valid_reason_nested_holes(self):
        g = ga_from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
                        "(2 2, 8 2, 8 8, 2 8, 2 2), "
                        "(4 4, 6 4, 6 6, 4 6, 4 4))")
        assert not algos.is_valid(g)[0]
        assert algos.is_valid_reason(g) == ["Holes are nested"]

    def test_hole_pair_batched_kernel(self):
        """r12: _hole_pairs_cross is one batched pass per polygon (no
        per-edge Python loop). Semantics pinned: proper hole-hole
        crossing and positive-length collinear hole-hole overlap are
        invalid; disjoint / single-point-touch / bbox-touching-but-
        separate holes are valid."""
        shell = "(0 0, 20 0, 20 20, 0 20, 0 0)"
        cases = [
            # two properly crossing holes (the r11 ADVICE counterexample)
            (f"POLYGON ({shell}, (2 4, 8 4, 8 6, 2 6, 2 4), "
             "(4 2, 6 2, 6 8, 4 8, 4 2))", False, "Self-intersection"),
            # collinear overlap along y=3, x in [3,5]
            (f"POLYGON ({shell}, (1 1, 5 1, 5 3, 1 3, 1 1), "
             "(3 3, 7 3, 7 5, 3 5, 3 3))", False, "Self-intersection"),
            # disjoint holes
            (f"POLYGON ({shell}, (1 1, 2 1, 2 2, 1 2, 1 1), "
             "(3 3, 4 3, 4 4, 3 4, 3 3))", True, "Valid Geometry"),
            # single corner touch
            (f"POLYGON ({shell}, (1 1, 3 1, 3 3, 1 3, 1 1), "
             "(3 3, 5 3, 5 5, 3 5, 3 3))", True, "Valid Geometry"),
            # bbox overlap but geometrically separate (L-nested)
            (f"POLYGON ({shell}, (1 1, 9 1, 9 2, 1 2, 1 1), "
             "(1 3, 2 3, 2 9, 1 9, 1 3))", True, "Valid Geometry"),
        ]
        for w, want, reason in cases:
            g = ga_from_wkt(w)
            assert bool(algos.is_valid(g)[0]) == want, w
            assert algos.is_valid_reason(g)[0] == reason, w

    def test_hole_rich_polygon_validity_microbench(self):
        """r12 (VERDICT #4): a 50-hole, ~2k-vertex polygon validity
        check must not degrade O(H²·E) in interpreter iterations —
        the batched hole-pair pass keeps it well under a second."""
        import time as _t
        shell = "(0 0, 200 0, 200 200, 0 200, 0 0)"
        holes = []
        for i in range(50):
            x = 3 + (i % 10) * 19
            y = 3 + (i // 10) * 19
            ang = np.linspace(0, 2 * np.pi, 41)[:-1]
            r = 5 + 2 * np.sin(5 * ang + i)
            xs = x + 6 + r * np.cos(ang)
            ys = y + 6 + r * np.sin(ang)
            pts = ", ".join(f"{a:.4f} {b:.4f}" for a, b in zip(xs, ys))
            holes.append(f"({pts}, {xs[0]:.4f} {ys[0]:.4f})")
        g = ga_from_wkt(f"POLYGON ({shell}, " + ", ".join(holes) + ")")
        t0 = _t.perf_counter()
        ok = algos.is_valid(g)
        dt = _t.perf_counter() - t0
        assert bool(ok[0])
        assert dt < 5.0, f"50-hole validity took {dt:.2f}s"

    def test_is_valid_reason(self):
        ga = ga_from_wkt("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))",
                         "POINT (1 1)", None)
        r = algos.is_valid_reason(ga)
        assert r[0] == "Self-intersection"
        assert r[1] == "Valid Geometry"
        assert r[2] is None

    def test_is_valid_interior_disconnected(self):
        """GEOS 'Interior is disconnected' (r10): a hole chain whose
        touch points cut the interior in two is invalid; trees of
        single touches — including several rings through ONE common
        point — stay valid."""
        shell = "(0 0, 10 0, 10 10, 0 10, 0 0)"
        cases = [
            # hole touches shell at two points -> cut
            (f"POLYGON ({shell}, (0 5, 5 2, 10 5, 5 8, 0 5))", False),
            # two holes chain shell->h1->h2->shell -> cut
            (f"POLYGON ({shell}, (0 5, 3 3, 5 5, 3 7, 0 5), "
             "(5 5, 8 3, 10 5, 8 7, 5 5))", False),
            # single touch point -> connected
            (f"POLYGON ({shell}, (0 5, 5 2, 5 8, 0 5))", True),
            # two holes + shell through ONE common point -> connected
            (f"POLYGON ({shell}, (5 0, 4 2, 3 1, 5 0), "
             "(5 0, 7 1, 6 2, 5 0))", True),
            # two holes touching each other once, off the shell
            (f"POLYGON ({shell}, (2 2, 5 5, 2 5, 2 2), "
             "(5 5, 8 5, 8 8, 5 5))", True),
        ]
        for w, want in cases:
            g = ga_from_wkt(w)
            assert bool(algos.is_valid(g)[0]) == want, \
                (w, algos.is_valid_reason(g)[0])
        g = ga_from_wkt(cases[0][0])
        assert algos.is_valid_reason(g)[0] == "Interior is disconnected"
        # make_valid repairs the cut into a two-part multipolygon
        mv = algos.make_valid(g, method="linework")
        assert algos.is_valid(mv)[0]
        assert abs(algos.area(mv)[0] - (100 - 30)) < 1e-9

    def test_is_valid_reason_ring_self_touch(self):
        """GEOS phrasing split (r10): point-contact-only self-touches
        (revisited vertex / T-touch) say "Ring Self-intersection";
        proper crossings stay "Self-intersection" (shapely
        explain_validity parity)."""
        ga = ga_from_wkt(
            # figure-8 revisiting (1 1): touch, no crossing
            "POLYGON ((0 0, 2 0, 1 1, 2 2, 0 2, 1 1, 0 0))",
            # T-touch: vertex (2 0) in the interior of edge (0 0)-(4 0)
            "POLYGON ((0 0, 4 0, 4 4, 2 0, 0 4, 0 0))",
            # bowtie: proper crossing at (1 1)
            "POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))")
        r = algos.is_valid_reason(ga)
        assert r[0] == "Ring Self-intersection"
        assert r[1] == "Ring Self-intersection"
        assert r[2] == "Self-intersection"

    def test_is_valid_crossing_holes(self):
        """r11 ADVICE: two holes that properly cross (GEOS
        'Self-intersection') were previously accepted — only
        hole-vs-shell edges were tested and the nesting probe used
        first-edge midpoints."""
        shell = "(0 0, 10 0, 10 10, 0 10, 0 0)"
        # the ADVICE reproducer: plus-sign crossing holes
        g = ga_from_wkt(
            f"POLYGON ({shell}, (2 4, 6 4, 6 6, 2 6, 2 4), "
            "(4 2, 5 2, 5 8, 4 8, 4 2))")
        assert not algos.is_valid(g)[0]
        assert algos.is_valid_reason(g)[0] == "Self-intersection"
        # collinear positive-length retrace between two holes
        g2 = ga_from_wkt(
            f"POLYGON ({shell}, (2 2, 5 2, 5 5, 2 5, 2 2), "
            "(5 3, 8 3, 8 6, 5 6, 5 3))")
        # shared stretch of x=5 between y=3..5 is a positive-length
        # boundary overlap -> GEOS Self-intersection
        assert not algos.is_valid(g2)[0]
        assert algos.is_valid_reason(g2)[0] == "Self-intersection"
        # control: holes touching at ONE isolated point stay valid
        g3 = ga_from_wkt(
            f"POLYGON ({shell}, (2 2, 5 5, 2 5, 2 2), "
            "(5 5, 8 5, 8 8, 5 5))")
        assert algos.is_valid(g3)[0]

    def test_is_valid_hole_vertex_penetration(self):
        """A hole overlapping a sibling hole only through shared
        VERTICES (no proper edge crossing, no collinear overlap) is
        still invalid: the all-vertex+midpoint nesting probes see a
        boundary point of one hole strictly interior to the other
        (the old first-edge-midpoint probe missed this shape)."""
        g = ga_from_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
            "(2 2, 6 2, 6 6, 2 6, 2 2), "        # hole A
            "(2 6, 1 4, 2 2, 4 4, 2 6))")        # hole B through A's
        #                                          corners (2 2),(2 6)
        assert not algos.is_valid(g)[0]

    def test_proper_cross_tolerance_boundary(self):
        """Pin the deliberate _CROSS_RTOL=1e-9 relative margin in
        _segs_proper_cross (documented next to _EPS): a crossing whose
        penetration is below ~1e-9 of the edge lengths reads as a
        touch (accepted false-negative, trading away the fabricated-
        proper-hit class of the parametric form); one above it is a
        proper crossing."""
        a = np.array([[[0.0, 0.0], [1.0, 0.0]]])
        shallow = np.array([[[0.5, -1e-10], [0.5, 1.0]]])
        deep = np.array([[[0.5, -1e-8], [0.5, 1.0]]])
        assert not algos._segs_proper_cross(a, shallow)
        assert algos._segs_proper_cross(a, deep)
        # the margin is relative to BOTH lengths: a SHORT segment
        # crossing symmetrically is always proper, however tiny
        tiny = np.array([[[0.5, -1e-12], [0.5, 1e-12]]])
        assert algos._segs_proper_cross(a, tiny)

    def test_line_merge(self):
        ga = ga_from_wkt(
            "MULTILINESTRING ((0 0, 1 1), (1 1, 2 2), (5 5, 6 6))",
            "MULTILINESTRING ((0 0, 1 0), (2 0, 1 0))",  # reversed join
            "LINESTRING (0 0, 9 9)")
        out = wkt.format_array(algos.line_merge(ga))
        assert out[0] == "MULTILINESTRING ((0 0, 1 1, 2 2), (5 5, 6 6))"
        assert out[1] == "LINESTRING (0 0, 1 0, 2 0)"
        assert out[2] == "LINESTRING (0 0, 9 9)"


class TestTriangulation:
    def test_delaunay_covers_hull(self):
        mp = ga_from_wkt("MULTIPOINT ((0 0), (4 0), (4 4), (0 4), (2 2))")
        dt = algos.delaunay_triangles(mp)
        assert algos.count_geometries(dt)[0] == 4
        assert algos.area(dt)[0] == 16.0
        # edge-adjacent triangles in ONE MultiPolygon are OGC-invalid
        # (r10: is_valid now detects sibling edge sharing, GEOS parity —
        # shapely returns a GeometryCollection for exactly this reason);
        # the meaningful triangulation properties are per-part validity
        # and clean coverage
        tris, _p, _t = algos.get_parts(dt)
        assert algos.is_valid(tris).all()
        assert algos.is_valid_coverage(tris)

    def test_delaunay_collinear(self):
        mp = ga_from_wkt("MULTIPOINT ((0 0), (1 1), (2 2))")
        dt = algos.delaunay_triangles(mp)
        assert algos.count_geometries(dt)[0] == 0

    def test_voronoi_partitions_envelope(self):
        mp = ga_from_wkt("MULTIPOINT ((0 0), (4 0), (4 4), (0 4), (2 2))")
        vp = algos.voronoi_polygons(mp)
        assert algos.count_geometries(vp)[0] == 5
        np.testing.assert_allclose(algos.area(vp)[0], 144.0)
        # center cell is the 2x2-diamond bisector region
        parts, _parent, _ord = algos.get_parts(vp)
        areas = sorted(algos.area(parts).tolist())
        assert all(a > 0 for a in areas)


class TestConcaveHull:
    def test_ratio_one_is_convex(self):
        mp = ga_from_wkt("MULTIPOINT ((0 0), (4 0), (8 0), (8 2), (4 2),"
                         " (2 4), (8 6), (4 6), (0 8), (4 8), (8 8), (0 4))")
        ch1 = algos.concave_hull(mp, ratio=1.0)
        cv = algos.convex_hull(mp)
        assert algos.area(ch1)[0] == algos.area(cv)[0]

    def test_smaller_ratio_carves(self):
        mp = ga_from_wkt("MULTIPOINT ((0 0), (4 0), (8 0), (8 2), (4 2),"
                         " (2 4), (8 6), (4 6), (0 8), (4 8), (8 8), (0 4))")
        ch = algos.concave_hull(mp, ratio=0.3)
        assert algos.area(ch)[0] < algos.area(algos.convex_hull(mp))[0]
        assert algos.is_valid(ch)[0]


class TestRelate:
    """DE-9IM matrices verified against GEOS-documented results
    (reference base.py:5612 relate, :5716 relate_pattern)."""

    CASES = [
        ("POINT (5 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
         "0FFFFF212"),
        ("POINT (10 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
         "F0FFFF212"),
        ("POINT (20 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
         "FF0FFF212"),
        ("POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))",
         "POLYGON ((3 3, 8 3, 8 8, 3 8, 3 3))", "212101212"),
        ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
         "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))", "FF2F11212"),
        ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
         "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))", "212FF1FF2"),
        ("LINESTRING (0 5, 10 5)",
         "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "1FFF0F212"),
        ("LINESTRING (-5 5, 15 5)",
         "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "101FF0212"),
        ("LINESTRING (0 0, 10 0)", "LINESTRING (5 -5, 5 5)", "0F1FF0102"),
        ("LINESTRING (0 0, 10 0)", "LINESTRING (2 0, 6 0)", "101FF0FF2"),
        ("POINT (1 1)", "POINT (1 1)", "0FFFFFFF2"),
    ]

    def test_matrices(self):
        for a, b, exp in self.CASES:
            got = algos.relate(ga_from_wkt(a), ga_from_wkt(b))[0]
            assert got == exp, f"{a} vs {b}: {got} != {exp}"

    def test_relate_pattern_predicates(self):
        a = ga_from_wkt("POINT (5 5)", "POINT (20 5)")
        b = ga_from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
                        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        # within pattern
        np.testing.assert_array_equal(
            algos.relate_pattern(a, b, "T*F**F***"), [True, False])
        # disjoint pattern
        np.testing.assert_array_equal(
            algos.relate_pattern(a, b, "FF*FF****"), [False, True])


class TestOffsetAndCoverage:
    def test_offset_straight(self):
        ga = ga_from_wkt("LINESTRING (0 0, 10 0)")
        assert wkt.format_array(algos.offset_curve(ga, 2.0))[0] == \
            "LINESTRING (0 2, 10 2)"
        assert wkt.format_array(algos.offset_curve(ga, -2.0))[0] == \
            "LINESTRING (0 -2, 10 -2)"

    def test_offset_corner_miter_and_arc(self):
        ga = ga_from_wkt("LINESTRING (0 0, 5 0, 5 5)")
        # inside (left) offset miters: length 4 + 4
        assert algos.length(algos.offset_curve(ga, 1.0))[0] == 8.0
        # outside (right) offset rounds: length 10 + pi/2 (chord error)
        np.testing.assert_allclose(
            algos.length(algos.offset_curve(ga, -1.0))[0],
            10 + np.pi / 2, rtol=1e-3)

    def test_is_valid_coverage(self):
        ok = ga_from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
                         "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")
        bad = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                          "POLYGON ((1 0, 3 0, 3 2, 1 2, 1 0))")
        assert algos.is_valid_coverage(ok)
        assert not algos.is_valid_coverage(bad)

    def test_get_precision(self):
        ga = ga_from_wkt("POINT (1 1)", None)
        p = algos.get_precision(ga)
        assert p[0] == 0.0 and np.isnan(p[1])


class TestInscribedClearance:
    def test_mic_rectangle(self):
        ga = ga_from_wkt("POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))")
        mic = algos.maximum_inscribed_circle(ga, tolerance=1e-9)
        assert algos.length(mic)[0] == 1.0  # radius = min(w,h)/2

    def test_mic_reentrant_corner(self):
        # L-shape optimum hugs the reentrant corner: r = 4 - 2*sqrt(2)
        ga = ga_from_wkt("POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))")
        mic = algos.maximum_inscribed_circle(ga, tolerance=1e-7)
        np.testing.assert_allclose(algos.length(mic)[0],
                                   4 - 2 * np.sqrt(2), atol=1e-5)

    def test_mic_edge_cases(self):
        ga = ga_from_wkt("POLYGON EMPTY", None, "POINT (1 1)")
        out = wkt.format_array(algos.maximum_inscribed_circle(ga))
        assert out == ["LINESTRING EMPTY", None, "LINESTRING EMPTY"]

    def test_clearance_line_matches_clearance(self):
        ga = ga_from_wkt("POLYGON ((0 0, 4 0, 4 1, 0 1, 0 0))",
                         "POLYGON ((0 0, 3 0, 1 2, 0 0))")
        line = algos.minimum_clearance_line(ga)
        np.testing.assert_allclose(algos.length(line),
                                   algos.minimum_clearance(ga))


class TestIntersectionAll:
    def test_sliding_boxes(self):
        ga = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
                         "POLYGON ((1 0, 5 0, 5 4, 1 4, 1 0))",
                         "POLYGON ((2 0, 6 0, 6 4, 2 4, 2 0))")
        r = algos.intersection_all(ga)
        assert algos.area(r)[0] == 8.0  # x in [2,4]

    def test_ignores_missing_and_empty_result(self):
        ga = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", None)
        assert algos.area(algos.intersection_all(ga))[0] == 4.0
        disj = ga_from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
                           "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))")
        assert algos.intersection_all(disj).is_empty()[0]


class TestSharedPaths:
    def test_direction_split(self):
        a = ga_from_wkt("LINESTRING (0 0, 10 0)", "LINESTRING (0 0, 10 0)")
        b = ga_from_wkt("LINESTRING (2 0, 6 0)", "LINESTRING (6 0, 2 0)")
        same, opp = algos.shared_paths(a, b)
        assert algos.length(same)[0] == 4.0 and algos.length(opp)[0] == 0.0
        assert algos.length(same)[1] == 0.0 and algos.length(opp)[1] == 4.0

    def test_merges_across_vertices(self):
        a = ga_from_wkt("LINESTRING (0 0, 5 0, 5 5)")
        b = ga_from_wkt("LINESTRING (3 0, 5 0, 5 2)")
        same, _ = algos.shared_paths(a, b)
        assert wkt.format_array(same)[0] == "LINESTRING (3 0, 5 0, 5 2)"

    def test_disjoint(self):
        a = ga_from_wkt("LINESTRING (0 0, 10 0)")
        b = ga_from_wkt("LINESTRING (0 5, 10 5)")
        same, opp = algos.shared_paths(a, b)
        assert same.is_empty()[0] and opp.is_empty()[0]


class TestConstrainedDelaunay:
    def test_square_and_lshape(self):
        ga = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
                         "POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))")
        r = algos.constrained_delaunay_triangles(ga)
        np.testing.assert_allclose(algos.area(r), [16.0, 20.0])
        assert list(algos.count_geometries(r)) == [2, 4]

    def test_hole_bridging(self):
        ga = ga_from_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
            " (4 4, 6 4, 6 6, 4 6, 4 4))")
        r = algos.constrained_delaunay_triangles(ga)
        assert algos.area(r)[0] == 96.0
        assert algos.count_geometries(r)[0] == 8
        # triangles tile the polygon: union area == polygon area
        assert algos.area(algos.union_all(r))[0] == 96.0

    def test_non_polygon_inputs(self):
        ga = ga_from_wkt("LINESTRING (0 0, 1 1)", None, "POLYGON EMPTY")
        out = wkt.format_array(algos.constrained_delaunay_triangles(ga))
        assert out == ["MULTIPOLYGON EMPTY", None, "MULTIPOLYGON EMPTY"]


def test_z_m_roundtrip():
    """Z/M ride codec round trips; planar kernels ignore them."""
    import numpy as np
    from geopandas_spark.geom import algos, wkb, wkt
    cases = ["POINT Z (1 2 3)", "POINT M (1 2 42)", "POINT ZM (1 2 3 4)",
             "LINESTRING Z (0 0 5, 10 0 7)",
             "POLYGON Z ((0 0 1, 10 0 1, 10 10 1, 0 10 1, 0 0 1))",
             "MULTIPOINT Z ((1 2 3), (4 5 6))", "POINT (9 8)", None]
    ga = wkt.parse_array(cases)
    assert wkt.format_array(wkb.decode(wkb.encode(ga)))[:-1] == cases[:-1]
    assert list(ga.row_has_z()) == [True, False, True, True, True, True,
                                    False, False]
    assert list(ga.row_has_m()) == [False, True, True, False, False, False,
                                    False, False]
    # planar measures unaffected by Z
    assert algos.length(wkt.parse_array(["LINESTRING Z (0 0 5, 10 0 7)"]))[0] == 10.0
    # z accessor + force_3d/force_2d
    pts = wkt.parse_array(["POINT Z (1 2 3)", "POINT (4 5)"])
    assert list(algos.get_z(pts))[0] == 3.0 and np.isnan(algos.get_z(pts)[1])
    f3 = algos.force_3d(pts, 9.0)
    assert wkt.format_array(f3) == ["POINT Z (1 2 3)", "POINT Z (4 5 9)"]
    assert wkt.format_array(algos.force_2d(f3)) == ["POINT (1 2)", "POINT (4 5)"]
    # take preserves z
    assert wkt.format_array(pts.take([0]))[0] == "POINT Z (1 2 3)"


def test_geometrycollection():
    """GC: codec round trips, child-aware measures, extraction."""
    import numpy as np
    from geopandas_spark.geom import algos, wkb, wkt
    cases = [
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 10 0))",
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0)), "
        "MULTIPOINT ((1 1), (2 2)))",
        "GEOMETRYCOLLECTION EMPTY",
    ]
    ga = wkt.parse_array(cases)
    assert wkt.format_array(ga) == cases
    assert wkt.format_array(wkb.decode(wkb.encode(ga))) == cases
    assert list(algos.count_geometries(ga)) == [2, 2, 0]
    assert list(algos.area(ga)) == [0.0, 100.0, 0.0]
    assert list(algos.length(ga)) == [10.0, 40.0, 0.0]
    parts, parent, ordinal = algos.get_parts(ga)
    assert wkt.format_array(parts) == [
        "POINT (1 2)", "LINESTRING (0 0, 10 0)",
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        "MULTIPOINT ((1 1), (2 2))"]
    assert wkt.format_array(algos.collection_extract(ga, "point")) == [
        "MULTIPOINT ((1 2))", "MULTIPOINT ((1 1), (2 2))",
        "MULTIPOINT EMPTY"]
    # nested GC flattens to top-level children
    nested = wkt.parse_array(
        ["GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POINT (5 5)), POINT (7 7))"])
    assert algos.count_geometries(nested)[0] == 2
    # take preserves collection structure
    assert wkt.format_array(ga.take([1]))[0] == cases[1]
    # coord-only kernels preserve GC structure (round-3 regression: these
    # used to rebuild without gc_meta, collapsing GC rows to EMPTY)
    assert wkt.format_array(algos.translate(ga, 1.0, 1.0))[0] == \
        "GEOMETRYCOLLECTION (POINT (2 3), LINESTRING (1 1, 11 1))"
    assert wkt.format_array(algos.set_precision(ga, 0.5)) == cases
    assert wkt.format_array(algos.rotate(ga, 0.0, origin=(0, 0))) == cases
    assert wkt.format_array(algos.scale(ga, 2.0, 2.0, origin=(0, 0)))[0] == \
        "GEOMETRYCOLLECTION (POINT (2 4), LINESTRING (0 0, 20 0))"
    # grid_size set ops route through set_precision — GC input must survive
    zpt = wkt.parse_array(["POINT Z (1 2 3)"])
    assert wkt.format_array(algos.translate(zpt, 1.0, 1.0))[0] == \
        "POINT Z (2 3 3)"


def test_general_crs():
    """Round-3 general to_crs: BNG (TM on Airy + OS Helmert), Lambert-93
    (LCC 2SP on GRS80), ETRS89/NAD83 UTM — published anchors + round
    trips."""
    import numpy as np
    from geopandas_spark.geom import crs
    # OS Guide worked example (OSGB36 geographic -> grid, TM core only)
    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    p = crs._proj_def("EPSG:27700")[1]
    E, N = crs.tm_forward(np.array([lon]), np.array([lat]), p)
    assert abs(E[0] - 651409.903) < 2e-3
    assert abs(N[0] - 313177.270) < 2e-3
    # full chain anchor: Tower of London (WGS84) ~= TQ 33614 80550
    t = crs.transform_coords(np.array([[-0.0761, 51.5081]]),
                             "EPSG:4326", "EPSG:27700")
    assert abs(t[0, 0] - 533614.4) < 1.0 and abs(t[0, 1] - 180551.0) < 1.0
    # Lambert-93 natural origin is exact by construction
    o = crs.transform_coords(np.array([[3.0, 46.5]]),
                             "EPSG:4326", "EPSG:2154")
    assert o[0, 0] == 700000.0 and o[0, 1] == 6600000.0
    # Eiffel Tower matches the published grid position
    e = crs.transform_coords(np.array([[2.2945, 48.8584]]),
                             "EPSG:4326", "EPSG:2154")
    assert abs(e[0, 0] - 648237.3) < 1.0 and abs(e[0, 1] - 6862271.7) < 1.0
    # round trips: Lambert exact-ish; BNG limited by the 2-D datum shift
    rng = np.random.default_rng(3)
    uk = np.column_stack([rng.uniform(-5.5, 1.7, 500),
                          rng.uniform(50.0, 58.6, 500)])
    assert np.abs(crs.transform_coords(
        crs.transform_coords(uk, "EPSG:4326", "EPSG:27700"),
        "EPSG:27700", "EPSG:4326") - uk).max() < 5e-8
    fr = np.column_stack([rng.uniform(-4.5, 8.0, 500),
                          rng.uniform(42.0, 51.0, 500)])
    assert np.abs(crs.transform_coords(
        crs.transform_coords(fr, "EPSG:4326", "EPSG:2154"),
        "EPSG:2154", "EPSG:4326") - fr).max() < 1e-11
    # ETRS89 UTM == WGS84 UTM to sub-mm (GRS80 vs WGS84 flattening)
    d = np.abs(crs.transform_coords(fr, "EPSG:4326", "EPSG:25832")
               - crs.transform_coords(fr, "EPSG:4326", "EPSG:32632"))
    assert d.max() < 1e-3
    # composition through 4326 between projected CRSs
    comp = crs.transform_coords(
        crs.transform_coords(fr, "EPSG:4326", "EPSG:2154"),
        "EPSG:2154", "EPSG:25831")
    assert comp.shape == fr.shape


def test_utm_transform():
    """Karney–Krüger UTM: anchors + round-trip + known meridian arc."""
    import numpy as np
    from geopandas_spark.geom import crs
    E, N = crs.utm_forward(np.array([9.0]), np.array([0.0]), 32, True)
    assert E[0] == 500000.0 and N[0] == 0.0
    # published WGS84 meridian arc length at 45N: 4984944.378 m
    E, N = crs.utm_forward(np.array([9.0]), np.array([45.0]), 32, True)
    assert abs(N[0] - 0.9996 * 4984944.378) < 1e-3
    rng = np.random.default_rng(1)
    lon = rng.uniform(6.0, 12.0, 500)
    lat = rng.uniform(-80.0, 84.0, 500)
    E, N = crs.utm_forward(lon, lat, 32, True)
    lon2, lat2 = crs.utm_inverse(E, N, 32, True)
    assert np.abs(lon2 - lon).max() < 1e-12
    assert np.abs(lat2 - lat).max() < 1e-12
    # south-hemisphere false northing + composition through 4326
    c = np.array([[-58.4, -34.6]])
    out = crs.transform_coords(c, "EPSG:4326", "EPSG:32721")
    assert out[0, 1] > 6e6
    back = crs.transform_coords(out, "EPSG:32721", "EPSG:4326")
    assert np.abs(back - c).max() < 1e-12


def test_buffer_styles():
    """cap_style / join_style / single_sided matrix — exact areas."""
    import numpy as np
    from geopandas_spark.geom import algos, wkt
    def g(w): return wkt.parse_array([w])
    r = 5.0
    assert algos.area(algos.buffer(g("POINT (10 10)"), r,
                                   cap_style="square"))[0] == 100.0
    assert algos.count_geometries(algos.buffer(g("POINT (10 10)"), r,
                                               cap_style="flat"))[0] == 0
    line = "LINESTRING (0 0, 40 0)"
    assert algos.area(algos.buffer(g(line), r, cap_style="flat",
                                   join_style="mitre"))[0] == 400.0
    assert algos.area(algos.buffer(g(line), r, cap_style="square",
                                   join_style="mitre"))[0] == 500.0
    # right-angle polyline: union(2 rects)=675, mitre corner +25, bevel +12.5
    bent = "LINESTRING (0 0, 40 0, 40 30)"
    assert algos.area(algos.buffer(g(bent), r, cap_style="flat",
                                   join_style="mitre"))[0] == 700.0
    assert algos.area(algos.buffer(g(bent), r, cap_style="flat",
                                   join_style="bevel"))[0] == 687.5
    box = "POLYGON ((0 0, 40 0, 40 20, 0 20, 0 0))"
    assert algos.area(algos.buffer(g(box), r, join_style="mitre"))[0] == 1500.0
    assert algos.area(algos.buffer(g(box), r, join_style="bevel"))[0] == 1450.0
    # single-sided: left of direction for +d, right for -d
    ss = algos.buffer(g(line), r, single_sided=True)
    assert algos.area(ss)[0] == 200.0 and algos.bounds(ss)[0][1] == 0.0
    ss2 = algos.buffer(g(line), -r, single_sided=True)
    assert algos.area(ss2)[0] == 200.0 and algos.bounds(ss2)[0][1] == -5.0


def test_grid_size_setops():
    """grid_size snaps operands + result (reference base.py:4405-4879)."""
    from geopandas_spark.geom import algos, wkt
    def g(w): return wkt.parse_array([w])
    a = g("POLYGON ((0.3 0.3, 10.4 0.3, 10.4 10.4, 0.3 10.4, 0.3 0.3))")
    b = g("POLYGON ((5.6 0.6, 15.6 0.6, 15.6 10.6, 5.6 10.6, 5.6 0.6))")
    # snapped: a=[0,10]^2, b=[6,16]x[1,11] -> inter (10-6)*(10-1)=36
    assert algos.area(algos.intersection(a, b, grid_size=1.0))[0] == 36.0
    assert algos.area(algos.union(a, b, grid_size=1.0))[0] == 100 + 100 - 36
    assert algos.area(algos.difference(a, b, grid_size=1.0))[0] == 64.0
    # union_all with grid
    both = wkt.parse_array([
        "POLYGON ((0.3 0.3, 10.4 0.3, 10.4 10.4, 0.3 10.4, 0.3 0.3))",
        "POLYGON ((5.6 0.6, 15.6 0.6, 15.6 10.6, 5.6 10.6, 5.6 0.6))"])
    assert algos.area(algos.union_all(both, grid_size=1.0))[0] == 164.0


def test_crs_polar_stereographic_and_albers():
    """Polar Stereographic variant B (EPSG 9829) + Albers Equal Area
    (EPSG 9822). Validation: Snyder's Clarke-1866 Albers worked example
    (exact to 0.1 m), k=1 at the PS standard parallel (the projection's
    defining property), natural-origin anchors, and 1e-7-deg round-trip
    closure on all five registered codes."""
    import math

    import numpy as np

    from geopandas_spark.geom import crs

    # Snyder's Albers example: Clarke 1866, sp 29.5/45.5, origin 23N 96W,
    # input 35N 75W -> E 1,885,472.7  N 1,535,925.0
    pC = {"a": 6378206.4, "f": 1 / 294.9786982, "lat0": 23.0,
          "lon0": -96.0, "sp1": 29.5, "sp2": 45.5, "fe": 0.0, "fn": 0.0}
    E, N = crs.aea_forward(np.array([-75.0]), np.array([35.0]), pC)
    assert abs(E[0] - 1885472.7) < 0.1 and abs(N[0] - 1535925.0) < 0.1

    # k = 1 along the standard parallel (both hemispheres)
    e2 = (1 / 298.257223563) * (2 - 1 / 298.257223563)
    for code, lat_ts in [("EPSG:3413", 70.0), ("EPSG:3031", -71.0)]:
        a = np.array([[30.0, lat_ts], [30.001, lat_ts]])
        p = crs.transform_coords(a, "EPSG:4326", code)
        d = float(np.hypot(*(p[1] - p[0])))
        phi = math.radians(lat_ts)
        nr = 6378137.0 / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        true = math.radians(0.001) * nr * math.cos(phi)
        assert abs(d / true - 1) < 1e-6

    # natural-origin anchors
    p = crs.transform_coords(np.array([[-45.0, 90.0]]),
                             "EPSG:4326", "EPSG:3413")
    assert np.abs(p).max() < 1e-6
    p = crs.transform_coords(np.array([[-96.0, 23.0]]),
                             "EPSG:4326", "EPSG:5070")
    assert np.abs(p).max() < 1e-6

    # round trips (excluding the exact pole, where longitude degenerates)
    for code, pts in [("EPSG:3413", [(-44.9, 89.9), (10, 75), (-120, 62)]),
                      ("EPSG:3995", [(0, 80), (170, 66)]),
                      ("EPSG:3031", [(0.1, -89.9), (45, -70), (-170, -62)]),
                      ("EPSG:5070", [(-96, 23), (-75, 35), (-120, 49)]),
                      ("EPSG:3577", [(132, 0), (115, -35), (153, -43)])]:
        a = np.array(pts, dtype=float)
        back = crs.transform_coords(
            crs.transform_coords(a, "EPSG:4326", code), code, "EPSG:4326")
        assert np.abs(back - a).max() < 1e-7, code


def test_crs_gk_spcs_somerc():
    """Round-4 registry families: DHDN 3-degree Gauss-Krüger (31466-9,
    Bessel + EPSG-1777 Helmert), NAD83 State Plane LCC-2SP metre zones,
    and the Swiss Oblique Mercator (2056/21781, swisstopo closed form).
    Anchors: LCC false origins exact; LV95 Zimmerwald reference point to
    <1 m (translation-only datum accuracy); LV95-LV03 offset exactly
    (2e6, 1e6); GK zone-3 Stuttgart within the published metre grid;
    round trips close below 1e-7 deg on every code."""
    import numpy as np

    from geopandas_spark.geom import crs

    # SPCS false-origin anchors (exact in the LCC-2SP closed form)
    for lon0, lat0, code, fe, fn in [
            (-74.0, 40.0 + 10.0 / 60, "EPSG:32118", 300000.0, 0.0),
            (-77.0, 37.0 + 40.0 / 60, "EPSG:26985", 400000.0, 0.0),
            (-(100.0 + 20.0 / 60), 29.0 + 40.0 / 60, "EPSG:32139",
             700000.0, 3000000.0),
            (-120.5, 36.5, "EPSG:26943", 2000000.0, 500000.0)]:
        out = crs.transform_coords(np.array([[lon0, lat0]]),
                                   "EPSG:4326", code)
        assert abs(out[0, 0] - fe) < 1e-6 and abs(out[0, 1] - fn) < 1e-6

    # Swiss LV95: Zimmerwald ZIM (swisstopo reference frame point)
    zim = crs.transform_coords(np.array([[7.465270, 46.877098]]),
                               "EPSG:4326", "EPSG:2056")
    assert abs(zim[0, 0] - 2602030.7) < 1.0
    assert abs(zim[0, 1] - 1191775.0) < 1.0
    lv03 = crs.transform_coords(np.array([[7.465270, 46.877098]]),
                                "EPSG:4326", "EPSG:21781")
    assert abs((zim[0, 0] - lv03[0, 0]) - 2000000.0) < 1e-6
    assert abs((zim[0, 1] - lv03[0, 1]) - 1000000.0) < 1e-6

    # GK zone 3: Stuttgart ~9.18E 48.78N lands in the 3.5M easting band
    gk = crs.transform_coords(np.array([[9.18, 48.78]]),
                              "EPSG:4326", "EPSG:31467")
    assert 3500000 < gk[0, 0] < 3530000 and 5390000 < gk[0, 1] < 5420000

    # TM natural-origin anchors for the Pacific additions (exact)
    for lonlat, code, exp in [((173.0, 0.0), "EPSG:2193",
                               (1600000.0, 10000000.0)),
                              ((127.5, 38.0), "EPSG:5179",
                               (1000000.0, 2000000.0)),
                              ((121.0, 0.0), "EPSG:3826",
                               (250000.0, 0.0))]:
        out = crs.transform_coords(np.array([lonlat]), "EPSG:4326", code)
        assert abs(out[0, 0] - exp[0]) < 1e-6
        assert abs(out[0, 1] - exp[1]) < 1e-6

    # round trips on all new codes
    rng = np.random.default_rng(7)
    for code, lo, hi, la, lb in [("EPSG:31466", 5.5, 7.4, 49.0, 52.0),
                                 ("EPSG:31469", 13.6, 15.0, 50.0, 53.0),
                                 ("EPSG:32118", -74.5, -72.0, 40.5, 41.3),
                                 ("EPSG:26943", -122.0, -119.0, 36.6, 38.3),
                                 ("EPSG:32139", -102.0, -98.0, 29.8, 31.8),
                                 ("EPSG:2056", 6.0, 10.5, 45.9, 47.8),
                                 ("EPSG:21781", 6.0, 10.5, 45.9, 47.8),
                                 ("EPSG:2193", 166.0, 179.0, -47.0, -34.5),
                                 ("EPSG:5179", 124.0, 131.0, 33.0, 39.0),
                                 ("EPSG:3826", 119.0, 123.0, 21.0, 26.0),
                                 ("EPSG:31370", 2.5, 6.4, 49.5, 51.5)]:
        pts = np.column_stack([rng.uniform(lo, hi, 50),
                               rng.uniform(la, lb, 50)])
        back = crs.transform_coords(
            crs.transform_coords(pts, "EPSG:4326", code), code, "EPSG:4326")
        assert np.abs(back - pts).max() < 1e-7


def test_crs_mercator_and_laea():
    """Ellipsoidal Mercator (EPSG 9804: EPSG:3395) + Lambert azimuthal
    equal-area (EPSG 9820: EPSG:3035). Anchors: equator scale for
    Mercator; 3035's natural origin maps exactly to its false origin;
    LAEA preserves area; both round-trip below 1e-7 deg."""
    import math

    import numpy as np

    from geopandas_spark.geom import crs

    E, N = crs.merc_forward(
        np.array([45.0]), np.array([0.0]),
        {"a": 6378137.0, "f": 1 / 298.257223563, "lon0": 0.0,
         "fe": 0.0, "fn": 0.0})
    assert abs(E[0] - 6378137.0 * math.pi / 4) < 1e-6 and abs(N[0]) < 1e-9

    p = crs.transform_coords(np.array([[10.0, 52.0]]),
                             "EPSG:4326", "EPSG:3035")
    assert abs(p[0, 0] - 4321000) < 1e-6 and abs(p[0, 1] - 3210000) < 1e-6

    for code, pts in [("EPSG:3395", [(0, 0), (45, 60), (-120, -45)]),
                      ("EPSG:3035", [(10, 52), (-10, 35), (30, 70)])]:
        a = np.array(pts, dtype=float)
        back = crs.transform_coords(
            crs.transform_coords(a, "EPSG:4326", code), code, "EPSG:4326")
        assert np.abs(back - a).max() < 1e-7, code


def test_crs_jp_zones_and_spcs_tm():
    """Round-6 data-table codes (crs._JPRCS / crs._SPCS_TM): Japan Plane
    Rectangular CS zones I-XIX on JGD2000 (2443-2461) and JGD2011
    (6669-6687), and the NAD83 State Plane TM metre zones. Anchors: each
    projection origin maps exactly to (FE, FN) (TM closed form); both JGD
    datums agree bit-for-bit (identical defining params); Tokyo Station
    lands in zone IX's published ~(-6.0 km, -35.4 km) window; round
    trips close below 1e-7 deg."""
    import numpy as np

    from geopandas_spark.geom import crs

    # every JP zone: origin -> (0, 0) exactly, on both datum code ranges
    for z, (lat0, lon0) in enumerate(crs._JPRCS):
        for base in (2443, 6669):
            out = crs.transform_coords(np.array([[lon0, lat0]]),
                                       "EPSG:4326", f"EPSG:{base + z}")
            assert abs(out[0, 0]) < 1e-6 and abs(out[0, 1]) < 1e-6, base + z
    tokyo = np.array([[139.767, 35.681]])
    t11 = crs.transform_coords(tokyo, "EPSG:4326", "EPSG:6677")
    t00 = crs.transform_coords(tokyo, "EPSG:4326", "EPSG:2451")
    assert np.array_equal(t11, t00)
    assert -6100 < t11[0, 0] < -5900 and -35500 < t11[0, 1] < -35300

    # European national TM grids: origin -> (FE, FN) exactly + round trip
    for code, (lat0, lon0, _k0, fe, fn) in crs._EURO_TM.items():
        out = crs.transform_coords(np.array([[lon0, lat0]]),
                                   "EPSG:4326", f"EPSG:{code}")
        assert abs(out[0, 0] - fe) < 1e-6, code
        assert abs(out[0, 1] - fn) < 1e-6, code
        a = np.array([[lon0 + 1.5, lat0 + 1.0 if lat0 else 50.0]])
        back = crs.transform_coords(
            crs.transform_coords(a, "EPSG:4326", f"EPSG:{code}"),
            f"EPSG:{code}", "EPSG:4326")
        assert np.abs(back - a).max() < 1e-7, code
    # Poland CS2000 zone arithmetic + TUREF CM arithmetic + ISN93 LCC
    for code, lon0, fe in [(2176, 15.0, 5500000.0), (2179, 24.0, 8500000.0),
                           (5253, 27.0, 500000.0), (5259, 45.0, 500000.0)]:
        out = crs.transform_coords(np.array([[lon0, 0.0]]),
                                   "EPSG:4326", f"EPSG:{code}")
        assert abs(out[0, 0] - fe) < 1e-6 and abs(out[0, 1]) < 1e-6, code
    isn = crs.transform_coords(np.array([[-19.0, 65.0]]),
                               "EPSG:4326", "EPSG:3057")
    assert abs(isn[0, 0] - 500000.0) < 1e-6
    assert abs(isn[0, 1] - 500000.0) < 1e-6

    # every SPCS TM zone: origin -> (FE, FN) exactly + round trip
    for code, (lat0, lon0, _k0, fe, fn) in crs._SPCS_TM.items():
        out = crs.transform_coords(np.array([[lon0, lat0]]),
                                   "EPSG:4326", f"EPSG:{code}")
        assert abs(out[0, 0] - fe) < 1e-6, code
        assert abs(out[0, 1] - fn) < 1e-6, code
        a = np.array([[lon0 + 1.2, lat0 + 1.5], [lon0 - 0.8, lat0 + 3.0]])
        back = crs.transform_coords(
            crs.transform_coords(a, "EPSG:4326", f"EPSG:{code}"),
            f"EPSG:{code}", "EPSG:4326")
        assert np.abs(back - a).max() < 1e-7, code


def test_to_crs_preserves_z_and_m():
    """Reprojection is XY-only: the parallel z/m buffers ride through
    unchanged, matching the reference's shapely.transform(include_z) over
    a 2-D pyproj transformer (geopandas/array.py:1098-1187 leaves z at
    the datum-shifted ellipsoidal height it came in with — for projected
    2-D CRS pairs that is identity on z)."""
    import numpy as np

    from geopandas_spark.geom import crs
    from geopandas_spark.geom.wkt import format_array, parse_array

    ga = parse_array(["POINT Z (0 51 100)",
                      "LINESTRING Z (-1 50 1.5, 1 51 2.5)",
                      "POINT M (0 51 7)"])
    out = crs.transform(ga, "EPSG:4326", "EPSG:27700")
    assert np.array_equal(out.z[~np.isnan(out.z)], [100.0, 1.5, 2.5])
    assert np.array_equal(out.m[~np.isnan(out.m)], [7.0])
    back = crs.transform(out, "EPSG:27700", "EPSG:4326")
    txt = format_array(back)
    assert txt[0].startswith("POINT Z") and txt[0].endswith("100)")
    assert "M (" in txt[2] and txt[2].endswith("7)")


def test_boundary_mod2_rule_and_point_type():
    """OGC Mod-2 boundary: a point where an even number of line-part ends
    meet is interior (drops); odd counts stay. Point boundaries are empty
    GEOMETRYCOLLECTIONs (GEOS typing)."""
    from geopandas_spark.geom import algos, wkt
    from geopandas_spark.geom.array import GeometryBuilder
    b = GeometryBuilder()
    cases = ["MULTILINESTRING ((0 0, 1 0), (1 0, 2 0))",
             "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (1 0, 1 5))",
             "POINT (1 1)", "MULTIPOINT ((1 1), (2 2))",
             "LINESTRING (0 0, 5 5)"]
    for w in cases:
        wkt.parse_one(w, b)
    out = wkt.format_array(algos.boundary(b.finish()))
    assert out[0] == "MULTIPOINT ((0 0), (2 0))"          # shared end drops
    assert out[1] == "MULTIPOINT ((0 0), (1 0), (2 0), (1 5))"  # odd kept
    assert out[2] == "GEOMETRYCOLLECTION EMPTY"
    assert out[3] == "GEOMETRYCOLLECTION EMPTY"
    assert out[4] == "MULTIPOINT ((0 0), (5 5))"


def test_interpolate_project_multiline_and_negative():
    """Linear referencing accumulates across MultiLineString parts (no
    bridge segments); negative interpolate distances measure backwards
    from the end (GEOS conventions)."""
    import numpy as np

    from geopandas_spark.geom import algos, wkt
    from geopandas_spark.geom.array import GeometryBuilder

    def arr(*ws):
        b = GeometryBuilder()
        for w in ws:
            wkt.parse_one(w, b)
        return b.finish()

    mls = arr("MULTILINESTRING ((0 0, 10 0), (10 0, 10 10))")
    pt = arr("POINT (10 3)")
    assert algos.project(mls, pt)[0] == 13.0
    assert abs(algos.project(mls, pt, normalized=True)[0] - 0.65) < 1e-12
    assert wkt.format_array(
        algos.interpolate(mls, np.array([13.0])))[0] == "POINT (10 3)"
    ls = arr("LINESTRING (0 0, 10 0)")
    assert wkt.format_array(
        algos.interpolate(ls, np.array([-2.0])))[0] == "POINT (8 0)"
    assert wkt.format_array(
        algos.interpolate(ls, np.array([-0.25]),
                          normalized=True))[0] == "POINT (7.5 0)"


def test_centroid_interpolate_empty_vs_missing():
    """GEOS distinguishes empty from missing: centroid/interpolate of an
    EMPTY geometry is POINT EMPTY; only NULL input stays NULL."""
    import numpy as np

    from geopandas_spark.geom import algos, wkb, wkt
    from geopandas_spark.geom.array import GeometryBuilder
    b = GeometryBuilder()
    for w in ["POLYGON EMPTY", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
              "LINESTRING EMPTY"]:
        wkt.parse_one(w, b)
    ga = wkb.decode(wkb.encode(b.finish()) + [None])
    assert wkt.format_array(algos.centroid(ga)) == \
        ["POINT EMPTY", "POINT (2 2)", "POINT EMPTY", None]
    assert wkt.format_array(algos.interpolate(ga, np.array([1.0] * 4))) == \
        ["POINT EMPTY", "POINT EMPTY", "POINT EMPTY", None]


class TestMixedCollect:
    def test_collect_mixed_types_gc(self):
        """collect over mixed dimension classes → GEOMETRYCOLLECTION,
        Multi children preserved (GEOS GeometryCollect; r5)."""
        g = ga_from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                        "LINESTRING (5 5, 6 6)", "POINT (9 9)", None,
                        "MULTIPOINT ((1 8), (2 8))")
        c = algos.collect(g)
        assert wkt.format_array(c)[0] == (
            "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), "
            "LINESTRING (5 5, 6 6), POINT (9 9), "
            "MULTIPOINT ((1 8), (2 8)))")

    def test_geojson_gc_roundtrip(self):
        from geopandas_spark.geom import geojson as gj
        g = ga_from_wkt("GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, "
                        "0 2, 0 0)), MULTIPOINT ((1 8), (2 8)), "
                        "POINT (9 9))")
        s = gj.format_array(g)
        back = gj.parse_array(s)
        assert wkt.format_array(back) == wkt.format_array(g)


def test_union_all_dedupe_same_bbox_distinct_geoms():
    """r6 insurance for the byte-identical row dedupe in union_all: rows
    sharing an identical bbox AND coord count but with different
    coordinates (square vs wedge on the same corners) must NOT be
    conflated; true duplicates (including k-stacks) must collapse to one
    contribution; a deduped set whose survivors are disjoint must collect
    only the survivors (the empty-pairs shortcut)."""
    sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    wedge = "POLYGON ((0 0, 10 0, 10 10, 5 5, 0 0))"  # same bbox, 5 pts
    far = "POLYGON ((100 0, 110 0, 110 10, 100 10, 100 0))"
    # same-bbox distinct shapes + stacks of each: union == square (wedge
    # is inside it), never 75 or 175
    u = algos.union_all(ga_from_wkt(sq, wedge, sq, wedge, sq))
    assert algos.area(u)[0] == 100.0
    # disjoint survivors after dedupe: 2 parts, not 5
    u2 = algos.union_all(ga_from_wkt(sq, far, sq, far, sq))
    assert algos.area(u2)[0] == 200.0
    assert algos.count_geometries(u2)[0] == 2
    # all-identical stack of a holed polygon keeps the hole
    holed = ("POLYGON ((0 0, 12 0, 12 12, 0 12, 0 0), "
             "(4 4, 8 4, 8 8, 4 8, 4 4))")
    u3 = algos.union_all(ga_from_wkt(holed, holed, holed))
    assert algos.area(u3)[0] == 128.0
    # 40x stack of 200 distinct overlapping boxes == union of distinct
    import numpy as np

    from geopandas_spark.geom.array import boxes_from_bounds
    rng = np.random.default_rng(2)
    x = rng.uniform(0, 100, 200); y = rng.uniform(0, 100, 200)
    g1 = boxes_from_bounds(x, y, x + 8, y + 8)
    xs = np.tile(x, 40); ys = np.tile(y, 40)
    g40 = boxes_from_bounds(xs, ys, xs + 8, ys + 8)
    a1 = float(algos.area(algos.union_all(g1))[0])
    a40 = float(algos.area(algos.union_all(g40))[0])
    assert abs(a1 - a40) < 1e-9


def test_crs_r6_national_tables():
    """r6 registry additions (geom/crs.py _NATL_TM + Estonia/Austria LCC
    + POSGAR ranges): Korea 2000 belts, Israeli TM Grid, LKS94/LKS92,
    SVY21, L-EST97, Austria Lambert, Argentina POSGAR fajas. Anchors:
    projection origin -> (FE, FN) exact in the closed forms; POSGAR
    faja-5 Buenos Aires against the published ~(5648.6 km, 6170.6 km)
    grid values; 1e-7-deg round-trip closure on every code."""
    import numpy as np

    from geopandas_spark.geom import crs

    for lonlat, code, exp in [
            ((125.0, 38.0), "EPSG:5185", (200000.0, 600000.0)),
            ((127.0, 38.0), "EPSG:5186", (200000.0, 600000.0)),
            ((129.0, 38.0), "EPSG:5187", (200000.0, 600000.0)),
            ((131.0, 38.0), "EPSG:5188", (200000.0, 600000.0)),
            ((35.0 + 12 / 60 + 16.261 / 3600,
              31.0 + 44 / 60 + 3.817 / 3600), "EPSG:2039",
             (219529.584, 626907.390)),
            ((24.0, 0.0), "EPSG:3346", (500000.0, 0.0)),
            ((24.0, 0.0), "EPSG:3059", (500000.0, -6000000.0)),
            ((103.0 + 50 / 60, 1.0 + 22 / 60 + 2.9154 / 3600),
             "EPSG:3414", (28001.642, 38744.572)),
            ((24.0, 57.0 + 31 / 60 + 3.19415 / 3600), "EPSG:3301",
             (500000.0, 6375000.0)),
            ((13.0 + 20 / 60, 47.5), "EPSG:3416", (400000.0, 400000.0))]:
        out = crs.transform_coords(np.array([lonlat]), "EPSG:4326", code)
        assert abs(out[0, 0] - exp[0]) < 1e-6, code
        assert abs(out[0, 1] - exp[1]) < 1e-6, code

    # POSGAR faja 5 (CM -60, FE 5.5M, from the south pole): Buenos Aires
    ba = crs.transform_coords(np.array([[-58.38, -34.60]]),
                              "EPSG:4326", "EPSG:22175")
    assert abs(ba[0, 0] - 5648610) < 2000 and abs(ba[0, 1] - 6170554) < 2000
    # POSGAR 94 twin (same axes, WGS84 ellipsoid): sub-mm from POSGAR 98
    ba94 = crs.transform_coords(np.array([[-58.38, -34.60]]),
                                "EPSG:4326", "EPSG:22185")
    assert np.abs(ba94 - ba).max() < 1e-2

    rng = np.random.default_rng(7)
    for code, lo, hi, la, lb in [
            ("EPSG:5185", 124.5, 126.0, 33.0, 39.5),
            ("EPSG:5188", 130.0, 132.0, 35.0, 39.5),
            ("EPSG:2039", 34.2, 35.9, 29.4, 33.3),
            ("EPSG:3346", 20.9, 26.9, 53.9, 56.5),
            ("EPSG:3059", 20.9, 28.3, 55.6, 58.1),
            ("EPSG:3414", 103.6, 104.1, 1.1, 1.5),
            ("EPSG:3301", 21.7, 28.2, 57.5, 59.7),
            ("EPSG:3416", 9.5, 17.2, 46.4, 49.1),
            ("EPSG:22171", -72.5, -70.6, -55.0, -22.0),
            ("EPSG:22177", -55.4, -53.6, -35.0, -25.0),
            ("EPSG:22185", -61.4, -58.6, -41.0, -26.0)]:
        pts = np.column_stack([rng.uniform(lo, hi, 40),
                               rng.uniform(la, lb, 40)])
        back = crs.transform_coords(
            crs.transform_coords(pts, "EPSG:4326", code), code, "EPSG:4326")
        assert np.abs(back - pts).max() < 1e-7, code


def test_setops_near_identical_operands():
    """r6 (9th fuzz find, binary path): set ops where every aligned
    coordinate of the two operands agrees within the vertex-canon
    quantum (duplicate records with float noise) are closed-form —
    union/intersection return the subject, difference/symdiff are
    empty — instead of feeding the tracer sub-quantum-separated
    boundaries it cannot classify."""
    import numpy as np

    from geopandas_spark.geom.array import boxes_from_bounds
    X0, Y0, W, H = 127.39233746429086, 8.194704787238937, 24.77, 18.99
    a = boxes_from_bounds(np.array([X0]), np.array([Y0]),
                          np.array([X0 + W]), np.array([Y0 + H]))
    b = boxes_from_bounds(np.array([X0 + 1.00000364e-9]),
                          np.array([Y0 + 1.00000008e-9]),
                          np.array([X0 + W + 1.00000364e-9]),
                          np.array([Y0 + H + 1.00000008e-9]))
    exp = W * H
    assert abs(algos.area(algos.union(a, b))[0] - exp) < 1e-6
    assert abs(algos.area(algos.intersection(a, b))[0] - exp) < 1e-6
    assert algos.area(algos.difference(a, b))[0] == 0.0
    assert algos.area(algos.symmetric_difference(a, b))[0] == 0.0
    # union_all over jittered stacks (row-dedupe path)
    xs = np.array([X0, X0 + 1e-9, X0 + 1.4e-9])
    ys = np.array([Y0, Y0 + 1e-9, Y0])
    st = boxes_from_bounds(xs, ys, xs + W, ys + H)
    assert abs(algos.area(algos.union_all(st))[0] - exp) < 1e-6


def test_web_mercator_magnitude_accuracy():
    """r6: measures and boolean ops at web-mercator coordinate magnitudes
    (~1e7, where ulp rivals the kernel's 1e-9 quanta) must match the
    same computation near the origin to machine precision. Covered by
    the offset-datum translation in boolean_op/union_many, the
    local-origin shoelace, and the centroid normalization (all gated at
    2^20 so small-coordinate results stay bit-identical)."""
    import numpy as np

    from geopandas_spark.geom.array import boxes_from_bounds

    B = 1e7
    # area + centroid of a single box: exact
    x = np.array([B + 123.456789]); y = np.array([B + 987.654321])
    g = boxes_from_bounds(x, y, x + 777.125, y + 333.0625)
    assert float(algos.area(g)[0]) == 777.125 * 333.0625
    cx, cy = algos.centroid(g).coords[0]
    assert cx == B + 123.456789 + 777.125 / 2
    assert cy == B + 987.654321 + 333.0625 / 2
    # binary ops at magnitude
    a = boxes_from_bounds(np.array([B]), np.array([B]),
                          np.array([B + 100]), np.array([B + 100]))
    b = boxes_from_bounds(np.array([B + 50]), np.array([B + 50]),
                          np.array([B + 150]), np.array([B + 150]))
    assert float(algos.area(algos.union(a, b))[0]) == 17500.0
    assert float(algos.area(algos.intersection(a, b))[0]) == 2500.0
    assert float(algos.area(algos.difference(a, b))[0]) == 7500.0
    # 2k-box union: must agree with the identical union at the origin
    # to ~1e-12 relative (was 4.6e-5 before the offset datum)
    rng = np.random.default_rng(11)
    n = 2000
    x0 = B + rng.uniform(0, 5000, n); y0 = B + rng.uniform(0, 5000, n)
    w = rng.uniform(5, 60, n); h = rng.uniform(5, 60, n)
    big = float(algos.area(algos.union_all(
        boxes_from_bounds(x0, y0, x0 + w, y0 + h)))[0])
    org = float(algos.area(algos.union_all(
        boxes_from_bounds(x0 - B, y0 - B, x0 + w - B, y0 + h - B)))[0])
    assert abs(big - org) < 1e-11 * org, (big, org)


def test_vectorized_intersects_parity():
    """The r11 vectorized lineal/polygonal intersects fast path
    (_poly_line_intersects_fast + the rect×rect short-circuit) must
    agree with the per-pair reference path on every eligible row —
    mixed polygons/lines/degenerates/boxes, seeded for reproducibility."""
    rng = np.random.default_rng(1234)

    def rand_poly():
        cx, cy = rng.uniform(0, 20, 2)
        n = int(rng.integers(3, 8))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.5, 3, n)
        xs = cx + r * np.cos(ang)
        ys = cy + r * np.sin(ang)
        pts = ", ".join(f"{x:.3f} {y:.3f}" for x, y in zip(xs, ys))
        return f"POLYGON (({pts}, {xs[0]:.3f} {ys[0]:.3f}))"

    def rand_geom():
        u = rng.random()
        if u < 0.30:
            return rand_poly()
        if u < 0.45:        # holed polygon
            x, y = rng.integers(0, 14, 2)
            return (f"POLYGON (({x} {y}, {x+6} {y}, {x+6} {y+6}, "
                    f"{x} {y+6}, {x} {y}), ({x+2} {y+2}, {x+4} {y+2}, "
                    f"{x+4} {y+4}, {x+2} {y+4}, {x+2} {y+2}))")
        if u < 0.65:        # line
            n = int(rng.integers(2, 6))
            xs = rng.uniform(0, 20, n)
            ys = rng.uniform(0, 20, n)
            return "LINESTRING (" + ", ".join(
                f"{x:.3f} {y:.3f}" for x, y in zip(xs, ys)) + ")"
        if u < 0.72:        # degenerate zero-length line
            x, y = rng.uniform(0, 20, 2)
            return f"LINESTRING ({x:.3f} {y:.3f}, {x:.3f} {y:.3f})"
        if u < 0.82:        # multipolygon
            x, y = rng.integers(0, 16, 2)
            return (f"MULTIPOLYGON ((({x} {y}, {x+2} {y}, {x+2} {y+2}, "
                    f"{x} {y+2}, {x} {y})), (({x+3} {y+3}, {x+4} {y+3}, "
                    f"{x+4} {y+4}, {x+3} {y+4}, {x+3} {y+3})))")
        # axis-aligned box (rect short-circuit population)
        x, y = rng.integers(0, 18, 2)
        s = int(rng.integers(1, 4))
        return (f"POLYGON (({x} {y}, {x+s} {y}, {x+s} {y+s}, "
                f"{x} {y+s}, {x} {y}))")

    N = 1500
    ga = ga_from_wkt(*[rand_geom() for _ in range(N)])
    gb = ga_from_wkt(*[rand_geom() for _ in range(N)])
    fast_mask, fast_res = algos._poly_line_intersects_fast(ga, gb)
    slow = algos._pairwise(ga, gb, algos._pair_intersects, bool, False)
    assert fast_mask.sum() > N * 0.9          # path actually engaged
    bad = np.nonzero(fast_mask & (fast_res != slow))[0]
    assert len(bad) == 0, [(int(i), str(ga_from_wkt)) for i in bad[:3]]
    # the public function agrees with the slow path everywhere
    assert (algos.intersects(ga, gb) == slow).all()


class TestZThroughSetOps:
    """r11 fuzz frontier (a): Z propagates through set ops and
    make_valid (GEOS OverlayNG parity) — original vertices keep their
    input Z (operand A preferred on shared coords), new intersection
    points interpolate along the input edge, rows with 2-D inputs stay
    2-D, M drops through overlays (documented)."""

    def test_exact_and_interpolated_z(self):
        a = ga_from_wkt("POLYGON Z ((0 0 1, 4 0 2, 4 4 3, 0 4 4, 0 0 1))")
        b = ga_from_wkt("POLYGON Z ((2 2 5, 6 2 6, 6 6 7, 2 6 8, 2 2 5))")
        out = wkt.format_array(algos.intersection(a, b))[0]
        # (2 2) is B's vertex -> z 5; (4 2) cuts A's edge
        # (4 0 2)-(4 4 3) at t=0.5 -> z 2.5
        assert out == "POLYGON Z ((2 2 5, 4 2 2.5, 4 4 3, 2 4 3.5, 2 2 5))"
        u = wkt.format_array(algos.union(a, b))[0]
        assert u.startswith("POLYGON Z ((0 4 4, 0 0 1, 4 0 2, 4 2 2.5, ")

    def test_make_valid_bowtie_z(self):
        g = ga_from_wkt("POLYGON Z ((0 0 1, 2 2 2, 2 0 3, 0 2 4, 0 0 1))")
        out = wkt.format_array(algos.make_valid(g))[0]
        # pinch point (1 1) interpolates to 1.5 along (0 0 1)-(2 2 2)
        assert "1 1 1.5" in out and out.startswith("MULTIPOLYGON Z")

    def test_2d_inputs_stay_2d(self):
        a = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        b = ga_from_wkt("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
        for fn in (algos.intersection, algos.union, algos.difference,
                   algos.symmetric_difference):
            assert " Z " not in wkt.format_array(fn(a, b))[0]

    def test_mixed_z_2d(self):
        a = ga_from_wkt("POLYGON Z ((0 0 1, 4 0 2, 4 4 3, 0 4 4, 0 0 1))")
        b = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        out = wkt.format_array(algos.intersection(a, b))[0]
        assert out == "POLYGON Z ((0 0 1, 4 0 2, 4 4 3, 0 4 4, 0 0 1))"

    def test_line_polygon_z_interpolation(self):
        ln = ga_from_wkt("LINESTRING Z (-2 2 0, 6 2 8)")
        pg = ga_from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        out = wkt.format_array(algos.intersection(ln, pg))[0]
        # clipped at x=0 (t=0.25 -> z 2) and x=4 (t=0.75 -> z 6)
        assert out == "LINESTRING Z (0 2 2, 4 2 6)"

    def test_z_bounded_by_inputs_randomized(self):
        rng = np.random.default_rng(77)
        for _ in range(40):
            ax, ay = rng.integers(0, 6, 2)
            bx, by = rng.integers(0, 6, 2)
            za = rng.integers(-50, 50, 4)
            zb = rng.integers(-50, 50, 4)
            wa = (f"POLYGON Z (({ax} {ay} {za[0]}, {ax+4} {ay} {za[1]}, "
                  f"{ax+4} {ay+4} {za[2]}, {ax} {ay+4} {za[3]}, "
                  f"{ax} {ay} {za[0]}))")
            wb = (f"POLYGON Z (({bx} {by} {zb[0]}, {bx+3} {by} {zb[1]}, "
                  f"{bx+3} {by+3} {zb[2]}, {bx} {by+3} {zb[3]}, "
                  f"{bx} {by} {zb[0]}))")
            a, b = ga_from_wkt(wa), ga_from_wkt(wb)
            lo = min(za.min(), zb.min())
            hi = max(za.max(), zb.max())
            for fn in (algos.intersection, algos.union,
                       algos.difference, algos.symmetric_difference):
                out = fn(a, b)
                if out.z is None or bool(out.is_empty()[0]):
                    continue
                zs = out.z[~np.isnan(out.z)]
                # every output Z is an input vertex Z or a convex
                # combination along one input edge
                assert len(zs) == 0 or (zs.min() >= lo - 1e-9
                                        and zs.max() <= hi + 1e-9), \
                    (wa, wb, fn.__name__, zs)


class TestBufferPositiveOracle:
    """r11 fuzz frontier (b): independent referee for POSITIVE round
    buffer (the erosion oracle covers negative only). The engine's
    vertex disks are deliberately CIRCUMSCRIBED (radius d/cos(pi/n),
    n = 4*quad_segs — see _dilation_rings: clean transversal sweep
    crossings instead of degenerate tangencies), so the result
    CONTAINS the true Minkowski sum. Facts: (1) every surviving
    boundary vertex lies at distance within [d, d/cos(pi/n)] of the
    input; (2) points with distance <= d are INSIDE, points beyond
    d/cos(pi/n) are OUTSIDE; (3) for CONVEX input the area is
    A + L*d + c*d^2 with c in [pi, n*tan(pi/n)]."""

    @staticmethod
    def _star(rng, n=7, cx=0.0, cy=0.0):
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(1.0, 4.0, n)
        xs = cx + r * np.cos(ang)
        ys = cy + r * np.sin(ang)
        pts = ", ".join(f"{x:.6f} {y:.6f}" for x, y in zip(xs, ys))
        return f"POLYGON (({pts}, {xs[0]:.6f} {ys[0]:.6f}))"

    def test_boundary_vertices_at_distance_d(self):
        rng = np.random.default_rng(321)
        QS = 16
        theta = np.pi / (2 * QS)
        for trial in range(25):
            w = self._star(rng, n=int(rng.integers(4, 10)))
            g = ga_from_wkt(w)
            if not algos.is_valid(g)[0]:
                continue
            d = float(rng.uniform(0.3, 2.5))
            buf = algos.buffer(g, d, quad_segs=QS)
            assert algos.is_valid(buf)[0], (w, d)
            # all input coords must be strictly inside the buffer
            pc = algos._geom_points(g, 0)
            assert (algos.points_in_geom(pc[:, 0], pc[:, 1], buf, 0)
                    == 2).all(), (w, d)
            # every buffer boundary vertex sits in the circumscribed band
            bv = algos._geom_points(buf, 0)
            segs = algos._geom_segments(g, 0)
            dist = algos._point_seg_dist(bv, segs)
            lo = d * (1 - 1e-9)
            hi = d / np.cos(np.pi / (4 * QS)) * (1 + 1e-9)
            assert dist.min() >= lo and dist.max() <= hi, \
                (w, d, float(dist.min()), float(dist.max()))

    def test_membership_vs_exact_distance(self):
        rng = np.random.default_rng(99)
        QS = 16
        theta = np.pi / (2 * QS)
        for trial in range(12):
            w = self._star(rng, n=int(rng.integers(4, 9)))
            g = ga_from_wkt(w)
            if not algos.is_valid(g)[0]:
                continue
            d = float(rng.uniform(0.4, 2.0))
            buf = algos.buffer(g, d, quad_segs=QS)
            qx = rng.uniform(-7, 7, 400)
            qy = rng.uniform(-7, 7, 400)
            segs = algos._geom_segments(g, 0)
            dist = algos._point_seg_dist(
                np.column_stack([qx, qy]), segs)
            inside_p = algos.points_in_geom(qx, qy, g, 0) > 0
            dist[inside_p] = 0.0
            cls = algos.points_in_geom(qx, qy, buf, 0)
            near = dist < d - 1e-9
            far = dist > d / np.cos(np.pi / (4 * QS)) + 1e-9
            assert (cls[near] > 0).all(), (w, d)
            assert (cls[far] == 0).all(), (w, d)

    def test_convex_area_identity(self):
        rng = np.random.default_rng(5)
        QS = 16
        n_arc = 4 * QS
        for trial in range(15):
            # random convex polygon: convex hull of random points
            pts = rng.uniform(-3, 3, (12, 2))
            hull = algos.convex_hull(
                ga_from_wkt("MULTIPOINT (" + ", ".join(
                    f"({x:.6f} {y:.6f})" for x, y in pts) + ")"))
            d = float(rng.uniform(0.5, 3.0))
            A = float(algos.area(hull)[0])
            L = float(algos.length(hull)[0])
            got = float(algos.area(algos.buffer(hull, d,
                                                quad_segs=QS))[0])
            # seams where circumscribed arc chords meet the exact-d
            # offset rectangles clip small triangles off the sectors,
            # so the arc constant lands between the inscribed and
            # circumscribed n-gon areas (a 0.3% band at quad_segs=16)
            lo = A + L * d + (n_arc / 2) * np.sin(2 * np.pi / n_arc) \
                * d * d - 1e-7
            hi = A + L * d + n_arc * np.tan(np.pi / n_arc) * d * d + 1e-7
            assert lo <= got <= hi, (trial, d, lo, got, hi)


def test_crs_edge_of_domain_roundtrips():
    """r11 fuzz frontier (c): forward->inverse round-trips at
    edge-of-domain points for every closed-form projection family —
    zone edges and far-out-of-zone for TM/UTM, |lat| 89.99 for
    Mercator, the pole itself for polar stereographic / LAEA / Albers
    (the authalic q->phi Newton was LINEAR near the pole and returned
    the exact pole 0.0142 deg short; a monotone-bisection polish now
    recovers it to ~6e-7 deg, the precision limit of inverting through
    q), and wide-aspect LAEA up to 150 deg from center."""
    from geopandas_spark.geom import crs as C

    def rt(fwd, inv, p, lons, lats, tol):
        LO, LA = np.meshgrid(np.asarray(lons, float),
                             np.asarray(lats, float))
        lo, la = LO.ravel(), LA.ravel()
        E, N = fwd(lo, la, p)
        assert np.isfinite(E).all() and np.isfinite(N).all()
        lo2, la2 = inv(E, N, p)
        dlon = (np.abs((np.asarray(lo2) - lo + 180) % 360 - 180)
                * np.cos(np.radians(la)))
        dlat = np.abs(np.asarray(la2) - la)
        assert dlon.max() <= tol and dlat.max() <= tol, \
            (fwd.__name__, float(dlon.max()), float(dlat.max()))

    p = C._utm_params(31, True)
    rt(C.tm_forward, C.tm_inverse, p,
       [3 - 30, 3 - 10, 3 - 3, 3 - 1e-9, 3, 3 + 3, 3 + 25],
       [-84, -80, 0, 1e-12, 45, 83.99999, 84, 89.9], 1e-9)
    pm = {"a": C._A, "f": C._F, "lon0": 0.0, "k0": 1.0,
          "fe": 0.0, "fn": 0.0}
    rt(C.merc_forward, C.merc_inverse, pm,
       [-179.999999, -120, 0, 77, 179.999999],
       [-89.99, -85, 0, 30, 85, 89.99], 1e-9)
    pp = {"a": C._A, "f": C._F, "lon0": -45.0, "lat_ts": 70.0,
          "north": True, "fe": 0.0, "fn": 0.0}
    rt(C.ps_forward, C.ps_inverse, pp,
       [-180, -135.000001, -45, 0, 135, 179.999999],
       [60, 70, 89.9, 89.999999, 90.0], 1e-9)
    pl = {"a": C._A, "f": C._F, "lon0": 3.0, "lat0": 46.5,
          "sp1": 49.0, "sp2": 44.0, "fe": 700000.0, "fn": 6600000.0}
    rt(C.lcc_forward, C.lcc_inverse, pl, [-60, -10, 3, 20, 60],
       [-30, 0, 44, 46.5, 49, 80, 89.9], 1e-9)
    pla = {"a": C._A, "f": C._F, "lon0": 10.0, "lat0": 52.0,
           "fe": 4321000.0, "fn": 3210000.0}
    rt(C.laea_forward, C.laea_inverse, pla,
       [10 - 150, 10 - 90, 10, 10 + 90, 10 + 150],
       [-60, -30, 0, 52, 89.9, 90.0], 1e-6)
    pa = {"a": C._A, "f": C._F, "lon0": -96.0, "lat0": 23.0,
          "sp1": 29.5, "sp2": 45.5, "fe": 0.0, "fn": 0.0}
    rt(C.aea_forward, C.aea_inverse, pa, [-96 - 80, -96, -96 + 80],
       [-60, 0, 29.5, 45.5, 80, 89.9, 90.0], 1e-6)


def test_carry_z_disjoint_mixed_dimension_union():
    """r12 (ADVICE): pins _carry_z's nearest-input-vertex fallback on
    DISJOINT mixed-dimension unions — output coordinates originating
    purely from a 2-D operand are stamped with the nearest Z-bearing
    input vertex's Z (here: the other operand's). DOCUMENTED DEVIATION
    from GEOS OverlayNG, which may leave such components Z-less; the
    engine keeps rows uniformly dimensioned (a row is 3-D iff its
    first coord carries Z), so a mixed-Z multilinestring cannot
    represent per-part missing Z. If this contract changes, this test
    must change with it."""
    ga = ga_from_wkt("LINESTRING Z (0 0 5, 1 1 7)")
    gb = ga_from_wkt("LINESTRING (10 10, 11 11)")
    u = algos.union(ga, gb)
    assert wkt.format_array(u) == [
        "MULTILINESTRING Z ((0 0 5, 1 1 7), (10 10 7, 11 11 7))"]
    gc_ = ga_from_wkt("POLYGON Z ((0 0 3, 4 0 3, 4 4 9, 0 4 9, 0 0 3))")
    gd = ga_from_wkt("POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))")
    u2 = algos.union(gc_, gd)
    assert wkt.format_array(u2) == [
        "MULTIPOLYGON Z (((0 0 3, 4 0 3, 4 4 9, 0 4 9, 0 0 3)), "
        "((10 10 9, 12 10 9, 12 12 9, 10 12 9, 10 10 9)))"]
    # pure-2-D unions stay 2-D
    u3 = algos.union(gd, gd)
    assert "Z" not in wkt.format_array(u3)[0]


def test_convex_sat_intersects_parity():
    """r12 (VERDICT #3): the staged convex×convex SAT decides
    intersects for single-ring convex pairs (buffered points, hulls,
    envelopes); ambiguous margins fall back. Differential parity vs
    the per-pair exact path on buffered points (incl. exactly-touching
    circles), shifted convex rings, and mixed convex/star/holed/line
    ensembles."""
    from geopandas_spark.geom.array import GeometryArray, points_from_xy

    rng = np.random.default_rng(11)
    N = 2500
    pa = points_from_xy(rng.uniform(0, 120, N), rng.uniform(0, 120, N))
    pb = points_from_xy(pa.coords[:, 0] + rng.uniform(-8, 8, N),
                        pa.coords[:, 1] + rng.uniform(-8, 8, N))
    A = algos.buffer(pa, 3.0)
    B = algos.buffer(pb, 3.0)
    slow = algos._pairwise(A, B, algos._pair_intersects, bool, False)
    assert int((algos.intersects(A, B) != slow).sum()) == 0
    # exactly-touching circles (centers 2r apart on the axis)
    c1 = points_from_xy(np.arange(60) * 10.0, np.zeros(60))
    c2 = points_from_xy(np.arange(60) * 10.0 + 6.0, np.zeros(60))
    C1, C2 = algos.buffer(c1, 3.0), algos.buffer(c2, 3.0)
    s2 = algos._pairwise(C1, C2, algos._pair_intersects, bool, False)
    assert int((algos.intersects(C1, C2) != s2).sum()) == 0
    # shifted convex rings: dense hit mix
    ws = []
    for i in range(800):
        cx, cy = rng.uniform(0, 100, 2)
        k = int(rng.integers(5, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = float(rng.uniform(2, 3))
        xs = cx + rad * np.cos(ang)
        ys = cy + rad * np.sin(ang)
        p = ", ".join(f"{x:.4f} {y:.4f}" for x, y in zip(xs, ys))
        ws.append(f"POLYGON (({p}, {xs[0]:.4f} {ys[0]:.4f}))")
    Ca = ga_from_wkt(*ws)
    Cd = GeometryArray(Ca.types, Ca.geom_offsets, Ca.part_offsets,
                       Ca.ring_offsets, Ca.coords + np.array([[1.5, -2.0]]))
    s3 = algos._pairwise(Ca, Cd, algos._pair_intersects, bool, False)
    assert int((algos.intersects(Ca, Cd) != s3).sum()) == 0


def test_vectorized_distance_covers_parity():
    """r11: the vectorized pairwise distance and covers/contains screen
    agree with the per-pair reference paths on every decided row
    (mixed polygons/holes/lines/degenerates/boxes incl. identity pairs
    and hole-nested operands)."""
    rng = np.random.default_rng(4242)

    def rand_geom():
        u = rng.random()
        if u < 0.3:
            cx, cy = rng.uniform(0, 20, 2)
            n = int(rng.integers(3, 8))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            r = rng.uniform(0.5, 3, n)
            xs = cx + r * np.cos(ang)
            ys = cy + r * np.sin(ang)
            pts = ", ".join(f"{x:.3f} {y:.3f}" for x, y in zip(xs, ys))
            return f"POLYGON (({pts}, {xs[0]:.3f} {ys[0]:.3f}))"
        if u < 0.55:
            n = int(rng.integers(2, 6))
            xs = rng.uniform(0, 20, n)
            ys = rng.uniform(0, 20, n)
            return "LINESTRING (" + ", ".join(
                f"{x:.3f} {y:.3f}" for x, y in zip(xs, ys)) + ")"
        if u < 0.68:
            x, y = rng.integers(0, 12, 2)
            return (f"POLYGON (({x} {y}, {x+8} {y}, {x+8} {y+8}, "
                    f"{x} {y+8}, {x} {y}), ({x+2} {y+2}, {x+5} {y+2}, "
                    f"{x+5} {y+5}, {x+2} {y+5}, {x+2} {y+2}))")
        x, y = rng.integers(0, 16, 2)
        s = int(rng.integers(1, 6))
        return (f"POLYGON (({x} {y}, {x+s} {y}, {x+s} {y+s}, "
                f"{x} {y+s}, {x} {y}))")

    N = 1200
    wa = [rand_geom() for _ in range(N)]
    wb = [rand_geom() for _ in range(N)]
    wa += ["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"] * 4 + [
        "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), "
        "(2 2, 6 2, 6 6, 2 6, 2 2))"] * 2
    wb += ["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",      # identity
           "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))",       # nested
           "LINESTRING (0 0, 4 0)",                     # edge-riding
           "LINESTRING (0 0, 4 4)",                     # diagonal
           "POLYGON ((3 3, 4 3, 4 4, 3 4, 3 3))",       # in the hole
           "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"]
    ga, gb = ga_from_wkt(*wa), ga_from_wkt(*wb)
    # distance
    f, r = algos._poly_line_distance_fast(ga, gb)
    slow = algos._pairwise(ga, gb, algos._pair_distance,
                           np.float64, np.nan)
    bad = f & (np.abs(r - slow) > 1e-12)
    assert f.sum() > len(wa) * 0.9 and not bad.any(), \
        [(wa[i], wb[i], r[i], slow[i]) for i in np.nonzero(bad)[0][:3]]
    assert np.allclose(algos.distance(ga, gb), slow, equal_nan=True)
    # r12 pruning paths: separated-bbox rows take the facing-vertex
    # upper bound + bbox/projection element pruning; rect pairs take
    # the closed form; monster rows (big vertex counts) exercise the
    # prune at scale. All must stay bit-compatible with the per-pair
    # path.
    def wiggly(cx, cy, nv, seed):
        rr = np.random.default_rng(seed)
        ang = np.linspace(0, 2 * np.pi, nv + 1)[:-1]
        rad = 2 + 0.8 * np.sin(5 * ang + rr.uniform(0, 6))
        xs = cx + rad * np.cos(ang)
        ys = cy + rad * np.sin(ang)
        p = ", ".join(f"{x:.4f} {y:.4f}" for x, y in zip(xs, ys))
        return f"POLYGON (({p}, {xs[0]:.4f} {ys[0]:.4f}))"

    wa2, wb2 = [], []
    rr = np.random.default_rng(77)
    for i in range(120):
        d = float(rr.uniform(0.1, 60))       # separated by varying gaps
        wa2.append(wiggly(0, 0, int(rr.integers(8, 300)), i))
        wb2.append(wiggly(6 + d, d * 0.3, int(rr.integers(8, 300)),
                          1000 + i))
    # exact rect pairs, overlapping-x / corner-separated / intersecting
    wa2 += ["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"] * 3
    wb2 += ["POLYGON ((1 9, 3 9, 3 11, 1 11, 1 9))",
            "POLYGON ((9 9, 12 9, 12 12, 9 12, 9 9))",
            "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"]
    ga2, gb2 = ga_from_wkt(*wa2), ga_from_wkt(*wb2)
    slow2 = algos._pairwise(ga2, gb2, algos._pair_distance,
                            np.float64, np.nan)
    fast2 = algos.distance(ga2, gb2)
    assert np.allclose(fast2, slow2, rtol=1e-12, equal_nan=True), \
        np.nanmax(np.abs(fast2 - slow2))
    # covers / contains screens
    for req in (False, True):
        f, r = algos._covers_screen(ga, gb, req)
        slow = algos._pairwise(
            ga, gb,
            lambda a, i, b, j: algos._pair_covers_dispatch(a, i, b, j,
                                                           req),
            bool, False)
        bad = f & (r != slow)
        assert not bad.any(), \
            [(wa[i], wb[i], bool(r[i]), bool(slow[i]))
             for i in np.nonzero(bad)[0][:3]]
        pub = algos.contains(ga, gb) if req else algos.covers(ga, gb)
        assert (pub == slow).all()


def test_intersection_rect_fast_path_parity():
    """r11: rect×rect pairs with positive overlap decide by interval
    arithmetic (the overlap box) and strictly-disjoint polygonal bboxes
    emit EMPTY without the sweep; both must equal the general path as
    POINT SETS (ring rotation was already branch-dependent between the
    convex clip and the sweep)."""
    import geopandas_spark.geom.algos as A
    from geopandas_spark.geom.array import boxes_from_bounds

    rng = np.random.default_rng(3)
    N = 500
    x1 = rng.integers(0, 8, N).astype(float)
    y1 = rng.integers(0, 8, N).astype(float)
    s1 = rng.integers(1, 5, N).astype(float)
    x2 = rng.integers(0, 8, N).astype(float)
    y2 = rng.integers(0, 8, N).astype(float)
    s2 = rng.integers(1, 5, N).astype(float)
    ga = boxes_from_bounds(x1, y1, x1 + s1, y1 + s1)
    gb = boxes_from_bounds(x2, y2, x2 + s2, y2 + s2)
    for mixed in (False, True):
        fast = algos.intersection(ga, gb, mixed=mixed)
        orig = A._rect_rows
        A._rect_rows = lambda g, b: np.zeros(len(g), dtype=bool)
        try:
            slow = algos.intersection(ga, gb, mixed=mixed)
        finally:
            A._rect_rows = orig
        eq = algos.geom_equals(fast, slow)
        both_empty = fast.is_empty() & slow.is_empty()
        assert (eq | both_empty).all(), int((~(eq | both_empty)).sum())


def test_vec_classify_points_peak_memory_is_chunked():
    """A 1M-entry point-in-polygon expansion (8,000 16-gons x 8 probe
    points) runs in bounded chunks: its tracemalloc peak stays far below
    the ~140 MB the whole expansion would take at once, and the answers
    are the exact ones (centre interior, vertex boundary, far exterior)."""
    import tracemalloc

    n, ns, nv = 8000, 16, 8
    ang = 2 * np.pi * np.arange(ns + 1) / ns
    ring = np.column_stack([np.cos(ang), np.sin(ang)])
    shift = np.column_stack([3.0 * np.arange(n), np.zeros(n)])
    pts = ring[None, :, :] + shift[:, None, :]
    s0 = pts[:, :-1].reshape(-1, 2)
    s1 = pts[:, 1:].reshape(-1, 2)
    probe = np.array([[0.0, 0.0], [1.0, 0.0], [5.0, 5.0], [0.1, 0.1],
                      [-0.2, 0.3], [0.0, 2.0], [0.5, -0.5], [9.0, 0.0]])
    px = (probe[None, :, 0] + shift[:, :1]).ravel()
    py = (probe[None, :, 1] + shift[:, 1:]).ravel()
    cnt = np.full(n, nv), np.full(n, ns)
    sel = np.ones(n, dtype=bool)
    tracemalloc.start()
    try:
        cls = algos._vec_classify_points(px, py, s0, s1, cnt[0], cnt[1],
                                         sel)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert n * nv * ns >= 1_000_000
    assert peak < 40 * 2 ** 20, peak
    want = np.array([2, 1, 0, 2, 2, 0, 2, 0], dtype=np.int8)
    np.testing.assert_array_equal(cls.reshape(n, nv), np.tile(want, (n, 1)))


REPEATED_VERTEX = "POLYGON ((0 0, 0 0, 4 0, 4 4, 0 4, 0 0))"
SHORT_EDGE = "POLYGON ((0 0, 1e-13 0, 4 0, 4 4, 0 4, 0 0))"
UNREPEATED = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
PROBES = ["POINT (6 5.5)", "POINT (2 2)", "POINT (-3 -3)", "POINT (2 1e-5)"]


def test_repeated_vertex_is_a_point_not_a_boundary_everywhere():
    """A repeated ring vertex is a zero-length edge: a point, not a
    segment that every point lies on; a 1e-13 edge is on-tested within
    _EPS of itself, not within _EPS / length. Every point-in-polygon path
    gives exterior / interior / exterior / interior, as for the polygon
    without the repeat, and the predicates, distance and relate agree
    with it."""
    n = len(PROBES)
    plain = ga_from_wkt(*[UNREPEATED] * n)
    pts = ga_from_wkt(*PROBES)
    px, py = pts.coords[:, 0], pts.coords[:, 1]
    want = [0, 2, 0, 2]
    for poly in (REPEATED_VERTEX, SHORT_EDGE):
        rep = ga_from_wkt(*[poly] * n)
        assert algos.points_in_geom(px, py, rep, 0).tolist() == want
        assert algos._pairwise_point_in_poly(pts, rep, np.arange(n))[1] \
            .tolist() == want
        s0, s1, tgt = algos._row_segments(rep, np.array([0]))
        cls = algos._vec_classify_points(px, py, s0, s1, np.array([n]),
                                         np.bincount(tgt), np.array([True]))
        assert cls.tolist() == want
        for name in ("intersects", "within", "covered_by", "touches",
                     "disjoint", "crosses", "overlaps"):
            f = getattr(algos, name)
            np.testing.assert_array_equal(f(pts, rep), f(pts, plain), name)
            np.testing.assert_array_equal(f(rep, pts), f(plain, pts), name)
        np.testing.assert_array_equal(algos.distance(pts, rep),
                                      [2.5, 0.0, np.hypot(3, 3), 0.0])
        assert algos.relate(rep, pts) == algos.relate(plain, pts)
        assert algos.relate(rep.take([0]), pts.take([0])) == ["FF2FF10F2"]


def test_multipoint_on_line_endpoint_does_not_cross():
    """A line's interior excludes its (mod-2) boundary: a multipoint that
    meets a line only at an endpoint touches it (DE-9IM F00FFF102), in
    either argument order; a point on the interior, or on a closed
    line (which has no boundary), does cross."""
    mps = ga_from_wkt("MULTIPOINT ((7.5 3), (6.5 1.5), (5 0.5))",
                      "MULTIPOINT ((3 2), (1 3), (6 7))",
                      "MULTIPOINT ((4.5 2.75), (0 0))",
                      "MULTIPOINT ((0 0), (9 9))")
    lines = ga_from_wkt("LINESTRING (1.5 2.5, 7.5 3)",
                        "LINESTRING (1.5 6.5, 5.5 6.5, 3 2)",
                        "LINESTRING (1.5 2.5, 7.5 3)",
                        "LINESTRING (0 0, 4 0, 4 4, 0 0)")
    want = [False, False, True, True]
    assert algos.crosses(mps, lines).tolist() == want
    assert algos.crosses(lines, mps).tolist() == want
    assert algos.relate(mps, lines)[:2] == ["F00FFF102"] * 2


def test_repeated_vertex_does_not_hide_a_reflex_turn():
    """A zero-length edge has no turn of its own: the convexity tests
    must look past it, or a reflex star vertex next to a repeated one
    sends the polygon down the convex buffer, clip and SAT paths."""
    ring = ("14 10, 12.828 12.828, 10 14, 7.172 12.828, 2 10, "
            "7.172 7.172{}, 10 5, 12.828 7.172, 14 10")
    stars = ga_from_wkt(f"POLYGON (({ring.format('')}))",
                        f"POLYGON (({ring.format(', 7.172 7.172')}))")
    box = ga_from_wkt(*["POLYGON ((5 6, 9 6, 9 9, 5 9, 5 6))"] * 2)
    touching = ga_from_wkt(*["POLYGON ((0 0, 2 0, 2 10, 0 10, 0 0))"] * 2)
    assert not algos._is_convex(stars.coords[9:])
    assert not algos._sat_rows(stars, np.arange(2))[0].any()
    for got in (algos.area(algos.buffer(stars, np.array([1.0, 1.0]))),
                algos.area(algos.intersection(box, stars))):
        np.testing.assert_allclose(got[1], got[0], rtol=1e-12)
    assert algos.intersects(touching, stars).all()
