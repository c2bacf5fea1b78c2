"""Spark-layer tests for the st_* function surface."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geopandas_spark import st, register_sql


@pytest.fixture(scope="module")
def geo_df(spark):
    rows = [
        (1, "POINT (3 7)"),
        (2, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
        (3, "LINESTRING (0 0, 3 4)"),
        (4, "MULTIPOINT ((1 1), (2 2))"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["id", "wkt"])
    return df.withColumn("geom", st.geom_from_text("wkt"))


def test_roundtrip_wkt(geo_df):
    out = {r.id: r.t for r in
           geo_df.select("id", st.as_text("geom").alias("t")).collect()}
    assert out[1] == "POINT (3 7)"
    assert out[2] == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert out[5] is None


def test_measures(geo_df):
    rows = {r.id: r for r in geo_df.select(
        "id", st.area("geom").alias("a"), st.length("geom").alias("l"),
        st.npoints("geom").alias("np"),
        st.geometry_type("geom").alias("t")).collect()}
    assert rows[2].a == 16.0
    assert rows[3].l == 5.0
    assert rows[4].np == 2
    assert rows[1].t == "Point"


def test_point_xy(spark):
    df = spark.range(5).select(
        st.point(F.col("id") * 2, F.col("id") * 3).alias("g"))
    rows = df.select(st.x("g").alias("x"), st.y("g").alias("y")).collect()
    assert [r.x for r in rows] == [0.0, 2.0, 4.0, 6.0, 8.0]
    assert [r.y for r in rows] == [0.0, 3.0, 6.0, 9.0, 12.0]


def test_predicates(spark):
    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POINT (5 5)"),
         (2, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POINT (50 50)")],
        ["id", "a_wkt", "b_wkt"])
    out = {r.id: r for r in df.select(
        "id",
        st.contains(st.geom_from_text("a_wkt"),
                    st.geom_from_text("b_wkt")).alias("c"),
        st.intersects(st.geom_from_text("a_wkt"),
                      st.geom_from_text("b_wkt")).alias("i")).collect()}
    assert out[1].c and out[1].i
    assert not out[2].c and not out[2].i


def test_buffer_distance(spark):
    df = spark.createDataFrame([(0.0, 0.0, 3.0, 4.0)], ["x1", "y1", "x2", "y2"])
    r = df.select(
        st.distance(st.point("x1", "y1"), st.point("x2", "y2")).alias("d"),
        st.area(st.buffer(st.point("x1", "y1"), 10.0)).alias("ba")).collect()[0]
    assert r.d == 5.0
    expected = 0.5 * 64 * 100 * np.sin(2 * np.pi / 64)
    assert abs(r.ba - expected) < 1e-9


def test_sql_registration(spark):
    register_sql(spark)
    r = spark.sql(
        "SELECT st_area(st_makebox(0D, 0D, 5D, 4D)) AS a, "
        "st_astext(st_centroid(st_makebox(0D, 0D, 4D, 4D))) AS c").collect()[0]
    assert r.a == 20.0
    assert r.c == "POINT (2 2)"


def test_dump_explode(spark):
    df = spark.createDataFrame([(1, "MULTIPOINT ((1 1), (2 2))")], ["id", "w"])
    out = (df.select("id", F.posexplode(st.dump(st.geom_from_text("w")))
                     .alias("pos", "part"))
           .select("id", "pos", st.as_text("part").alias("t")).collect())
    assert [(r.pos, r.t) for r in out] == [(0, "POINT (1 1)"), (1, "POINT (2 2)")]


def test_union_agg_points(spark):
    df = spark.createDataFrame(
        [(1, 1.0, 1.0), (1, 2.0, 2.0), (1, 1.0, 1.0), (2, 5.0, 5.0)],
        ["k", "x", "y"])
    out = {r.k: r.n for r in
           df.groupBy("k").agg(st.union_agg(st.point("x", "y")).alias("u"))
           .select("k", st.ngeometries("u").alias("n")).collect()}
    assert out[1] == 2
    assert out[2] == 1


def test_bounds_struct(spark):
    df = spark.createDataFrame([("LINESTRING (1 2, 5 -3)",)], ["w"])
    r = df.select(st.bounds(st.geom_from_text("w")).alias("b")).collect()[0].b
    assert (r.xmin, r.ymin, r.xmax, r.ymax) == (1.0, -3.0, 5.0, 2.0)


def test_to_crs_mercator_roundtrip(spark):
    df = spark.createDataFrame([(-74.0, 40.7), (12.5, 41.9)], ["lon", "lat"])
    out = (df.withColumn("g", st.point("lon", "lat"))
             .withColumn("m", st.to_crs("g", "EPSG:4326", "EPSG:3857"))
             .withColumn("back", st.to_crs("m", "EPSG:3857", "EPSG:4326"))
             .select(st.x("back").alias("x"), st.y("back").alias("y"),
                     st.x("m").alias("mx")).collect())
    for r, (lon, lat) in zip(out, [(-74.0, 40.7), (12.5, 41.9)]):
        assert abs(r.x - lon) < 1e-9 and abs(r.y - lat) < 1e-9
    assert abs(out[0].mx - (-8237642.318702244)) < 1e-6


def test_sample_points_deterministic_and_inside(spark):
    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
         (2, "POLYGON ((100 100, 104 100, 104 104, 100 104, 100 100))")],
        ["id", "w"])
    g = st.geom_from_text("w")
    out1 = (df.withColumn("pts", st.sample_points(g, F.lit(20), seed=7))
            .select("id", st.npoints("pts").alias("n"),
                    st.as_text("pts").alias("t"),
                    st.within("pts", g).alias("inside")).collect())
    assert all(r.n == 20 and r.inside for r in out1)
    out2 = (df.withColumn("pts", st.sample_points(g, F.lit(20), seed=7))
            .select(st.as_text("pts").alias("t")).collect())
    assert [r.t for r in out1] == [r.t for r in out2]  # same seed → same pts


def test_sample_points_cluster_poisson(spark):
    """Clustered sampler (pointpats-style parent/offspring): count,
    containment, determinism, and actual clustering — mean
    nearest-parentless dispersion must be well below uniform's."""
    import numpy as np

    from geopandas_spark.geom import algos, wkb as wkbmod

    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))")], ["id", "w"])
    g = st.geom_from_text("w")
    mk = st.sample_points(g, F.lit(60), seed=5, method="cluster_poisson",
                          n_parents=3, cluster_radius=6.0)
    rows = (df.select(st.npoints(mk).alias("n"),
                      st.within(mk, g).alias("inside"),
                      mk.alias("b1"),
                      st.sample_points(g, F.lit(60), seed=5,
                                       method="cluster_poisson",
                                       n_parents=3,
                                       cluster_radius=6.0).alias("b2"))
            .collect())
    r = rows[0]
    assert r.n == 60 and r.inside
    assert bytes(r.b1) == bytes(r.b2)
    # clustered: point spread (std of coords) far below uniform's ~28.9
    ga = wkbmod.decode([bytes(r.b1)])
    pts = ga.coords
    # each point within cluster_radius of one of <=3 centers -> 60 points
    # in 3 discs of r=6 can't fill the square uniformly
    d = pts[:, None, :] - pts[None, :, :]
    dist = np.hypot(d[..., 0], d[..., 1])
    # for every point, its 10th-nearest neighbour is inside its own disc
    tenth = np.sort(dist, axis=1)[:, 10]
    assert (tenth <= 12.0).mean() > 0.9

    with __import__("pytest").raises(NotImplementedError):
        st.sample_points(g, F.lit(5), method="nope")


def test_subdivide_and_make_line(spark):
    """Engine-added scale ops: subdivide bounds piece vertices and
    preserves area through explode; make_line stitches ordered points."""
    df = spark.createDataFrame([(1,)], ["id"])
    box = st.makebox(F.lit(0.0), F.lit(0.0), F.lit(30.0), F.lit(20.0))
    dense = st.segmentize(box, F.lit(1.0))
    parts = df.select("id", F.explode(st.subdivide(dense, 30)).alias("p"))
    agg = parts.groupBy("id").agg(
        F.sum(st.area("p")).alias("tot"),
        F.max(st.npoints("p")).alias("mx"),
        F.count("*").alias("n")).collect()[0]
    assert agg.tot == 600.0 and agg.mx <= 30 and agg.n > 1

    rows = [(1, 3, 0.0, 0.0), (1, 1, 1.0, 0.0), (1, 2, 1.0, 1.0),
            (2, 1, 5.0, 5.0)]
    e = spark.createDataFrame(rows, ["uid", "seq", "x", "y"])
    g = e.groupBy("uid").agg(F.sort_array(F.collect_list(F.struct(
        "seq", st.point("x", "y").alias("g")))).alias("s"))
    out = {r.uid: (r.w, r.ln) for r in g.select(
        "uid",
        st.as_text(st.make_line(F.transform("s", lambda s: s["g"])))
        .alias("w"),
        F.round(st.length(st.make_line(
            F.transform("s", lambda s: s["g"]))), 6).alias("ln")).collect()}
    # ordered by seq: (1,0) -> (1,1) -> (0,0)
    assert out[1][0] == "LINESTRING (1 0, 1 1, 0 0)"
    assert abs(out[1][1] - (1.0 + 2 ** 0.5)) < 1e-5   # round-6 column
    assert out[2][1] == 0.0          # single point -> zero-length line


def test_polygonize_and_build_area(spark):
    rows = [(1, "LINESTRING (0 0, 4 0)"), (1, "LINESTRING (4 0, 2 3)"),
            (1, "LINESTRING (2 3, 0 0)"),
            (2, "LINESTRING (0 0, 10 0, 10 10, 0 10, 0 0)"),
            (2, "LINESTRING (3 3, 7 3, 7 7, 3 7, 3 3)")]
    df = (spark.createDataFrame(rows, ["k", "w"])
          .withColumn("g", st.geom_from_text("w")))
    out = {r.k: (r.n, r.a) for r in
           df.groupBy("k").agg(
               st.polygonize_agg("g").alias("faces"),
               st.build_area_agg("g").alias("area_geom"))
           .select("k", st.ngeometries("faces").alias("n"),
                   st.area("area_geom").alias("a")).collect()}
    assert out[1] == (1, 6.0)        # one triangular face
    assert out[2] == (2, 84.0)       # square + hole face; area nets hole


def test_skew_interiors_clearance(spark):
    df = spark.createDataFrame(
        [("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
          " (2 2, 4 2, 4 4, 2 4, 2 2))",)], ["w"])
    g = st.geom_from_text("w")
    r = df.select(
        F.size(st.interiors(g)).alias("nholes"),
        st.minimum_clearance(g).alias("mc"),
        st.area(st.skew(g, 0.0, 0.0)).alias("a0")).collect()[0]
    assert r.nholes == 1
    assert r.mc == 2.0
    assert r.a0 == 96.0


def test_transform_coords_user_fn(spark):
    df = spark.createDataFrame([("LINESTRING (0 0, 1 1)",)], ["w"])
    g = st.geom_from_text("w")

    def shift(coords):
        coords[:, 0] += 100.0
        return coords

    out = df.select(st.as_text(st.transform_coords(g, shift)).alias("t"))
    assert out.collect()[0].t == "LINESTRING (100 0, 101 1)"


def test_delaunay_voronoi_only_edges_and_tolerance(spark):
    from geopandas_spark import st
    df = spark.createDataFrame(
        [(1, "MULTIPOINT ((0 0), (4 0), (2 3), (2 1))"),
         (2, "MULTIPOINT ((0 0), (0.05 0.02), (4 0), (2 3))")], ["id", "w"]
    ).select("id", st.geom_from_text("w").alias("g"))
    rows = {r.id: r for r in df.select(
        "id",
        st.as_text(st.delaunay_triangles("g", only_edges=True)).alias("e"),
        st.as_text(st.voronoi_polygons("g", only_edges=True)).alias("v"),
        st.as_text(st.delaunay_triangles("g", tolerance=0.1)).alias("s"),
    ).collect()}
    # 4 points, 3 triangles -> 6 unique edges as MULTILINESTRING
    assert rows[1].e == ("MULTILINESTRING ((0 0, 2 1), (0 0, 2 3), "
                        "(0 0, 4 0), (2 1, 2 3), (2 1, 4 0), (2 3, 4 0))")
    assert rows[1].v.startswith("MULTILINESTRING")
    # tolerance clusters the two near-coincident sites -> one triangle
    assert rows[2].s == "MULTIPOLYGON (((0 0, 4 0, 2 3, 0 0)))"


def test_simplify_preserve_topology_and_normalized_kwargs(spark):
    from geopandas_spark import st
    # a skinny spike polygon where plain DP at tol=2 collapses the ring
    df = spark.createDataFrame([
        (1, "POLYGON ((0 0, 2 0.2, 4 0, 2 0.6, 0 0))"),
        (2, "LINESTRING (0 0, 10 0)"),
    ], ["id", "w"]).select("id", st.geom_from_text("w").alias("g"))
    r = {x.id: x for x in df.select(
        "id",
        st.as_text(st.simplify("g", 2.0)).alias("plain"),
        st.as_text(st.simplify("g", 2.0, preserve_topology=True)).alias("tp"),
        st.as_text(st.interpolate("g", 0.5, normalized=True)).alias("mid"),
        st.project("g", st.geom_from_text(F.lit("POINT (3 1)"))).alias("pr"),
        st.project("g", st.geom_from_text(F.lit("POINT (3 1)")),
                   normalized=True).alias("prn"),
    ).collect()}
    # non-preserving DP degenerates the spike; preserving falls back
    assert r[1].tp == "POLYGON ((0 0, 2 0.2, 4 0, 2 0.6, 0 0))"
    assert r[2].mid == "POINT (5 0)"
    assert r[2].pr == 3.0 and r[2].prn == 0.3


def test_line_merge_degree_rule_and_directed(spark):
    from geopandas_spark import st
    rows = [
        # Y-junction: three lines meet at (0 0) — degree 3, nothing merges
        (1, "MULTILINESTRING ((0 0, 1 0), (0 0, 0 1), (0 0, -1 -1))"),
        # simple chain: end-to-start, merges both ways
        (2, "MULTILINESTRING ((0 0, 1 1), (1 1, 2 2))"),
        # opposing directions: merges only when undirected
        (3, "MULTILINESTRING ((0 0, 1 1), (2 2, 1 1))"),
    ]
    df = spark.createDataFrame(rows, ["id", "w"]).select(
        "id", st.geom_from_text("w").alias("g"))
    out = {r.id: (r.u, r.d) for r in df.select(
        "id",
        st.as_text(st.line_merge("g")).alias("u"),
        st.as_text(st.line_merge("g", directed=True)).alias("d")).collect()}
    assert out[1][0].startswith("MULTILINESTRING")  # Y stays unmerged
    assert out[1][0].count("(") == 4
    assert out[2][0] == "LINESTRING (0 0, 1 1, 2 2)"
    assert out[2][1] == "LINESTRING (0 0, 1 1, 2 2)"
    assert out[3][0] == "LINESTRING (0 0, 1 1, 2 2)"
    assert out[3][1].startswith("MULTILINESTRING")  # directed: no flip


def test_polygonize_full_agg(spark):
    """polygonize(full=True) parity (reference base.py:6545): the
    4-way split into polygons / cut edges / dangles / invalid. Two
    square rings joined by a bridge whose endpoints lie exactly on the
    ring edges (noding splits there; the bridge bounds nothing -> cut),
    plus a floating segment (-> dangle)."""
    from pyspark.sql import functions as F

    rows = [(1, "LINESTRING (0 0, 0 1, 1 1, 1 0, 0 0)"),
            (1, "LINESTRING (3 0, 3 1, 4 1, 4 0, 3 0)"),
            (1, "LINESTRING (1 0.5, 3 0.5)"),
            (1, "LINESTRING (5 5, 6 6)")]
    df = spark.createDataFrame(rows, ["g", "w"]).select(
        "g", st.geom_from_text("w").alias("geom"))
    r = df.groupBy("g").agg(
        st.polygonize_full_agg("geom").alias("pz")).select(
        st.area(F.element_at("pz", 1)).alias("a"),
        st.ngeometries(F.element_at("pz", 1)).alias("np_"),
        st.length(F.element_at("pz", 2)).alias("lc"),
        st.length(F.element_at("pz", 3)).alias("ld"),
        F.isnull(F.element_at("pz", 4)).alias("inv_null")).first()
    assert r.a == 2.0 and r.np_ == 2
    assert r.lc == 2.0                       # the bridge
    assert abs(r.ld - 2 ** 0.5) < 1e-12     # the floating segment
    assert r.inv_null
    # kernel-level: plain polygonize is unchanged by the refactor
    import numpy as np

    from geopandas_spark.geom import algos, wkt as wktm
    ga = wktm.parse_array(np.array([w for _g, w in rows], dtype=object))
    assert float(algos.area(algos.polygonize(ga)).sum()) == 2.0


def test_distance_point_point_peephole(spark):
    """r12 (hardened r13): st.distance over two st.point Columns
    rewrites to codegen sqrt — no ArrowEvalPython in the plan, values
    identical to the Arrow kernel path, NULL coordinates propagate to
    NULL, and NaN coordinates yield NULL on BOTH paths (r13: the
    peephole wraps sqrt in an isnan guard so the result no longer
    depends on which path a plan takes)."""
    df = spark.createDataFrame(
        [(0.0, 0.0, 3.0, 4.0), (None, 1.0, 2.0, 2.0),
         (float("nan"), 0.0, 1.0, 1.0)],
        ["x1", "y1", "x2", "y2"])
    fused = df.select(st.distance(st.point("x1", "y1"),
                                  st.point("x2", "y2")).alias("d"))
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0
    rows = fused.collect()
    assert rows[0].d == 5.0
    assert rows[1].d is None
    assert rows[2].d is None        # NaN coord -> NULL, same as kernel
    # materialized WKB columns take the Arrow kernel: same values
    ref = (df.withColumn("g1", st.point("x1", "y1"))
             .withColumn("g2", st.point("x2", "y2"))
             .select(st.distance(F.col("g1"), F.col("g2")).alias("d"))
             .collect())
    assert ref[0].d == 5.0 and ref[1].d is None and ref[2].d is None


def test_distance_peephole_same_names_self_join(spark):
    """r13 regression (ADVICE high): the r12 peephole keyed remembered
    point args by the pretty-printed expression string, which strips
    exprIds — in a self-join st.point(a.x, a.y) and st.point(b.x, b.y)
    printed identically, the second store clobbered the first, and
    st.distance rewrote BOTH sides to the same coordinate pair
    (distance 0.0 for every row). Identity keying must keep the sides
    distinct even when column NAMES collide."""
    df = spark.createDataFrame([(1, 0.0, 0.0), (2, 3.0, 4.0)],
                               ["id", "x", "y"])
    a, b = df.alias("a"), df.alias("b")
    out = (a.crossJoin(b)
            .where(F.col("a.id") < F.col("b.id"))
            .select(st.distance(st.point(F.col("a.x"), F.col("a.y")),
                                st.point(F.col("b.x"), F.col("b.y")))
                    .alias("d")))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0     # peephole still fires
    assert out.collect()[0].d == 5.0              # ...with correct sides
    # and a foreign Column (same name, no remembered args) must NOT
    # trigger the rewrite — it goes through the Arrow kernel
    g = df.withColumn("g", st.point("x", "y"))
    kern = g.select(st.distance(F.col("g"), F.col("g")).alias("d"))
    kplan = kern._jdf.queryExecution().executedPlan().toString()
    assert kplan.count("ArrowEvalPython") > 0
    assert [r.d for r in kern.collect()] == [0.0, 0.0]


def test_length_from_text_fusion(spark):
    """r13: st.length over the exact Column st.geom_from_text returned
    fuses parse+length into ONE kernel (_length_of_wkt) — the WKB
    encode → decode round trip between the chained UDFs is dropped.
    Values must be identical to the chained path for clean, NULL and
    degenerate rows, and a materialized geometry column (no remembered
    source) must keep taking the plain st_length kernel."""
    df = spark.createDataFrame(
        [(1, "LINESTRING (0 0, 3 4)"), (2, None),
         (3, "LINESTRING (1 1, 1 1)"),
         (4, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")],
        ["id", "w"])
    fused = df.select("id", st.length(st.geom_from_text(F.col("w")))
                      .alias("l"))
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "_length_of_wkt" in plan
    assert "_geomfromtext" not in plan          # chain fully replaced
    got = {r.id: r.l for r in fused.collect()}
    # chained reference: materialize the geometry, then length
    ref = {r.id: r.l for r in
           df.withColumn("g", st.geom_from_text("w"))
             .select("id", st.length("g").alias("l")).collect()}
    assert got == ref == {1: 5.0, 2: None, 3: 0.0, 4: 16.0}
    # the materialized-column path must NOT fuse
    chained = (df.withColumn("g", st.geom_from_text("w"))
                 .select(st.length("g").alias("l")))
    cplan = chained._jdf.queryExecution().executedPlan().toString()
    assert "_length_of_wkt" not in cplan and "_geomfromtext" in cplan


def test_decode_memo_identity_and_lifetime():
    """The decode memo keys on a column's buffers, not on its pa.Array
    wrapper: every UDF of one ArrowEvalPython node gets a fresh wrapper
    of the same batch column (``batch[0] is batch[0]`` is False), and
    they must share one decode. An equal-valued array in other memory
    must miss, and the memo never holds more than its bound."""
    import pyarrow as pa

    from geopandas_spark.functions import st as stmod
    from geopandas_spark.geom import wkb as wkbmod
    from geopandas_spark.geom.array import points_from_xy

    raw = wkbmod.encode_arrow(points_from_xy(np.arange(5.0), np.arange(5.0)))
    batch = pa.record_batch([raw], names=["g"])
    assert batch[0] is not batch[0]
    stmod._DECODED.clear()
    ga1 = stmod._decode(batch[0], dedup=True)
    assert stmod._decode(batch[0], dedup=True) is ga1   # other wrapper: hit
    assert stmod._decode(batch[0]) is ga1               # shared by both paths
    copy = pa.array(raw.to_pylist(), pa.binary())       # equal values
    ga2 = stmod._decode(copy)
    assert ga2 is not ga1                               # other memory: miss
    assert wkbmod.encode(ga1) == wkbmod.encode(ga2)
    assert stmod._decode(raw.slice(1)) is not ga1       # other offset: miss
    for _ in range(3 * stmod._DECODED_MAX):
        stmod._decode(pa.array(raw.to_pylist(), pa.binary()))
        assert len(stmod._DECODED) <= stmod._DECODED_MAX
    stmod._DECODED.clear()


def test_predicates_share_one_decode(spark):
    """Six predicate UDFs over the same (box, pt) columns must agree
    with per-kernel results after the memo change (end-to-end through
    the Arrow boundary)."""
    from geopandas_spark import st
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"POINT ({i} {i})",
          f"POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))") for i in range(40)],
        ["id", "pw", "bw"])
    g = df.select("id", st.geom_from_text("pw").alias("pt"),
                  st.geom_from_text("bw").alias("box"))
    out = g.select("id",
                   st.contains("box", "pt").alias("c"),
                   st.intersects("box", "pt").alias("i"),
                   st.within("pt", "box").alias("w"),
                   st.disjoint("pt", "box").alias("d"),
                   st.covers("box", "pt").alias("v"),
                   st.dwithin("pt", "box", F.lit(0.0)).alias("dw")
                   ).orderBy("id").collect()
    for r in out:
        inside = 0 < r.id < 10
        on_edge = r.id in (0, 10)
        assert r.c == inside
        assert r.i == (inside or on_edge)
        assert r.w == inside
        assert r.d == (not (inside or on_edge))
        assert r.v == (inside or on_edge)
        assert r.dw == (inside or on_edge)


def test_worker_task_setup_skips_zip_rescans(spark):
    """A Spark Python worker that has run an engine UDF no longer
    re-parses its zip archives' directories when PySpark invalidates the
    import caches before each task (see ``geopandas_spark._worker``),
    imports from pyspark.zip still work there, and the driver's import
    machinery is untouched."""
    import json
    import sys
    import zipimport

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def probe(a):
        import importlib
        import json
        import sys
        import zipimport

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        import pyspark.ml.linalg as linalg
        plain = zipimport.zipimporter
        return a.map(lambda _: json.dumps({
            "hooks": any(h is plain for h in sys.path_hooks),
            "cached": any(type(f) is plain
                          for f in sys.path_importer_cache.values()),
            "reads": len(reads),
            "linalg": linalg.__file__,
        }))

    rows = (spark.range(0, 8, numPartitions=4)
            .select(st.point(F.col("id"), F.col("id")).alias("g"))
            # chained with the engine UDF, so the probe runs in the same
            # worker process, after the engine package was imported there
            .select(probe(st.area("g")).alias("p")).collect())
    got = [json.loads(r.p) for r in rows]
    assert len(got) == 8
    for g in got:
        assert not g["hooks"] and not g["cached"], g
        assert g["reads"] == 0, g
        assert ".zip" in g["linalg"], g
    assert zipimport.zipimporter in sys.path_hooks


def test_null_nan_contract_at_the_udf_boundary(spark):
    """NULL/NaN semantics of the st.* boundary: NaN float results are SQL
    NULL; bounds of a NULL or EMPTY geometry are a struct of NULL fields
    (the struct itself is not NULL); a NULL or NaN coordinate makes a
    NULL point; predicates on a missing geometry are False; npoints of
    NULL is 0; text and dump of NULL are NULL."""
    nan = float("nan")
    df = spark.createDataFrame(
        [(0, None), (1, "POINT EMPTY"), (2, "POINT (1 2)"),
         (3, "POINT Z (1 2 3)")], "id int, w string").select(
        "id", st.geom_from_text("w").alias("g"))
    box = st.makebox(F.lit(0.0), F.lit(0.0), F.lit(5.0), F.lit(5.0))
    out = {r.id: r for r in df.select(
        "id", st.x("g").alias("x"), st.z("g").alias("z"),
        st.distance("g", box).alias("d"), st.bounds("g").alias("b"),
        st.x_min("g").alias("x0"), st.y_min("g").alias("y0"),
        st.x_max("g").alias("x1"), st.y_max("g").alias("y1"),
        st.intersects(box, "g").alias("i"), st.contains(box, "g").alias("c"),
        st.npoints("g").alias("n"), st.as_text("g").alias("t"),
        st.dump("g").alias("p")).collect()}
    null = out[0]
    assert (null.x, null.z, null.d) == (None, None, None)
    assert null.b is not None and tuple(null.b) == (None,) * 4
    assert (null.x0, null.y0, null.x1, null.y1) == (None,) * 4
    assert (null.i, null.c, null.n) == (False, False, 0)
    assert (null.t, null.p) == (None, None)
    empty = out[1]
    assert (empty.x, empty.z) == (None, None)
    assert empty.b is not None and tuple(empty.b) == (None,) * 4
    assert (empty.x0, empty.y0, empty.x1, empty.y1) == (None,) * 4
    assert (empty.i, empty.c, empty.n) == (False, False, 0)
    flat = out[2]
    assert (flat.x, flat.z, flat.d) == (1.0, None, 0.0)
    assert tuple(flat.b) == (1.0, 2.0, 1.0, 2.0)
    assert (flat.i, flat.c, flat.n) == (True, True, 1)
    assert out[3].z == 3.0

    pts = spark.createDataFrame(
        [(0, 1.0, 2.0), (1, None, 2.0), (2, nan, 2.0), (3, 1.0, nan),
         (4, 1.0, None)], "id int, x double, y double")
    got = {r.id: r.g for r in pts.select(
        "id", st.point("x", "y").alias("g")).collect()}
    assert got[0] is not None
    assert [got[i] for i in (1, 2, 3, 4)] == [None] * 4


def test_sql_repeated_vertex_polygon_matches_unrepeated(spark):
    """SQL predicates and distance against a polygon with a repeated
    vertex give the answers of the same polygon without the repeat (the
    zero-length edge once put every point on the boundary)."""
    register_sql(spark)
    rows = spark.sql("""
        SELECT p.x, p.y,
               st_intersects(st_geomfromtext(r.w), st_point(p.x, p.y)) AS ri,
               st_intersects(st_geomfromtext(u.w), st_point(p.x, p.y)) AS ui,
               st_contains(st_geomfromtext(r.w), st_point(p.x, p.y)) AS rc,
               st_contains(st_geomfromtext(u.w), st_point(p.x, p.y)) AS uc,
               st_distance(st_geomfromtext(r.w), st_point(p.x, p.y)) AS rd,
               st_distance(st_geomfromtext(u.w), st_point(p.x, p.y)) AS ud
        FROM VALUES (6D, 5.5D), (2D, 2D), (-3D, -3D) AS p(x, y),
             VALUES ('POLYGON ((0 0, 0 0, 4 0, 4 4, 0 4, 0 0))') AS r(w),
             VALUES ('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS u(w)
        ORDER BY p.x""").collect()
    assert [(r.ri, r.rc, r.rd) for r in rows] == [
        (r.ui, r.uc, r.ud) for r in rows]
    assert [(r.ri, r.rc) for r in rows] == [
        (False, False), (True, True), (False, False)]
