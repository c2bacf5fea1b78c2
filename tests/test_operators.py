"""Operator plan tests: sjoin (both strategies), dissolve, explode, clip.

Modeled on the reference's parametrized matrix tests
(geopandas/tools/tests/test_sjoin.py:145-990, tests/test_dissolve.py)."""

import pytest
from pyspark.sql import functions as F

from geopandas_spark import st
from geopandas_spark.operators import (
    clip, dissolve, explode, hilbert_repartition, sjoin, sjoin_nearest,
    total_bounds,
)


@pytest.fixture(scope="module")
def points(spark):
    # 30 points on a line x=y, one per unit step
    rows = [(i, float(i), float(i) + 0.5) for i in range(30)]
    df = spark.createDataFrame(rows, ["pid", "x", "y"])
    return df.withColumn("geom", st.point("x", "y")).drop("x", "y")


@pytest.fixture(scope="module")
def boxes(spark):
    # 3 disjoint 10x10 boxes covering x in [0,10), [10,20), [20,30)
    rows = [(k, f"box_{k}", 10.0 * k) for k in range(3)]
    df = spark.createDataFrame(rows, ["bid", "name", "x0"])
    return df.withColumn(
        "geom",
        st.makebox("x0", F.lit(0.0), F.col("x0") + 10.0, F.lit(40.0))
    ).drop("x0")


@pytest.mark.parametrize("strategy", ["broadcast", "grid"])
def test_sjoin_inner_counts(points, boxes, strategy):
    out = sjoin(points, boxes, predicate="within", strategy=strategy)
    counts = {r.bid: r.n for r in
              out.groupBy("bid").agg(F.count("*").alias("n")).collect()}
    # boxes span [10k, 10k+10]; within excludes boundaries, so points with
    # x = 0, 10, 20 sit on box edges and match nothing
    assert counts[0] == 9   # x=1..9
    assert counts[1] == 9   # x=11..19
    assert counts[2] == 9   # x=21..29


@pytest.mark.parametrize("strategy", ["broadcast", "grid"])
def test_sjoin_intersects_boundary(points, boxes, strategy):
    out = sjoin(points, boxes, predicate="intersects", strategy=strategy)
    # boundary points x=10, x=20 match two boxes each
    assert out.count() == 30 + 2


def test_sjoin_left_outer(points, boxes, spark):
    far = spark.createDataFrame([(99, 1000.0, 1000.0)], ["pid", "x", "y"]) \
        .withColumn("geom", st.point("x", "y")).drop("x", "y")
    pts = points.unionByName(far)
    out = sjoin(pts, boxes, predicate="within", how="left",
                strategy="broadcast")
    assert out.count() == 31  # 27 matched + 3 boundary-unmatched + far
    unmatched = out.filter(F.col("bid").isNull()).collect()
    assert {r.pid for r in unmatched} == {0, 10, 20, 99}


def test_sjoin_dwithin(points, boxes):
    out = sjoin(points, boxes, predicate="dwithin", distance=0.6,
                strategy="broadcast")
    # every point within 0.6 of >= 1 box; boundary points near two
    assert out.count() >= 30


def test_sjoin_nearest(spark, points):
    sites = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 29.0, 29.0)], ["sid", "x", "y"]) \
        .withColumn("geom", st.point("x", "y")).drop("x", "y")
    out = sjoin_nearest(points, sites, distance_col="d")
    rows = {r.pid: (r.sid, r.d) for r in out.collect()}
    assert rows[0][0] == 0
    assert rows[29][0] == 1
    assert len(rows) == 30


def test_sjoin_nearest_xr_radius_boundary_ties(spark):
    """r12 (fuzz frontier 6d): the unbounded expanding-radius grid path
    must return the EXACT tie set even when the true-nearest distance
    falls exactly on a radius-ring boundary. Lattice rights + lattice
    lefts make ring-radius coincidences common; 4-way exact ties pin
    completeness. Referee: the broadcast path (tie-complete, refereed
    elsewhere)."""
    import itertools

    rights = [(i * 100 + j, float(i), float(j))
              for i, j in itertools.product(range(0, 33, 4), repeat=2)]
    rdf = (spark.createDataFrame(rights, ["sid", "x", "y"])
           .withColumn("geom", st.point("x", "y")).drop("x", "y"))
    # lefts: lattice cell centers (4-way exact ties), lattice-coincident
    # points (0-distance), and irrational offsets (no ties)
    lefts = ([(k, 2.0 + 4 * (k % 8), 2.0 + 4 * (k // 8))
              for k in range(64)] +
             [(100 + k, float(4 * k), float(4 * k)) for k in range(8)] +
             [(200 + k, 4 * k + 0.7071, 4 * k + 1.4142)
              for k in range(8)])
    ldf = (spark.createDataFrame(lefts, ["pid", "x", "y"])
           .withColumn("geom", st.point("x", "y")).drop("x", "y"))

    def collect(strategy):
        out = sjoin_nearest(ldf, rdf, distance_col="d",
                            strategy=strategy)
        m = {}
        for r in out.collect():
            m.setdefault(r.pid, set()).add((r.sid, round(r.d, 9)))
        return m

    grid = collect("grid")
    bcast = collect("broadcast")
    assert grid == bcast
    # the cell-center lefts tie 4 ways exactly
    assert all(len(grid[k]) == 4 for k in range(64))


def test_sjoin_preserves_nan_attributes(spark, boxes):
    """r12 regression: the sjoin pair generators run mapInArrow, not
    mapInPandas — the pandas round trip silently converted every NaN
    double (top-level, array element, struct field, map value) in
    pass-through attribute columns to NULL. NaN must come out as NaN
    and NULL as NULL, in both sjoin and sjoin_nearest."""
    import math

    rows = [(0, 5.0, float("nan")), (1, 15.0, 2.5), (2, 25.0, None)]
    pts = (spark.createDataFrame(rows, ["pid", "x", "score"])
           .withColumn("geom", st.point("x", F.lit(1.0)))
           .withColumn("arr", F.array(F.col("score"), F.lit(1.0)))
           .withColumn("m", F.create_map(F.lit("s"), F.col("score")))
           .drop("x"))
    for out in (sjoin(pts, boxes, predicate="intersects",
                      strategy="broadcast"),
                sjoin_nearest(pts, boxes, distance_col="d")):
        got = {r.pid: r for r in out.collect()}
        assert math.isnan(got[0].score) and got[2].score is None
        assert math.isnan(got[0].arr[0]) and got[2].arr[0] is None
        assert math.isnan(got[0].m["s"]) and got[2].m["s"] is None
        assert got[1].score == 2.5


def test_dissolve_counts(points, boxes):
    tagged = sjoin(points, boxes, predicate="intersects",
                   strategy="broadcast")
    dis = dissolve(tagged, "bid", {"pid": "count"}, geom="geom_left")
    out = {r.bid: (r.n, r.cnt) for r in dis.select(
        "bid", st.ngeometries("geom_left").alias("n"),
        F.col("pid_count").alias("cnt")).collect()}
    # union of points dedupes nothing here (all distinct)
    for bid in (0, 1, 2):
        assert out[bid][0] == out[bid][1]


def test_dissolve_two_phase_matches(points, boxes):
    tagged = sjoin(points, boxes, predicate="intersects",
                   strategy="broadcast")
    a = dissolve(tagged, "bid", {"pid": "count"}, geom="geom_left")
    b = dissolve(tagged, "bid", {"pid": "count"}, geom="geom_left",
                 two_phase=True)
    ra = {r.bid: (st_n := r.asDict()) for r in a.collect()}
    rb = {r.bid: r.asDict() for r in b.collect()}
    for bid in ra:
        assert ra[bid]["pid_count"] == rb[bid]["pid_count"]


def test_dissolve_coverage_method(spark):
    """Edge-matched tiles per group: method='coverage' unions without the
    sweep and matches the default method's result."""
    rows = []
    for g in range(3):
        for k in range(7):          # 7 tiles in a 4-wide grid strip
            i, j = k % 4, k // 4
            rows.append((g, f"POLYGON (({i} {j}, {i+1} {j}, {i+1} {j+1}, "
                            f"{i} {j+1}, {i} {j}))"))
    df = spark.createDataFrame(rows, ["g", "w"]).select(
        "g", st.geom_from_text("w").alias("geom"))
    cov = dissolve(df, "g", method="coverage")
    una = dissolve(df, "g")
    for d in (cov, una):
        out = {r.g: (r.a, r.p) for r in d.select(
            "g", st.area("geom").alias("a"),
            st.length("geom").alias("p")).collect()}
        for g in range(3):
            assert out[g][0] == 7.0
            assert out[g][1] == 2 * (4 + 2)   # 4-wide, 2 rows


def test_dissolve_aggfunc_lists_and_callables(points, boxes):
    tagged = sjoin(points, boxes, predicate="intersects",
                   strategy="broadcast")
    spread = lambda s: float(s.max() - s.min())  # noqa: E731
    dis = dissolve(tagged, "bid",
                   {"pid": ["sum", "count", "median", spread, "nunique"]},
                   geom="geom_left")
    rows = {r.bid: r.asDict() for r in dis.collect()}
    import pandas as pd
    raw = tagged.select("bid", "pid").toPandas()
    for bid, grp in raw.groupby("bid"):
        got = rows[bid]
        assert got["pid_sum"] == float(grp.pid.sum())
        assert got["pid_count"] == int(grp.pid.count())
        assert got["pid_median"] == float(grp.pid.median())
        assert got["pid_agg"] == float(grp.pid.max() - grp.pid.min())
        assert got["pid_nunique"] == int(grp.pid.nunique())


def test_total_bounds(points):
    assert total_bounds(points) == (0.0, 0.5, 29.0, 29.5)


def test_explode(spark):
    df = spark.createDataFrame(
        [(1, "MULTIPOINT ((1 1), (2 2))"), (2, "POINT (9 9)")], ["id", "w"])
    gdf = df.withColumn("geom", st.geom_from_text("w"))
    out = explode(gdf)
    rows = sorted((r.id, r.part_index, r.t) for r in
                  out.select("id", "part_index",
                             st.as_text("geom").alias("t")).collect())
    assert rows == [(1, 0, "POINT (1 1)"), (1, 1, "POINT (2 2)"),
                    (2, 0, "POINT (9 9)")]


def test_clip_rect(points):
    out = clip(points, "POLYGON ((5 0, 12 0, 12 40, 5 40, 5 0))")
    assert out.count() == 8  # x = 5..12 inclusive (boundary intersects)


def test_hilbert_repartition(points):
    out = hilbert_repartition(points, 4)
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 30


# ---------------------------------------------------------------------------
# overlay (reference: geopandas/tools/overlay.py; golden semantics from the
# reference's own 2x2 polys fixture, tests/test_overlay.py)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def polys1(spark):
    # two 2x2 squares side by side (the reference's dfs fixture)
    rows = [(1, "a", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
            (2, "b", "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))")]
    df = spark.createDataFrame(rows, ["df1_id", "col1", "wkt"])
    return df.withColumn("geom", st.geom_from_text("wkt")).drop("wkt")


@pytest.fixture(scope="module")
def polys2(spark):
    # same two squares shifted by (1, 1)
    rows = [(1, "x", "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"),
            (2, "y", "POLYGON ((3 1, 5 1, 5 3, 3 3, 3 1))")]
    df = spark.createDataFrame(rows, ["df2_id", "col2", "wkt"])
    return df.withColumn("geom", st.geom_from_text("wkt")).drop("wkt")


def _areas(df):
    return sorted(round(r.a, 6) for r in
                  df.select(st.area("geom").alias("a")).collect())


def test_overlay_intersection(polys1, polys2):
    from geopandas_spark.operators import overlay
    out = overlay(polys1, polys2, "intersection", strategy="broadcast")
    # squares overlap pairwise: (a∩x)=1, (b∩x)=1, (b∩y)=1
    assert _areas(out) == [1.0, 1.0, 1.0]
    assert set(out.columns) == {"df1_id", "col1", "df2_id", "col2", "geom"}


def test_overlay_difference(polys1, polys2):
    from geopandas_spark.operators import overlay
    out = overlay(polys1, polys2, "difference", strategy="broadcast")
    # each 4-area square loses its overlaps: a loses 1, b loses 2
    assert _areas(out) == [2.0, 3.0]
    assert set(out.columns) == {"df1_id", "col1", "geom"}


def test_overlay_symmetric_difference(polys1, polys2):
    from geopandas_spark.operators import overlay
    out = overlay(polys1, polys2, "symmetric_difference",
                  strategy="broadcast")
    assert _areas(out) == [2.0, 2.0, 3.0, 3.0]
    cols = set(out.columns)
    assert {"df1_id_1", "df2_id_2", "geom"} <= cols or \
           {"df1_id", "df2_id", "geom"} <= cols


def test_overlay_union_total_area(polys1, polys2):
    from geopandas_spark.operators import overlay
    out = overlay(polys1, polys2, "union", strategy="broadcast")
    # union fragments partition the union region: total area = |A ∪ B| = 13
    assert round(sum(_areas(out)), 6) == 13.0
    # intersection fragments carry both sides' attrs, diffs carry one
    assert out.count() == 3 + 2 + 2


def test_overlay_union_with_map_column(spark, polys1, polys2):
    """Frames with ungroupable column types (MapType, incl. nested)
    ride the SAME single-groupBy residue plan through a to_json/
    from_json encode pair (r11, VERDICT r10 #3 — the old key-only
    groupBy + dedup join-back fallback OOM'd at the 200k×200k A/B
    scale and is deleted), with values and types preserved."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    from geopandas_spark.operators import overlay
    p1 = (polys1.withColumn("meta", F.create_map(F.lit("k"),
                                                 F.col("col1")))
                .withColumn("nested", F.array(F.create_map(
                    F.lit("n"), F.col("df1_id") * 2))))
    out = overlay(p1, polys2, "union", strategy="broadcast")
    assert round(sum(_areas(out)), 6) == 13.0
    assert out.count() == 3 + 2 + 2
    # decoded columns keep their original Spark types
    assert isinstance(out.schema["meta"].dataType, MapType)
    rows = (out.filter(F.col("meta").isNotNull())
               .select("meta", "nested").collect())
    assert all(isinstance(r.meta, dict) and "k" in r.meta for r in rows)
    assert all(r.nested[0]["n"] in (2, 4) for r in rows)


def test_overlay_map_column_edge_values(spark, polys1, polys2):
    """r12 (ADVICE): the to_json/from_json ride-along must preserve the
    values JSON itself can't represent — NaN/Infinity doubles and
    binary nested in map values. Spark encodes them as "NaN"/
    "Infinity" strings and base64 and decodes them back byte-exact
    (verified here so a Spark behavior change fails loudly instead of
    silently nulling attributes)."""
    import math

    from pyspark.sql import functions as F

    from geopandas_spark.operators import overlay
    p1 = (polys1
          .withColumn("meta", F.create_map(
              F.lit("nan"), F.lit(float("nan")).cast("double"),
              F.lit("inf"), F.lit(float("inf")).cast("double"),
              F.lit("v"), F.col("df1_id").cast("double")))
          .withColumn("blob", F.create_map(
              F.lit("b"), F.unhex(F.lit("00FF62696E")))))
    out = overlay(p1, polys2, "union", strategy="broadcast")
    rows = (out.filter(F.col("meta").isNotNull())
               .select("meta", "blob").collect())
    assert rows
    for r in rows:
        assert math.isnan(r.meta["nan"])
        assert math.isinf(r.meta["inf"])
        assert r.meta["v"] in (1.0, 2.0)
        assert bytes(r.blob["b"]) == b"\x00\xffbin"


def test_overlay_identity(polys1, polys2):
    from geopandas_spark.operators import overlay
    out = overlay(polys1, polys2, "identity", strategy="broadcast")
    # identity = df1 region, fragmented by df2: total area = |A| = 8
    assert round(sum(_areas(out)), 6) == 8.0


def test_coverage_operators(spark):
    from geopandas_spark.operators import (invalid_coverage_edges,
                                           simplify_coverage)
    from geopandas_spark.geom import wkt as wktmod, wkb as wkbmod, algos

    def row(gid, layer, w):
        return (gid, layer, wkbmod.encode(wktmod.parse_array([w]))[0])

    # layer "ok": clean 2-box coverage with a wiggly shared edge;
    # layer "bad": two overlapping boxes
    data = [
        row(0, "ok", "POLYGON ((0 0, 2 0, 2.1 1, 2 2, 0 2, 0 0))"),
        row(1, "ok", "POLYGON ((2 0, 4 0, 4 2, 2 2, 2.1 1, 2 0))"),
        row(2, "bad", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
        row(3, "bad", "POLYGON ((1 0, 3 0, 3 2, 1 2, 1 0))"),
    ]
    df = spark.createDataFrame(data, "gid long, layer string, geom binary")

    inv = invalid_coverage_edges(df, "layer").collect()
    lens = {r.gid: algos.length(wkbmod.decode([r.invalid_edges]))[0]
            for r in inv}
    assert lens[0] == 0.0 and lens[1] == 0.0   # clean layer
    assert lens[2] == 2.0 and lens[3] == 2.0   # each boundary crosses 2u

    simp = simplify_coverage(df, 0.5, "layer").collect()
    geoms = {r.gid: wkbmod.decode([r.geom]) for r in simp}
    # shared wiggle straightened identically on both sides → areas 4 + 4
    assert algos.area(geoms[0])[0] == 4.0
    assert algos.area(geoms[1])[0] == 4.0
    two = wkbmod.decode([simp[0].geom if simp[0].gid == 0 else simp[1].geom])
    # coverage still valid after simplification
    ok_rows = [r.geom for r in simp if r.layer == "ok"]
    assert algos.is_valid_coverage(wkbmod.decode(ok_rows))


def test_sjoin_nearest_grid_matches_broadcast(spark, sf_dir):
    from pyspark.sql import functions as F
    from geopandas_spark import st
    from geopandas_spark.operators.sjoin import sjoin_nearest

    c = (spark.read.parquet(f"{sf_dir}/customer.parquet").limit(400)
         .withColumn("geom", st.point(
             (F.col("c_custkey") % 1000).cast("double"),
             ((F.col("c_custkey") * 7) % 1000).cast("double")))
         .select("c_custkey", "geom"))
    s = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
         .withColumn("geom", st.point(
             ((F.col("s_suppkey") * 13) % 1000).cast("double"),
             ((F.col("s_suppkey") * 31) % 1000).cast("double")))
         .select("s_suppkey", "geom"))

    bc = sjoin_nearest(c, s, max_distance=150.0, distance_col="d")
    gr = sjoin_nearest(c, s, max_distance=150.0, distance_col="d",
                       strategy="grid")
    b = {(r.c_custkey, r.s_suppkey, round(r.d, 9)) for r in bc.collect()}
    g = {(r.c_custkey, r.s_suppkey, round(r.d, 9)) for r in gr.collect()}
    assert b == g and len(b) > 0


def test_sjoin_nearest_grid_left_and_exclusive(spark):
    from pyspark.sql import functions as F
    from geopandas_spark import st
    from geopandas_spark.operators.sjoin import sjoin_nearest
    import pytest as _pytest

    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10.0, 0.0), (3, 500.0, 500.0)],
        ["k", "x", "y"]).withColumn("geom", st.point("x", "y"))
    tgt = spark.createDataFrame(
        [(101, 0.0, 0.0), (102, 11.0, 0.0)],
        ["t", "x", "y"]).withColumn("geom", st.point("x", "y"))

    out = sjoin_nearest(pts, tgt, max_distance=5.0, distance_col="d",
                        how="left", strategy="grid").collect()
    by_k = {r.k: r for r in out}
    assert by_k[1].t == 101 and by_k[1].d == 0.0
    assert by_k[2].t == 102 and by_k[2].d == 1.0
    assert by_k[3].t is None and by_k[3].d is None  # beyond max_distance

    ex = sjoin_nearest(pts, tgt, max_distance=15.0, distance_col="d",
                       exclusive=True, strategy="grid").collect()
    k1 = [r for r in ex if r.k == 1]
    assert len(k1) == 1 and k1[0].t == 102  # self at d=0 excluded

    # no max_distance: the exact expanding-radius path kicks in (matches
    # the broadcast/reference semantics instead of raising)
    unb = sjoin_nearest(pts, tgt, distance_col="d",
                        strategy="grid").collect()
    by_k2 = {r.k: (r.t, round(r.d, 6)) for r in unb}
    # previously unmatched row resolves: (500,500) -> 102 at (11,0)
    assert by_k2[3] == (102, round((489.0 ** 2 + 500.0 ** 2) ** 0.5, 6))
    assert by_k2[1] == (101, 0.0) and by_k2[2] == (102, 1.0)


def test_geocode_roundtrip_stub(spark):
    from pyspark.sql import functions as F
    from geopandas_spark import st
    from geopandas_spark.operators.geocoding import geocode, reverse_geocode

    df = spark.createDataFrame(
        [(1, "10 Main St"), (2, None), (3, "Plaza Mayor 1")],
        ["k", "address"])
    g = geocode(df)
    rows = {r.k: r for r in g.withColumn("x", st.x("geom"))
            .withColumn("y", st.y("geom")).collect()}
    assert rows[2].geom is None
    assert rows[1].geom is not None and -180 <= rows[1].x <= 180
    # determinism: same address → same point
    again = {r.k: r for r in geocode(df).withColumn("x", st.x("geom")).collect()}
    assert again[1].x == rows[1].x

    back = reverse_geocode(g.filter(F.col("geom").isNotNull()))
    got = {r.k: r.address for r in back.collect()}
    assert all(a and ("N" in a or "S" in a) for a in got.values())

    # injectable provider
    fixed = geocode(df, provider=lambda a: (1.0, 2.0))
    vals = {(r.x, r.y) for r in fixed.filter(F.col("geom").isNotNull())
            .select(st.x("geom").alias("x"), st.y("geom").alias("y")).collect()}
    assert vals == {(1.0, 2.0)}


def test_sjoin_nearest_grid_unbounded(spark):
    """Expanding-radius unbounded nearest must equal the broadcast path
    (the reference's single-STRtree shape) on every pair + distance."""
    from pyspark.sql import functions as F

    from geopandas_spark import st
    from geopandas_spark.operators.sjoin import sjoin_nearest
    left = spark.range(200).select(
        F.col("id").alias("lid"),
        st.point(F.col("id") % 23, (F.col("id") * 13) % 29).alias("geom"))
    right = spark.range(40).select(
        F.col("id").alias("rid"),
        st.point((F.col("id") * 5) % 23, (F.col("id") * 3) % 29).alias("geom"))
    a = sjoin_nearest(left, right, distance_col="d", strategy="broadcast")
    b = sjoin_nearest(left, right, distance_col="d", strategy="grid")
    ka = {(r.lid, r.rid, round(r.d, 9)) for r in a.collect()}
    kb = {(r.lid, r.rid, round(r.d, 9)) for r in b.collect()}
    assert ka == kb and len(kb) >= 200

    # how=left with an empty right side: all lefts survive unmatched
    empty = right.filter(F.lit(False))
    l = sjoin_nearest(left, empty, distance_col="d", strategy="grid",
                      how="left")
    assert l.count() == 200
    assert l.filter(F.col("rid").isNotNull()).count() == 0


def test_sjoin_grid_matches_broadcast_all_predicates(spark):
    """Cross-strategy differential: on randomized polygon×polygon input
    the grid plan's pair set must equal the broadcast plan's for every
    predicate (the two paths share the refine kernels but differ in
    candidate generation + dedup — this pins the grid machinery)."""
    from pyspark.sql import functions as F

    from geopandas_spark import st
    from geopandas_spark.operators import sjoin
    left = spark.range(300).select(
        F.col("id").alias("lid"),
        st.makebox((F.col("id") * 37 % 100).cast("double"),
                   (F.col("id") * 61 % 100).cast("double"),
                   (F.col("id") * 37 % 100 + 1 + F.col("id") % 7)
                   .cast("double"),
                   (F.col("id") * 61 % 100 + 1 + F.col("id") % 5)
                   .cast("double")).alias("geom"))
    right = spark.range(60).select(
        F.col("id").alias("rid"),
        st.makebox((F.col("id") * 41 % 100).cast("double"),
                   (F.col("id") * 23 % 100).cast("double"),
                   (F.col("id") * 41 % 100 + 4).cast("double"),
                   (F.col("id") * 23 % 100 + 4).cast("double"))
        .alias("geom"))
    for pred, kw in [("intersects", {}), ("contains", {}), ("within", {}),
                     ("covers", {}), ("covered_by", {}), ("touches", {}),
                     ("overlaps", {}), ("dwithin", {"distance": 2.5})]:
        a = {(r.lid, r.rid) for r in sjoin(
            left, right, predicate=pred, strategy="broadcast",
            **kw).select("lid", "rid").collect()}
        b = {(r.lid, r.rid) for r in sjoin(
            left, right, predicate=pred, strategy="grid",
            **kw).select("lid", "rid").collect()}
        assert a == b, (pred, len(a), len(b),
                        sorted(a - b)[:3], sorted(b - a)[:3])


def test_sjoin_grid_monster_bboxes_match_broadcast(spark):
    """Monster-bbox sentinel routing (r10, VERDICT r9 #4): geometries
    whose bbox spans >256 grid cells are routed through sentinel join
    keys instead of exploding the grid. Differential vs broadcast with
    monsters on the left, on the right, and on both sides, for both a
    plain predicate and dwithin."""
    from pyspark.sql import functions as F

    from geopandas_spark import st
    from geopandas_spark.operators import sjoin

    def boxes(n, name, monsters):
        df = spark.range(n).select(
            F.col("id").alias(name),
            st.makebox((F.col("id") * 37 % 500).cast("double"),
                       (F.col("id") * 61 % 500).cast("double"),
                       (F.col("id") * 37 % 500 + 1).cast("double"),
                       (F.col("id") * 61 % 500 + 1).cast("double"))
            .alias("geom"))
        if monsters:
            # plane-covering rows (bbox spans the whole 500x500 extent)
            df = df.withColumn("geom", F.when(
                F.col(name) % (n // monsters) == 0,
                st.makebox(F.lit(-10.0), F.lit(-10.0),
                           F.lit(510.0), F.lit(510.0))
            ).otherwise(F.col("geom")))
        return df

    for mon_l, mon_r in [(3, 0), (0, 3), (3, 3)]:
        left = boxes(400, "lid", mon_l)
        right = boxes(90, "rid", mon_r)
        for pred, kw in [("intersects", {}), ("dwithin", {"distance": 2.0})]:
            a = {(r.lid, r.rid) for r in sjoin(
                left, right, predicate=pred, strategy="broadcast",
                **kw).select("lid", "rid").collect()}
            b = {(r.lid, r.rid) for r in sjoin(
                left, right, predicate=pred, strategy="grid",
                **kw).select("lid", "rid").collect()}
            assert a == b, (mon_l, mon_r, pred, len(a), len(b),
                            sorted(a - b)[:3], sorted(b - a)[:3])
            assert len(a) > 0


def test_sjoin_grid_monster_left_outer_and_dups(spark):
    """Monster bands × the other grid-join features: how='left' keeps
    unmatched rows exactly once; duplicate right geometries (the
    dedup_right path) fan back out correctly; on_attribute joins keep
    the band keys compatible."""
    from pyspark.sql import functions as F

    from geopandas_spark import st
    from geopandas_spark.operators import sjoin

    left = spark.range(300).select(
        F.col("id").alias("lid"),
        (F.col("id") % 2).alias("part"),
        F.when(F.col("id") % 60 == 0,
               st.makebox(F.lit(-5.0), (F.col("id") * 61 % 300)
                          .cast("double"),
                          F.lit(305.0), (F.col("id") * 61 % 300 + 0.5)
                          .cast("double")))
         .otherwise(st.makebox((F.col("id") * 37 % 300).cast("double"),
                               (F.col("id") * 61 % 300).cast("double"),
                               (F.col("id") * 37 % 300 + 2).cast("double"),
                               (F.col("id") * 61 % 300 + 2).cast("double")))
        .alias("geom"))
    # right: 15 unique boxes each duplicated 6x (dedup_right fires)
    right = spark.range(90).select(
        F.col("id").alias("rid"),
        (F.col("id") % 2).alias("part"),
        st.makebox((F.col("id") % 15 * 19 % 290).cast("double"),
                   (F.col("id") % 15 * 23 % 290).cast("double"),
                   (F.col("id") % 15 * 19 % 290 + 8).cast("double"),
                   (F.col("id") % 15 * 23 % 290 + 8).cast("double"))
        .alias("geom"))

    for kw in [{"how": "left"}, {"on_attribute": ["part"]},
               {"how": "left", "on_attribute": ["part"]}]:
        a = sorted((r.lid, r.rid) for r in sjoin(
            left, right, predicate="intersects", strategy="broadcast",
            **kw).select("lid", "rid").collect())
        b = sorted((r.lid, r.rid) for r in sjoin(
            left, right, predicate="intersects", strategy="grid",
            **kw).select("lid", "rid").collect())
        assert a == b, (kw, len(a), len(b))
        assert len(a) > 0


def test_sjoin_on_attribute_null_never_matches(spark):
    """r13 regression (ADVICE): the r12 mapInArrow switch surfaced NULL
    join attributes as Python None, and None == None is True — so
    NULL-on-both-sides rows silently matched, diverging from SQL `=`
    (which never matches NULL). Both strategies must drop NULL-keyed
    pairs, exactly like the equivalent DataFrame equi-join."""
    from pyspark.sql import functions as F

    from geopandas_spark import st
    from geopandas_spark.operators import sjoin

    # ids 0/1 share key 7; ids 2/3 have NULL keys; geometries all overlap
    left = spark.createDataFrame(
        [(0, 7), (1, 7), (2, None), (3, None)], ["lid", "k"]).select(
        "lid", F.col("k").cast("long").alias("k"),
        st.makebox(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0))
          .alias("geom"))
    right = spark.createDataFrame(
        [(10, 7), (11, None)], ["rid", "k"]).select(
        "rid", F.col("k").cast("long").alias("k"),
        st.makebox(F.lit(5.0), F.lit(5.0), F.lit(15.0), F.lit(15.0))
          .alias("geom"))
    want = {(0, 10), (1, 10)}           # NULL keys match nothing
    for strat in ("broadcast", "grid"):
        got = {(r.lid, r.rid) for r in sjoin(
            left, right, predicate="intersects", strategy=strat,
            on_attribute=["k"]).select("lid", "rid").collect()}
        assert got == want, (strat, got)


def test_sjoin_array_key_matches_equi_join(spark):
    """An array-typed on_attribute key: Arrow cannot compare list arrays
    and Python cannot hash lists, so the broadcast path compares key
    tuples per pair and keeps one location per right row. Both
    strategies must still equal the DataFrame equi-join, duplicate right
    rows included."""
    box = st.makebox(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0))
    left = spark.createDataFrame(
        [(0, [1, 2]), (1, [3]), (2, None), (3, [1])],
        "lid int, k array<bigint>").select("lid", "k", box.alias("geom"))
    right = spark.createDataFrame(
        [(10, [1, 2]), (11, [1, 2]), (12, [3]), (13, None)],
        "rid int, k array<bigint>").select("rid", "k", box.alias("geom"))
    want = {(r.lid, r.rid) for r in
            left.join(right.drop("geom"), on="k").collect()}
    assert want == {(0, 10), (0, 11), (1, 12)}
    for strat in ("broadcast", "grid"):
        got = {(r.lid, r.rid) for r in sjoin(
            left, right, predicate="intersects", strategy=strat,
            on_attribute=["k"]).select("lid", "rid").collect()}
        assert got == want, (strat, got)


def test_sjoin_nearest_grid_with_monster_right(spark):
    """The nearest-grid path inherits the band routing through the
    shared dwithin candidate join — monster strips on the build side
    must not change results vs broadcast."""
    from pyspark.sql import functions as F

    from geopandas_spark import st
    from geopandas_spark.operators.sjoin import sjoin_nearest

    pts = spark.range(250).select(
        F.col("id").alias("pid"),
        st.point((F.col("id") * 13 % 200).cast("double"),
                 (F.col("id") * 31 % 200).cast("double")).alias("geom"))
    boxes = spark.range(80).select(
        F.col("id").alias("bid"),
        F.when(F.col("id") % 20 == 0,
               st.makebox(F.lit(-5.0), (F.col("id") * 7 % 200)
                          .cast("double"),
                          F.lit(205.0), (F.col("id") * 7 % 200 + 0.4)
                          .cast("double")))
         .otherwise(st.makebox((F.col("id") * 11 % 195).cast("double"),
                               (F.col("id") * 17 % 195).cast("double"),
                               (F.col("id") * 11 % 195 + 4).cast("double"),
                               (F.col("id") * 17 % 195 + 4).cast("double")))
        .alias("geom"))
    a = sorted((r.pid, r.bid, round(r.d, 9)) for r in sjoin_nearest(
        pts, boxes, max_distance=15.0, distance_col="d",
        strategy="broadcast").select("pid", "bid", "d").collect())
    b = sorted((r.pid, r.bid, round(r.d, 9)) for r in sjoin_nearest(
        pts, boxes, max_distance=15.0, distance_col="d",
        strategy="grid").select("pid", "bid", "d").collect())
    assert a == b and len(a) > 0


def test_sjoin_grid_mostly_null_geometry_extent(spark):
    """Degenerate-sample fallback (r10 ADVICE): a geometry column that
    is mostly NULL with a few huge-coordinate rows must derive the grid
    extent from a real min/max aggregate, not a hardcoded unit square
    (which sized cells at ~1/4096 of a unit and exploded real bboxes
    into millions of cells)."""
    from pyspark.sql import functions as F

    from geopandas_spark import st
    from geopandas_spark.operators import sjoin

    # left sample yields NO usable bounds (all NULL); right carries
    # real 2e5-wide bboxes at web-mercator-ish magnitudes — under the
    # old unit-square fallback each right bbox covered ~10^8 unit-grid
    # cells (job blowup); the aggregate-extent fallback sizes sanely
    left = spark.range(2000).select(
        F.col("id").alias("lid"),
        F.lit(None).cast("binary").alias("geom"))
    right = spark.range(2000).select(
        F.col("id").alias("rid"),
        st.makebox((F.col("id") * 1e3).cast("double"),
                   (F.col("id") * 1e3).cast("double"),
                   (F.col("id") * 1e3 + 2e5).cast("double"),
                   (F.col("id") * 1e3 + 2e5).cast("double")).alias("geom"))
    inner = sjoin(left, right, predicate="intersects",
                  strategy="grid").count()
    assert inner == 0
    outer = sjoin(left, right, predicate="intersects", how="left",
                  strategy="grid").count()
    assert outer == 2000


def test_sjoin_strategies_agree_with_duplicate_geoms(spark):
    """r5 insurance for the duplicate-geometry dedup in both join
    strategies: random points x boxes with heavy right-side geometry
    duplication (the 100x scale-tier shape) must produce IDENTICAL
    (pid, bid) pair sets and identical nearest (pid, sid, dist) sets
    under broadcast and grid, and under the dedup-vs-not regimes."""
    import numpy as np

    rng = np.random.default_rng(3)
    pts_rows = [(int(i), float(x), float(y)) for i, (x, y) in
                enumerate(rng.uniform(0, 100, (300, 2)).round(2))]
    pts = (spark.createDataFrame(pts_rows, ["pid", "x", "y"])
           .withColumn("geom", st.point("x", "y")).drop("x", "y"))
    # 12 unique boxes, each duplicated 5x with distinct ids
    box_rows = []
    bid = 0
    for k in range(12):
        x0, y0 = rng.uniform(0, 80, 2).round(1)
        for _dup in range(5):
            box_rows.append((bid, float(x0), float(y0)))
            bid += 1
    boxes_df = (spark.createDataFrame(box_rows, ["bid", "x0", "y0"])
                .withColumn("geom", st.makebox(
                    "x0", "y0", F.col("x0") + 15.0, F.col("y0") + 15.0))
                .drop("x0", "y0"))
    got = {}
    for strategy in ("broadcast", "grid"):
        out = sjoin(pts, boxes_df, predicate="intersects",
                    strategy=strategy)
        got[strategy] = {(r.pid, r.bid) for r in
                         out.select("pid", "bid").collect()}
    assert got["broadcast"] == got["grid"]
    assert len(got["broadcast"]) > 0
    # nearest: duplicated right points (5 copies per location)
    sup_rows = []
    sid = 0
    for k in range(20):
        x, y = rng.uniform(0, 100, 2).round(2)
        for _dup in range(5):
            sup_rows.append((sid, float(x), float(y)))
            sid += 1
    sup = (spark.createDataFrame(sup_rows, ["sid", "x", "y"])
           .withColumn("geom", st.point("x", "y")).drop("x", "y"))
    near = {}
    for strategy in ("broadcast", "grid"):
        out = sjoin_nearest(pts, sup, strategy=strategy,
                            distance_col="d")
        near[strategy] = {(r.pid, r.sid, round(r.d, 9)) for r in
                          out.select("pid", "sid", "d").collect()}
    assert near["broadcast"] == near["grid"]
    # every pid matched, and every tie location fans out to all 5 copies
    pids = {p for p, _s, _d in near["broadcast"]}
    assert pids == set(range(300))
    from collections import Counter
    per_pid = Counter(p for p, _s, _d in near["broadcast"])
    assert min(per_pid.values()) >= 5


def test_dissolve_two_phase_polygon_union_matches(spark):
    """r5 insurance for the dissolve phase changes: overlapping POLYGON
    groups must produce identical union areas (exact) under the
    single-phase plan, the two-phase plan, and union lengths for LINE
    groups under both plans (lineal union associativity)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for g in range(4):
        for _ in range(40):
            x0, y0 = rng.integers(0, 50, 2)
            w, h = rng.integers(2, 12, 2)
            rows.append((int(g), float(x0), float(y0),
                         float(x0 + w), float(y0 + h)))
    df = (spark.createDataFrame(rows, ["g", "x0", "y0", "x1", "y1"])
          .withColumn("geom", st.makebox("x0", "y0", "x1", "y1"))
          .drop("x0", "y0", "x1", "y1").repartition(6))
    one = dissolve(df, "g", two_phase=False)
    two = dissolve(df, "g", two_phase=True)
    a1 = {r.g: r.a for r in
          one.select("g", st.area("geom").alias("a")).collect()}
    a2 = {r.g: r.a for r in
          two.select("g", st.area("geom").alias("a")).collect()}
    assert set(a1) == set(a2) == set(range(4))
    for g in a1:
        assert abs(a1[g] - a2[g]) < 1e-9 * max(a1[g], 1.0), (g, a1[g], a2[g])
    # line groups: grid roads with collinear overlap
    lrows = []
    for g in range(3):
        for k in range(25):
            x0 = float(k % 5) * 2
            y = float(k % 7)
            lrows.append((int(g), f"LINESTRING ({x0} {y}, {x0 + 8} {y})"))
    ldf = (spark.createDataFrame(lrows, ["g", "w"])
           .withColumn("geom", st.geom_from_text("w")).drop("w")
           .repartition(5))
    lone = dissolve(ldf, "g", two_phase=False)
    ltwo = dissolve(ldf, "g", two_phase=True)
    l1 = {r.g: r.ln for r in
          lone.select("g", st.length("geom").alias("ln")).collect()}
    l2 = {r.g: r.ln for r in
          ltwo.select("g", st.length("geom").alias("ln")).collect()}
    for g in l1:
        assert abs(l1[g] - l2[g]) < 1e-9, (g, l1[g], l2[g])


def test_sjoin_nearest_tie_semantics_across_strategies(spark):
    """r5-VERDICT #7: the coincident-location dedupe + tie fan-out
    (operators/sjoin.py) must keep reference tie semantics — ALL
    equidistant rights returned (geopandas tools/sjoin.py:589-741) —
    identically on the broadcast, bounded-grid, and expanding-radius
    paths. Lattice coordinates force exact ties and duplicated right
    locations (several right rows at identical points); a numpy
    brute-force tie set is the oracle."""
    import numpy as np

    for seed in (3, 11, 42):
        rng = np.random.default_rng(seed)
        nl, nr = 40, 60
        # small integer lattice: exact ties + duplicate locations abound
        lc = rng.integers(0, 12, (nl, 2)).astype(float)
        rc = rng.integers(0, 12, (nr, 2)).astype(float)
        rc[nr // 2:nr // 2 + 5] = rc[0]      # stacked duplicate location
        lpdf = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(lc)],
            "lk long, x double, y double").withColumn(
                "geom", st.point("x", "y")).select("lk", "geom")
        rpdf = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(rc)],
            "rk long, x double, y double").withColumn(
                "geom", st.point("x", "y")).select("rk", "geom")

        d2 = ((lc[:, None, 0] - rc[None, :, 0]) ** 2 +
              (lc[:, None, 1] - rc[None, :, 1]) ** 2)
        dmin = d2.min(axis=1)

        for maxd in (4.0, None):
            want = set()
            for i in range(nl):
                if maxd is not None and np.sqrt(dmin[i]) > maxd:
                    continue
                for j in np.nonzero(d2[i] == dmin[i])[0]:
                    want.add((i, int(j), round(float(np.sqrt(dmin[i])), 9)))
            outs = {}
            for strat in ("broadcast", "grid"):
                res = sjoin_nearest(lpdf, rpdf, max_distance=maxd,
                                    distance_col="d", strategy=strat)
                outs[strat] = {(r.lk, r.rk, round(r.d, 9))
                               for r in res.collect()}
            assert outs["broadcast"] == want, (seed, maxd, "broadcast")
            assert outs["grid"] == want, (seed, maxd, "grid")


def test_dissolve_duplicate_heavy_dedupe_plan_matches(spark):
    """r6 insurance for the duplication-probe dissolve plan: when many
    rows share identical (key, geom) bytes, dissolve takes a native
    (key, geom) hash-aggregate dedupe before the per-key merge. The
    probe must fire on a 20x-duplicated input, and the dedupe plan's
    values (union geometry, sum/mean/count/min partials recombined from
    per-duplicate-group natives) must equal the regular two-phase plan's
    and the exact pandas aggregates."""
    import numpy as np

    from geopandas_spark.operators.dissolve import (_PLAN_CACHE,
                                                    _probe_duplication,
                                                    dissolve)

    rng = np.random.default_rng(11)
    rows = []
    for g in range(4):
        for k in range(12):          # 12 distinct points per group
            x, y = float(g * 100 + k), float(k % 5)
            for d in range(20):      # each duplicated 20x, varying v
                rows.append((int(g), x, y, float(k + d), int(d)))
    df = (spark.createDataFrame(rows, ["g", "x", "y", "v", "w"])
          .withColumn("geom", st.point("x", "y"))
          .drop("x", "y").repartition(8))
    assert _probe_duplication(df, ["g"], "geom") is True
    _PLAN_CACHE.clear()
    dup_plan = dissolve(df, "g", {"v": ["sum", "mean", "count"],
                                  "w": "min"})
    _PLAN_CACHE.clear()
    # low-duplication control: the probe must NOT fire on distinct rows
    distinct_df = df.dropDuplicates(["g", "geom"])
    assert _probe_duplication(distinct_df, ["g"], "geom") is False
    ra = {r.g: r.asDict() for r in dup_plan.select(
        "g", "v_sum", "v_mean", "v_count", "w_min",
        st.ngeometries("geom").alias("np_")).collect()}
    # exact oracle from the raw rows
    import collections
    sums = collections.defaultdict(float)
    cnts = collections.defaultdict(int)
    wmin = collections.defaultdict(lambda: 10**9)
    for g, _x, _y, v, w in rows:
        sums[g] += v
        cnts[g] += 1
        wmin[g] = min(wmin[g], w)
    assert set(ra) == set(range(4))
    for g in ra:
        assert abs(ra[g]["v_sum"] - sums[g]) < 1e-9
        assert ra[g]["v_count"] == cnts[g]
        assert abs(ra[g]["v_mean"] - sums[g] / cnts[g]) < 1e-12
        assert ra[g]["w_min"] == 0
        assert ra[g]["np_"] == 12   # union deduped to the distinct points


def test_sjoin_grid_forced_salting_matches_brute_force(spark):
    """r8: hot-cell salting and the pinned candidate-join parallelism
    are probabilistic scale paths that the small oracle datasets never
    trigger — force the salt table on (factor=1, floor=0) over skewed
    data and require the EXACT brute-force pair set. The inputs and the
    salt table are Arrow tables, so the executed plan must hold no
    Python RDD scan (``ExistingRDD``)."""
    import sys

    import numpy as np
    import pyarrow as pa

    import geopandas_spark.operators.sjoin  # noqa: F401 (register module)
    sjmod = sys.modules["geopandas_spark.operators.sjoin"]

    rng = np.random.default_rng(42)
    n_pts, n_box = 500, 300
    hot_p = rng.random(n_pts) < 0.7
    px = np.where(hot_p, rng.uniform(0, 8, n_pts),
                  rng.uniform(0, 100, n_pts))
    py = np.where(hot_p, rng.uniform(0, 8, n_pts),
                  rng.uniform(0, 100, n_pts))
    hot_b = rng.random(n_box) < 0.7
    bx = np.where(hot_b, rng.uniform(0, 8, n_box),
                  rng.uniform(0, 100, n_box))
    by = np.where(hot_b, rng.uniform(0, 8, n_box),
                  rng.uniform(0, 100, n_box))
    bw = rng.uniform(0.5, 4.0, n_box)
    bh = rng.uniform(0.5, 4.0, n_box)

    pts = (spark.createDataFrame(pa.table(
        {"pid": np.arange(n_pts), "x": px, "y": py}))
        .withColumn("geom", st.point("x", "y")).drop("x", "y"))
    boxes = (spark.createDataFrame(pa.table(
        {"bid": np.arange(n_box), "x0": bx, "y0": by, "x1": bx + bw,
         "y1": by + bh}))
        .withColumn("geom", st.makebox("x0", "y0", "x1", "y1"))
        .drop("x0", "y0", "x1", "y1"))

    calls = {"salted": 0}
    orig = sjmod._hot_cell_salts

    def forced(pairs, **kw):
        out = orig(pairs, factor=1.0, max_k=8, floor_pairs=0)
        calls["salted"] += len(out)
        return out

    sjmod._hot_cell_salts = forced
    try:
        j = sjmod.sjoin(pts, boxes, predicate="intersects",
                        strategy="grid")
        pairs = j.select("pid", "bid")
        got = {(r["pid"], r["bid"]) for r in pairs.collect()}
    finally:
        sjmod._hot_cell_salts = orig
    assert calls["salted"] > 0, "salting path was not exercised"
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan

    inx = (px[:, None] >= bx[None, :]) & (px[:, None] <= (bx + bw)[None, :])
    iny = (py[:, None] >= by[None, :]) & (py[:, None] <= (by + bh)[None, :])
    exp = {(int(i), int(k)) for i, k in zip(*np.nonzero(inx & iny))}
    assert got == exp


@pytest.mark.parametrize("strategy", ["broadcast", "grid"])
def test_sjoin_full_outer(points, boxes, spark, strategy):
    """how="full" (engine extension feeding overlay's shared-pairs plan):
    matched pairs plus BOTH sides' unmatched rows with NULLs. Truth =
    inner pairs ∪ left-unmatched ∪ right-unmatched computed from the
    inner join."""
    far = spark.createDataFrame([(99, 1000.0, 1000.0)], ["pid", "x", "y"]) \
        .withColumn("geom", st.point("x", "y")).drop("x", "y")
    pts = points.unionByName(far)
    lonely = spark.createDataFrame([(7, "box_far", 5000.0)],
                                   ["bid", "name", "x0"]) \
        .withColumn("geom", st.makebox("x0", F.lit(0.0),
                                       F.col("x0") + 10.0, F.lit(40.0))) \
        .drop("x0")
    bxs = boxes.unionByName(lonely)

    inner = sjoin(pts, bxs, predicate="within", strategy=strategy)
    in_pairs = {(r.pid, r.bid) for r in inner.collect()}
    matched_p = {p for p, _ in in_pairs}
    matched_b = {b for _, b in in_pairs}
    want = (in_pairs
            | {(r.pid, None) for r in pts.collect()
               if r.pid not in matched_p}
            | {(None, r.bid) for r in bxs.collect()
               if r.bid not in matched_b})

    full = sjoin(pts, bxs, predicate="within", how="full",
                 strategy=strategy)
    got = {(r.pid, r.bid) for r in full.collect()}
    assert got == want, (strategy, sorted(got - want), sorted(want - got))
    # unmatched rows carry NULL geometry on the absent side
    row = full.filter(F.col("pid").isNull()).collect()
    assert row and all(r["geom_left"] is None for r in row)


def test_sjoin_nearest_grid_tie_completeness(spark):
    """r11 fuzz frontier (d): EQUIDISTANT nearest candidates straddling
    grid cell boundaries must ALL be returned (the reference keeps
    ties) — by the bounded grid path, the unbounded expanding-radius
    path, and the broadcast path, identically. Integer lattices make
    exact ties; targets sit in different cells than their query."""
    from geopandas_spark.operators.sjoin import sjoin_nearest

    # queries on a coarse lattice; targets = 4-neighbor crosses at
    # distance exactly 5 around each query, all in DIFFERENT cells for
    # any cell size <= 5
    qrows = [(i, float(20 * (i % 7)), float(20 * (i // 7)))
             for i in range(35)]
    trows = []
    k = 0
    for i, x, y in qrows:
        for dx, dy in ((5, 0), (-5, 0), (0, 5), (0, -5)):
            trows.append((k, x + dx, y + dy))
            k += 1
    q = (spark.createDataFrame(qrows, ["qid", "x", "y"])
         .withColumn("geom", st.point("x", "y")).select("qid", "geom"))
    t = (spark.createDataFrame(trows, ["tid", "x", "y"])
         .withColumn("geom", st.point("x", "y")).select("tid", "geom"))

    truth = set()
    tmap = {(x, y): tid for tid, x, y in trows}
    for i, x, y in qrows:
        for dx, dy in ((5, 0), (-5, 0), (0, 5), (0, -5)):
            truth.add((i, tmap[(x + dx, y + dy)]))

    for kw in ({"strategy": "broadcast"},
               {"strategy": "grid", "max_distance": 6.0},
               {"strategy": "grid"}):           # unbounded expanding
        got = {(r.qid, r.tid) for r in
               sjoin_nearest(q, t, distance_col="d", **kw).collect()}
        assert got == truth, (kw, len(got), len(truth))


def test_sjoin_nearest_grid_ties_randomized(spark):
    """Randomized tie differential: random integer queries against an
    integer lattice produce frequent exact multi-way ties; the grid
    strategies must return exactly the broadcast set (pair-for-pair,
    same distances)."""
    import numpy as np

    from geopandas_spark.operators.sjoin import sjoin_nearest

    rng = np.random.default_rng(424)
    qrows = [(int(i), float(rng.integers(0, 40)),
              float(rng.integers(0, 40))) for i in range(120)]
    trows = [(int(1000 + 40 * gx + gy), float(gx * 4), float(gy * 4))
             for gx in range(11) for gy in range(11)]
    q = (spark.createDataFrame(qrows, ["qid", "x", "y"])
         .withColumn("geom", st.point("x", "y")).select("qid", "geom"))
    t = (spark.createDataFrame(trows, ["tid", "x", "y"])
         .withColumn("geom", st.point("x", "y")).select("tid", "geom"))
    base = {(r.qid, r.tid, round(r.d, 9)) for r in
            sjoin_nearest(q, t, distance_col="d",
                          strategy="broadcast").collect()}
    for kw in ({"strategy": "grid", "max_distance": 7.0},
               {"strategy": "grid"}):
        got = {(r.qid, r.tid, round(r.d, 9)) for r in
               sjoin_nearest(q, t, distance_col="d", **kw).collect()}
        if "max_distance" in kw:
            want = {x for x in base if x[2] <= 7.0}
        else:
            want = base
        assert got == want, (kw, len(got), len(want),
                             sorted(want - got)[:5], sorted(got - want)[:5])


def test_sjoin_on_attribute_vectorized_eq_parity(spark):
    """r13 (guide §4.2): the broadcast sjoin's attribute equality runs
    as Arrow take + compute.equal per key column instead of a per-pair
    Python tuple compare. Semantics must be exactly SQL `=`: NULL on
    either side never matches, NaN never equals NaN, -0.0 equals 0.0,
    and cross-type keys (int left, double right) compare by value —
    all identical to the equivalent DataFrame equi-join."""
    from pyspark.sql import functions as F

    from geopandas_spark import st
    from geopandas_spark.operators import sjoin

    lrows = [(0, 1.0), (1, float("nan")), (2, None), (3, -0.0), (4, 7.0)]
    rrows = [(10, 1), (11, None), (12, 0), (13, 7)]
    box = st.makebox(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0))
    left = spark.createDataFrame(lrows, ["lid", "k"]).select(
        "lid", F.col("k").cast("double").alias("k"), box.alias("geom"))
    right = spark.createDataFrame(rrows, ["rid", "k"]).select(
        "rid", F.col("k").cast("long").alias("k"),
        st.makebox(F.lit(5.0), F.lit(5.0), F.lit(15.0), F.lit(15.0))
          .alias("geom"))
    got = {(r.lid, r.rid) for r in sjoin(
        left, right, predicate="intersects", strategy="broadcast",
        on_attribute=["k"]).select("lid", "rid").collect()}
    ref = {(r.lid, r.rid) for r in
           left.select("lid", "k").join(
               right.select("rid", "k"), on="k").collect()}
    assert got == ref == {(0, 10), (3, 12), (4, 13)}


def test_sjoin_nearest_coincident_left_dedup_parity(spark):
    """The broadcast path probes one ring search per DISTINCT left
    location and fans pairs back out by the unique-inverse. Parity
    against a brute-force argmin reference on a coincident-heavy left
    (12 distinct locations x many duplicate rows — the dedup gate
    fires) and on a unique-location left (gate does not fire, every row
    is its own location), each covering inner/left, max_distance,
    exclusive, and exact ties."""
    import itertools
    import math

    rights = [(i * 10 + j, float(4 * i), float(4 * j))
              for i, j in itertools.product(range(4), repeat=2)]
    rdf = (spark.createDataFrame(rights, ["sid", "x", "y"])
           .withColumn("geom", st.point("x", "y")).drop("x", "y"))
    # 12 distinct left locations: lattice-coincident (0-distance,
    # exclusive must skip), cell centers (4-way exact ties), offsets,
    # and one far outlier (unmatched under max_distance); each location
    # duplicated 25x so 2*uniq <= n fires the dedup path
    locs = ([(float(4 * k), float(4 * k)) for k in range(3)] +
            [(2.0 + 4 * i, 2.0 + 4 * j) for i, j in
             itertools.product(range(2), repeat=2)] +
            [(1.0, 0.5), (7.25, 3.5), (0.1, 11.9), (5.0, 5.0),
             (1000.0, 1000.0)])
    lefts = [(loc_id * 1000 + c, x, y)
             for loc_id, (x, y) in enumerate(locs) for c in range(25)]
    ldf = (spark.createDataFrame(lefts, ["pid", "x", "y"])
           .withColumn("geom", st.point("x", "y")).drop("x", "y"))

    def brute(lefts, max_distance=None, exclusive=False, how="inner"):
        exp = set()
        for pid, x, y in lefts:
            ds = []
            for sid, rx, ry in rights:
                d = math.sqrt((x - rx) ** 2 + (y - ry) ** 2)
                if exclusive and d == 0.0:
                    continue
                if max_distance is not None and d > max_distance:
                    continue
                ds.append((d, sid))
            if not ds:
                if how == "left":
                    exp.add((pid, None, None))
                continue
            mind = min(d for d, _ in ds)
            for d, sid in ds:
                if d == mind:
                    exp.add((pid, sid, d))
        return exp

    variants = ({}, {"max_distance": 3.0}, {"exclusive": True},
                {"how": "left"}, {"max_distance": 3.0, "how": "left"})
    for kw in variants:
        out = sjoin_nearest(ldf, rdf, distance_col="d", **kw)
        got = {(r.pid, r.sid, r.d) for r in out.collect()}
        assert got == brute(lefts, **kw), f"mismatch for {kw}"

    # unique-location left (gate off) through the same variants; (0, 0)
    # sits on a right point, so exclusive skips a 0-distance match
    ulefts = [(k, 0.3 * k, 0.7 * k) for k in range(40)]
    uldf = (spark.createDataFrame(ulefts, ["pid", "x", "y"])
            .withColumn("geom", st.point("x", "y")).drop("x", "y"))

    def rounded(pairs):
        return {(p, s, None if d is None else round(d, 12))
                for p, s, d in pairs}

    for kw in variants:
        out = sjoin_nearest(uldf, rdf, distance_col="d", **kw)
        got = rounded((r.pid, r.sid, r.d) for r in out.collect())
        assert got == rounded(brute(ulefts, **kw)), f"unique: {kw}"


def test_sjoin_nearest_broadcast_duplicated_polygons(spark):
    """A right side of polygons, each repeated 5x under distinct ids: the
    broadcast path probes each distinct geometry once and fans the tied
    copies back out. It must give every copy of every nearest box, equal
    to the grid strategy and to a brute-force all-ties reference, for an
    inner join and for a left join whose max_distance leaves rows
    unmatched."""
    import math

    import numpy as np

    rng = np.random.default_rng(11)
    boxes = []
    for k in range(15):
        x0, y0 = rng.uniform(0, 60, 2).round(1)
        w, h = rng.uniform(1, 6, 2).round(1)
        for c in range(5):
            boxes.append((10 * k + c, float(x0), float(y0),
                          float(x0 + w), float(y0 + h)))
    pts = [(i, float(x), float(y))
           for i, (x, y) in enumerate(rng.uniform(-10, 75, (120, 2)))]
    rdf = (spark.createDataFrame(boxes, ["bid", "x0", "y0", "x1", "y1"])
           .withColumn("geom", st.makebox("x0", "y0", "x1", "y1"))
           .select("bid", "geom"))
    ldf = (spark.createDataFrame(pts, ["pid", "x", "y"])
           .withColumn("geom", st.point("x", "y")).select("pid", "geom"))

    def brute(max_distance=None, how="inner"):
        exp = set()
        for pid, x, y in pts:
            ds = [(math.hypot(max(x0 - x, 0.0, x - x1),
                              max(y0 - y, 0.0, y - y1)), bid)
                  for bid, x0, y0, x1, y1 in boxes]
            ds = [(d, b) for d, b in ds
                  if max_distance is None or d <= max_distance]
            if not ds:
                if how == "left":
                    exp.add((pid, None, None))
                continue
            mind = min(d for d, _ in ds)
            exp |= {(pid, b, round(d, 9)) for d, b in ds if d == mind}
        return exp

    for kw in ({"how": "inner"}, {"how": "left", "max_distance": 4.0}):
        want = brute(**kw)
        assert len({p for p, b, _ in want if b is not None}) > 20
        for strategy in ("broadcast", "grid"):
            out = sjoin_nearest(ldf, rdf, distance_col="d",
                                strategy=strategy, **kw)
            got = {(r.pid, r.bid, None if r.d is None else round(r.d, 9))
                   for r in out.collect()}
            assert got == want, (strategy, kw, sorted(got ^ want)[:6])
    # every nearest box arrives with all five copies
    assert all(n % 5 == 0 for n in np.unique(
        [p for p, b, _ in brute() if b is not None],
        return_counts=True)[1])


@pytest.mark.parametrize("n, distinct, fires", [
    (20_000, 20_000, False),    # all-unique locations
    (20_000, 500, True),        # <= 512 distinct
    (20_000, 2_000, True),      # >= 2k distinct, cycled through the batch
    (1_500, 600, True),         # under 2048 rows: the sample spans the batch
])
def test_sjoin_nearest_dedup_screen_regimes(n, distinct, fires):
    """The per-batch coincident-location screen of sjoin_nearest takes the
    dedup path exactly when at most half the rows are distinct, for
    gridded corpora whose locations cycle through the batch, and hands
    back an exact unique/inverse pair when it does."""
    import numpy as np

    from geopandas_spark.operators.sjoin import _coincident_locations

    rng = np.random.default_rng(7)
    locs = rng.uniform(-1e3, 1e3, size=(distinct, 2))
    lc = locs[np.arange(n) % distinct]
    got = _coincident_locations(lc)
    assert (got is not None) == fires
    if fires:
        uc, linv = got
        assert len(uc) == distinct
        np.testing.assert_array_equal(uc[linv], lc)


def test_sjoin_grid_bounds_once_per_side_and_null_geometries(spark):
    """The grid sjoin evaluates each side's geometry→bounds UDF chain in
    exactly one ArrowEvalPython node (``st.bounds_fenced`` keeps Catalyst
    from copying the chain below the IsNotNull filters it infers from the
    cell join keys), plus one for the refine. NULL geometries on either
    side are dropped by the cell explode: they never match, and a left
    join keeps each NULL-geometry left row once, unmatched."""
    rows = [(i, float(i), float(i) + 0.5) for i in range(30)]
    rows += [(98, None, None), (99, None, None)]
    pts = (spark.createDataFrame(rows, "pid long, x double, y double")
           .withColumn("geom", st.point("x", "y")).drop("x", "y"))
    wkts = [(k, f"POLYGON (({10 * k} 0, {10 * k + 10} 0, {10 * k + 10} 40, "
                f"{10 * k} 40, {10 * k} 0))") for k in range(3)]
    wkts.append((9, None))
    boxes = (spark.createDataFrame(wkts, "bid long, wkt string")
             .withColumn("geom", st.geom_from_text("wkt")).drop("wkt"))

    inner = sjoin(pts, boxes, strategy="grid")
    plan = inner._jdf.queryExecution().executedPlan().toString()
    evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(evals) == 3, plan
    assert sum("_bounds(" in ln for ln in evals) == 2, plan

    want = sorted((i, k) for i in range(30) for k in range(3)
                  if 10 * k <= i <= 10 * k + 10)
    got = sorted((r.pid, r.bid) for r in inner.select("pid", "bid").collect())
    assert got == want
    left = sjoin(pts, boxes, strategy="grid", how="left")
    got = sorted(((r.pid, r.bid) for r in left.select("pid", "bid").collect()),
                 key=lambda t: (t[0], -1 if t[1] is None else t[1]))
    assert got == want + [(98, None), (99, None)]


def _broadcast_scans(plan: str):
    """(LocalTableScan directly under a BroadcastExchange?, any Python
    RDD scan?) for an executed-plan string."""
    lines = plan.splitlines()
    under = any("BroadcastExchange" in a and "LocalTableScan" in b
                for a, b in zip(lines, lines[1:]))
    return under, "ExistingRDD" in plan


def test_broadcast_side_plans_as_local_relation(spark):
    """The broadcast strategies of sjoin and sjoin_nearest put the
    collected right side back into the plan as an Arrow local relation:
    the executed plan broadcasts a LocalTableScan and holds no Python
    RDD scan (which would start Python tasks on every execution only to
    re-read rows the driver already holds)."""
    pts = spark.range(40).select(
        F.col("id").alias("pid"),
        st.point((F.col("id") % 10).cast("double") + 0.5,
                 (F.col("id") / 10).cast("int").cast("double") + 0.5)
        .alias("geom"))
    bx = spark.range(3).select(
        F.col("id").alias("bid"),
        st.makebox((F.col("id") * 3).cast("double"), F.lit(0.0),
                   (F.col("id") * 3 + 3).cast("double"), F.lit(4.0))
        .alias("geom"))
    sites = spark.range(5).select(
        F.col("id").alias("sid"),
        st.point((F.col("id") * 2).cast("double"), F.lit(1.0))
        .alias("geom"))
    for out, n in ((sjoin(pts, bx, strategy="broadcast"), 36),
                   (sjoin_nearest(pts, sites, strategy="broadcast"), 40)):
        assert len(out.collect()) == n
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert _broadcast_scans(plan) == (True, False), plan


def test_broadcast_right_side_round_trips_every_type(spark):
    """The broadcast right side goes driver → Arrow → local relation.
    NaN and -0.0 doubles, NULL attributes, timestamp, decimal, array,
    map and struct columns, field metadata on the geometry column, a
    NULL geometry and a duplicated geometry must come out exactly as the
    grid strategy (which never collects) gives them, for every ``how``;
    the output schema keeps every right field, its type and metadata."""
    import datetime
    import decimal

    from pyspark.sql.types import (
        ArrayType, BinaryType, DecimalType, DoubleType, IntegerType,
        LongType, MapType, StringType, StructField, StructType,
        TimestampType)

    from geopandas_spark.geom import wkb, wkt

    def box(x0, y0, x1, y1):
        return (f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, "
                f"{x0} {y0}))")

    geoms = wkb.encode(wkt.parse_array(
        [box(0, 0, 3, 3), box(2, 2, 6, 6), box(0, 0, 3, 3),
         box(20, 20, 21, 21)]))
    rschema = StructType([
        StructField("rid", LongType()), StructField("d", DoubleType()),
        StructField("ts", TimestampType()),
        StructField("dec", DecimalType(12, 3)),
        StructField("arr", ArrayType(DoubleType())),
        StructField("m", MapType(StringType(), DoubleType())),
        StructField("s", StructType([StructField("a", IntegerType()),
                                     StructField("b", StringType())])),
        StructField("geom", BinaryType(), metadata={"crs": "EPSG:3857"}),
    ])
    nan = float("nan")
    right = spark.createDataFrame([
        (0, nan, datetime.datetime(2020, 1, 1, 3, 4, 5, 123456),
         decimal.Decimal("1.250"), [nan, None], {"k": nan}, (1, "x"),
         geoms[0]),
        (1, -0.0, None, None, None, None, None, geoms[1]),
        (2, 1.0, datetime.datetime(1969, 12, 31, 23, 59, 59),
         decimal.Decimal("-3.000"), [], {}, (None, None), None),
        (3, None, None, decimal.Decimal("0.001"), [-0.0], {"z": -0.0},
         (2, None), geoms[2]),
        (4, 2.5, None, None, [1.0], None, None, geoms[3]),
    ], rschema)
    left = spark.range(30).select(
        F.col("id").alias("pid"),
        st.point((F.col("id") % 6).cast("double") + 0.5,
                 (F.col("id") / 6).cast("int").cast("double") + 0.5)
        .alias("geom"))

    def canon(df):
        return sorted(repr(tuple(r)) for r in
                      df.select(*sorted(df.columns)).collect())

    for how in ("inner", "left", "right", "full"):
        b = sjoin(left, right, how=how, strategy="broadcast")
        g = sjoin(left, right, how=how, strategy="grid")
        assert canon(b) == canon(g), how
        fields = {f.name: f for f in b.schema.fields}
        for f in rschema.fields:
            name = "geom_right" if f.name == "geom" else f.name
            assert fields[name].dataType == f.dataType, (how, name)
            assert fields[name].metadata == f.metadata, (how, name)
    # the matched NaN / -0.0 values and the duplicated geometry's rows
    got = {r.rid: r for r in sjoin(left, right, strategy="broadcast")
           .select("pid", "rid", "d", "m").collect() if r.pid == 0}
    assert set(got) == {0, 3}
    assert got[0].d != got[0].d and got[3].d is None
    assert str(got[3].m["z"]) == "-0.0"


@pytest.mark.parametrize("regime", ["grouped", "per_geometry"])
def test_refine_pairs_point_in_polygon_regimes(monkeypatch, regime):
    """Point × polygon refine: right geometries with few (points ×
    segments) share one grouped vectorized pass; large ones take one
    ``points_in_geom`` call each. Both regimes must give exactly the
    per-pair ``points_in_geom`` answer for intersects, within,
    covered_by and contains, on random points plus points placed on
    vertices and on edges — and each regime must take its own branch."""
    import sys

    import numpy as np

    import geopandas_spark.operators.sjoin  # noqa: F401
    from geopandas_spark.geom import algos, wkt
    from geopandas_spark.geom.array import points_from_xy

    sjmod = sys.modules["geopandas_spark.operators.sjoin"]
    rng = np.random.default_rng(11)

    def ring(cx, cy, r, n, star=False):
        t = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
        rr = np.where(np.arange(n) % 2, 0.5 * r, r) if star else \
            np.full(n, float(r))
        xy = np.column_stack([cx + rr * np.cos(t), cy + rr * np.sin(t)])
        return np.vstack([xy, xy[:1]])

    def fmt(*rings):
        return "(" + ", ".join(
            "(" + ", ".join(f"{float(x)!r} {float(y)!r}" for x, y in r)
            + ")"
            for r in rings) + ")"

    if regime == "grouped":
        shapes = []
        for k in range(300):
            x0, y0 = rng.uniform(0, 100, 2)
            w, h = rng.uniform(0.5, 3.0, 2)
            if k % 2:
                shapes.append([np.array([[x0, y0], [x0 + w, y0],
                                         [x0 + w, y0 + h], [x0, y0 + h],
                                         [x0, y0]])])
            else:
                shapes.append([ring(x0, y0, w, 4)])
        per = 3
        wkts = ["POLYGON " + fmt(*s) for s in shapes]
    else:
        holed = [ring(30, 0, 10, 500), ring(30, 0, 4, 40)]
        holed2 = [ring(60, 0, 10, 50), ring(60, 0, 3, 8)]
        part_a = [ring(90, 0, 10, 64), ring(90, 0, 4, 32)]
        part_b = [ring(120, 0, 5, 16)]
        shapes = [[ring(0, 0, 10, 2000, star=True)], holed, holed2,
                  part_a + part_b]
        per = 200
        wkts = ["POLYGON " + fmt(*s) for s in shapes[:3]]
        wkts.append("MULTIPOLYGON (" + fmt(*part_a) + ", " + fmt(*part_b)
                    + ")")
    rga = wkt.parse_array(wkts)
    b = algos.bounds(rga)
    px, py, rj = [], [], []
    for j in range(len(rga)):
        verts = np.vstack([r[:-1] for r in shapes[j]])
        r0 = shapes[j][0]
        mids = (r0[:-1] + r0[1:]) / 2.0
        pad = 0.1 * (b[j, 2] - b[j, 0])
        n_rand = per * 4
        xs = rng.uniform(b[j, 0] - pad, b[j, 2] + pad, n_rand)
        ys = rng.uniform(b[j, 1] - pad, b[j, 3] + pad, n_rand)
        pick_v = rng.integers(0, len(verts), per)
        pick_m = rng.integers(0, len(mids), per)
        px += [xs, verts[pick_v, 0], mids[pick_m, 0]]
        py += [ys, verts[pick_v, 1], mids[pick_m, 1]]
        rj.append(np.full(n_rand + 2 * per, j))
    px, py, rj = np.concatenate(px), np.concatenate(py), np.concatenate(rj)
    perm = rng.permutation(len(px))
    px, py, rj = px[perm], py[perm], rj[perm]
    lga = points_from_xy(px, py)
    li = np.arange(len(px))
    cls = np.empty(len(px), dtype=np.int8)
    for j in range(len(rga)):
        k = rj == j
        cls[k] = algos.points_in_geom(px[k], py[k], rga, j)
    assert (cls == 1).sum() >= per * len(rga) and (cls == 2).any()

    calls = {"loop": 0, "grouped": 0}
    orig_pig, orig_vec = algos.points_in_geom, algos._vec_classify_points

    def pig(*a):
        calls["loop"] += 1
        return orig_pig(*a)

    def vec(*a, **kw):
        calls["grouped"] += int(np.count_nonzero(a[6]))
        return orig_vec(*a, **kw)

    monkeypatch.setattr(algos, "points_in_geom", pig)
    monkeypatch.setattr(algos, "_vec_classify_points", vec)
    want = {"intersects": cls > 0, "covered_by": cls > 0,
            "within": cls == 2, "contains": np.zeros(len(px), bool)}
    for pred, exp in want.items():
        got = sjmod._refine_pairs(lga, rga, li, rj, pred, None)
        np.testing.assert_array_equal(got, exp, err_msg=pred)
    # three predicates take the point-in-polygon path; contains never
    # classifies (a point cannot contain a polygon)
    if regime == "grouped":
        assert calls == {"loop": 0, "grouped": 3 * len(rga)}, calls
    else:
        assert calls == {"loop": 3 * len(rga), "grouped": 0}, calls


def test_dissolve_plans_infer_eval_type_without_warning(points, boxes):
    """PySpark infers a grouped-map function's eval type from its type
    hints and warns on every plan when a parameter has none: both
    dissolve merge functions (single- and two-phase plans) hint every
    parameter, so building a dissolve plan emits no such warning."""
    import warnings

    tagged = sjoin(points, boxes, predicate="intersects",
                   strategy="broadcast")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for two_phase in (False, True):
            dissolve(tagged, "bid", {"pid": "count"}, geom="geom_left",
                     two_phase=two_phase)
    msgs = [str(w.message) for w in caught]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs


def _forced_dissolves(monkeypatch, df, by, aggfunc):
    """{plan: dissolve output} for each of dissolve's three plans, forced
    by patching its probes; each output's executed plan is checked to
    have that plan's shape."""
    import importlib

    dmod = importlib.import_module("geopandas_spark.operators.dissolve")
    out = {}
    for plan, dup, two_phase in (("single", False, False),
                                 ("two_phase", False, True),
                                 ("dedupe", True, True)):
        monkeypatch.setattr(dmod, "_probe_duplication",
                            lambda *a, dup=dup: dup)
        dmod._PLAN_CACHE.clear()
        res = dmod.dissolve(df, by, aggfunc, two_phase=two_phase)
        dmod._PLAN_CACHE.clear()
        shape = res._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInArrow" in shape, (plan, shape)
        assert "Pandas" not in shape, (plan, shape)
        assert ("MapInArrow" in shape.replace("FlatMapGroupsInArrow", "")) \
            == (plan == "two_phase"), (plan, shape)
        out[plan] = res
    return out


def _nan_key(v):
    return "NaN" if isinstance(v, float) and v != v else v


def _nan_val(v):
    """One value per missing result: NULL (NaN results come out NULL)."""
    if v is None or (isinstance(v, float) and v != v):
        return None
    return float(v)


def test_dissolve_plans_skip_nan_values_like_pandas(spark, monkeypatch):
    """The dedupe plan's native partials skip NaN as pandas does: a NaN
    value duplicated at one location must not turn the group's sum, mean
    or max into NaN, nor count. Every plan equals the pandas groupby."""
    nan = float("nan")
    rows = [(1, v, x) for v, x in ((nan, 0.0), (5.0, 0.0), (1.0, 1.0))] * 4
    df = (spark.createDataFrame(rows, "k long, v double, x double")
          .withColumn("geom", st.point("x", "x")).drop("x").repartition(3))
    fns = ["sum", "mean", "max", "min", "count"]
    want = df.toPandas().groupby("k")["v"].agg(fns)
    for plan, res in _forced_dissolves(monkeypatch, df, "k",
                                       {"v": fns}).items():
        got = {r.k: r for r in res.collect()}
        assert set(got) == set(want.index), plan
        for k, exp in want.iterrows():
            for fn in fns:
                assert got[k][f"v_{fn}"] == pytest.approx(exp[fn]), \
                    (plan, fn, got[k], exp)


def test_dissolve_plans_first_skips_missing_like_pandas(spark, monkeypatch):
    """"first" is the group's first non-missing value, as in pandas'
    groupby: a group whose first row holds NULL and a group whose first
    row holds NaN both get their second row's value, on every plan. One
    input partition keeps each group's rows in input order."""
    rows = [(1, None), (1, 2.0), (2, float("nan")), (2, 3.0)]
    df = (spark.createDataFrame(rows, "k long, v double").coalesce(1)
          .withColumn("geom", st.point(F.lit(0.0), F.lit(0.0))))
    want = df.toPandas().groupby("k")["v"].agg("first").to_dict()
    assert want == {1: 2.0, 2: 3.0}
    for plan, res in _forced_dissolves(monkeypatch, df, "k",
                                       {"v": "first"}).items():
        assert {r.k: r.v_first for r in res.collect()} == want, plan


def test_dissolve_plans_keep_spark_keys_and_pandas_values(spark,
                                                           monkeypatch):
    """Parity of the three dissolve plans on a NaN key, a NULL key, an
    all-NULL attribute group, a NULL geometry and NaN/NULL values: the
    output keys are df.groupBy(by)'s keys (NaN and NULL apart), each
    aggregate is pandas' NaN-skipping value, and the union covers every
    distinct non-NULL location of the group."""
    import math

    import pandas as pd

    nan = float("nan")
    raw = []      # (k, v, w, x) ; x None -> NULL geometry
    for k, vals in ((1.0, [1.0, nan, 3.0, None]), (nan, [2.0, 4.0, nan]),
                    (None, [7.0, None, 1.0]), (2.0, [None, None]),
                    (3.0, [nan, nan, 5.0])):
        for i, v in enumerate(vals):
            w = None if v is None else i
            for _ in range(3):                   # duplicated locations
                raw.append((k, v, w, float(i % 2) if i != 1 else None))
    df = (spark.createDataFrame(raw, "k double, v double, w long, x double")
          .withColumn("geom", st.point("x", F.lit(0.0))).drop("x")
          .repartition(4))
    keys = {_nan_key(r.k) for r in df.groupBy("k").count().collect()}
    fns = {"v": ["sum", "min", "max", "count", "mean"],
           "w": ["sum", "min", "max", "count", "mean"]}
    hol = {"v": ["median", "std", "var", "nunique",
                 lambda s: float(s.count())]}
    groups = {}
    for k, v, w, x in raw:
        g = groups.setdefault(_nan_key(k), ([], [], set()))
        g[0].append(v)
        g[1].append(w)
        if x is not None:
            g[2].add(x)

    def want(col, fn, key):
        s = pd.Series(groups[key][0 if col == "v" else 1], dtype=float)
        return _nan_val(fn(s) if callable(fn) else getattr(s, fn)())

    runs = dict(_forced_dissolves(monkeypatch, df, "k", fns))
    runs["holistic"] = dissolve(df, "k", hol)
    for plan, res in runs.items():
        spec = hol if plan == "holistic" else fns
        got = {_nan_key(r.k): r for r in res.withColumn(
            "n", st.ngeometries("geom")).collect()}
        assert set(got) == keys == set(groups), plan
        for key, r in got.items():
            assert (r.n or 0) == len(groups[key][2]), (plan, key, r)
            for col, fl in spec.items():
                for fn in fl:
                    name = f"{col}_agg" if callable(fn) else f"{col}_{fn}"
                    exp, val = want(col, fn, key), _nan_val(r[name])
                    assert (exp is None and val is None) or (
                        exp is not None and val is not None
                        and math.isclose(val, exp, rel_tol=1e-12)), \
                        (plan, key, name, val, exp)


_PASS_DDL = ("id long, layer string, d double, s struct<a:double,b:string>,"
             " ts timestamp, dec decimal(10,2), arr array<double>,"
             " m map<string,double>")


def _pass_through_rows():
    import datetime as dt
    from decimal import Decimal

    nan = float("nan")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    return [
        (0, "a", nan, (nan, "x"), t0, Decimal("1.25"), [1.0, None],
         {"p": nan}),
        (1, "a", None, (None, None), None, None, None, None),
        (2, "b", -0.0, (2.5, "y"), t0, Decimal("-3.10"), [nan, None, 2.0],
         {"q": None, "r": 1.5}),
        (3, "b", 4.5, None, t0, Decimal("99999999.99"), [], {}),
    ]


def _assert_passes_through(inp, out, own):
    """``out`` has ``inp``'s rows and fields, apart from column ``own``,
    with NaN and NULL (and -0.0) values as they went in."""
    keep = [f for f in out.schema.fields if f.name != own]
    assert keep == [f for f in inp.schema.fields if f.name != own]
    cols = [f.name for f in keep]
    # repr tells NaN, NULL and -0.0 apart, also inside structs and maps
    want = sorted(repr(r) for r in inp.select(*cols).collect())
    got = sorted(repr(r) for r in out.select(*cols).collect())
    assert got == want


def test_coverage_ops_pass_columns_through_bit_exact(spark):
    """simplify_coverage and invalid_coverage_edges hand every column but
    their own back unchanged: NaN stays NaN and NULL stays NULL at the
    top level and inside struct, array and map values."""
    from geopandas_spark.geom import wkb as wkbmod, wkt as wktmod
    from geopandas_spark.operators import (invalid_coverage_edges,
                                           simplify_coverage)

    boxes = ["POLYGON ((0 0, 2 0, 2.1 1, 2 2, 0 2, 0 0))",
             "POLYGON ((2 0, 4 0, 4 2, 2 2, 2.1 1, 2 0))",
             "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
             "POLYGON ((1 0, 3 0, 3 2, 1 2, 1 0))"]
    geoms = wkbmod.encode(wktmod.parse_array(boxes))
    df = spark.createDataFrame(
        [r + (g,) for r, g in zip(_pass_through_rows(), geoms)],
        _PASS_DDL + ", geom binary")
    _assert_passes_through(df, simplify_coverage(df, 0.5, "layer"), "geom")
    _assert_passes_through(df, invalid_coverage_edges(df, "layer"),
                           "invalid_edges")


def test_geocoding_passes_columns_through_bit_exact(spark):
    """geocode and reverse_geocode hand every column but their output
    column back unchanged, NaN and NULL values included."""
    from geopandas_spark.operators.geocoding import geocode, reverse_geocode

    df = spark.createDataFrame(
        [r + (a,) for r, a in zip(_pass_through_rows(),
                                   ["1 Main St", None, "2 High St", "x"])],
        _PASS_DDL + ", address string")
    g = geocode(df)
    _assert_passes_through(df, g, "geom")
    _assert_passes_through(g, reverse_geocode(g), "address")


@pytest.mark.parametrize("strategy", ["broadcast", "grid"])
def test_sjoin_within_polygon_with_repeated_vertex(spark, strategy):
    """A polygon that repeats a vertex joins like the same polygon
    without the repeat: only the interior point is within it."""
    pts = spark.createDataFrame(
        [(1, 6.0, 5.5), (2, 2.0, 2.0), (3, -3.0, -3.0)], ["pid", "x", "y"]) \
        .withColumn("geom", st.point("x", "y")).drop("x", "y")
    polys = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 0 0, 4 0, 4 4, 0 4, 0 0))")], ["rid", "w"]) \
        .withColumn("geom", st.geom_from_text("w")).drop("w")
    out = sjoin(pts, polys, predicate="within", strategy=strategy)
    assert [r.pid for r in out.select("pid").collect()] == [2]
