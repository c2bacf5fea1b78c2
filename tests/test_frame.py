"""GeoFrame wrapper tests (SURVEY §1.1, §2.2 API surface: active geometry,
cx indexer, set_crs/to_crs, concat CRS consistency)."""

import pytest
from pyspark.sql import functions as F

from geopandas_spark import GeoFrame, concat, st


@pytest.fixture(scope="module")
def gf(spark):
    rows = [(i, float(i * 10), float(i % 7)) for i in range(20)]
    df = spark.createDataFrame(rows, ["id", "x", "y"]) \
              .withColumn("geom", st.point("x", "y"))
    return GeoFrame(df, geometry="geom")


def test_active_geometry_and_rename(gf):
    assert gf.active_geometry_name == "geom"
    r = gf.rename_geometry("the_geom")
    assert r.active_geometry_name == "the_geom"
    assert "the_geom" in r.df.columns and "geom" not in r.df.columns
    # set_geometry to a second geometry column
    two = gf.with_column("geom2", st.buffer(gf.geometry, 1.0))
    assert two.set_geometry("geom2").active_geometry_name == "geom2"
    with pytest.raises(ValueError):
        gf.set_geometry("nope")


def test_cx_bbox_filter(gf):
    # x in [50, 120] -> ids 5..12
    sel = gf.cx[50:120, :]
    assert sorted(r.id for r in sel.df.collect()) == list(range(5, 13))
    # open start
    assert gf.cx[:30, :].count() == 4  # x = 0,10,20,30


def test_set_crs_and_to_crs(gf):
    a = gf.set_crs("EPSG:4326")
    assert a.crs == "EPSG:4326"
    with pytest.raises(ValueError):
        a.set_crs("EPSG:3857")  # override requires flag
    b = a.set_crs("EPSG:3857", allow_override=True)
    assert b.crs == "EPSG:3857"
    # metadata mirrored into the schema
    fld = dict(zip(a.df.schema.names, a.df.schema.fields))["geom"]
    assert fld.metadata["crs"] == "EPSG:4326"
    # to_crs reprojects: x=10deg -> 1113194.9079327357 m
    m = a.to_crs("EPSG:3857")
    xs = {r.id: r.mx for r in m.with_column(
        "mx", st.x(m.geometry)).df.collect()}
    assert abs(xs[1] - 1113194.9079327357) < 1e-6
    # no-op path returns self
    assert a.to_crs("OGC:CRS84") is a


def test_fillna_and_area(gf, spark):
    import geopandas_spark.geom.wkt as wktmod
    import geopandas_spark.geom.wkb as wkbmod
    df = spark.createDataFrame(
        [(1, wkbmod.encode(wktmod.parse_array(
            ["POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"]))[0]), (2, None)],
        "id long, geom binary")
    g = GeoFrame(df).fillna("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    areas = {r.id: r.area for r in g.area().df.collect()}
    assert areas == {1: 4.0, 2: 1.0}


def test_concat_crs_consistency(gf):
    a = gf.set_crs("EPSG:4326")
    b = gf.set_crs("EPSG:4326")
    both = concat([a, b])
    assert both.count() == 40 and both.crs == "EPSG:4326"
    c = gf.set_crs("EPSG:3857")
    with pytest.raises(ValueError):
        concat([a, c])
    # None-CRS frame adopts the common one
    adopted = concat([gf, a])
    assert adopted.count() == 40


def test_frame_operators(gf):
    dis = gf.with_column("k", F.col("id") % 2).dissolve(
        "k", {"id": "count"})
    got = {r.k: r.id_count for r in dis.df.collect()}
    assert got == {0: 10, 1: 10}
    ex = gf.total_bounds()
    assert ex == (0.0, 0.0, 190.0, 6.0)


def test_frame_parquet_roundtrip(gf, tmp_path):
    from geopandas_spark.frame import read_parquet
    path = str(tmp_path / "gf_parquet")
    gf.set_crs("EPSG:4326").to_parquet(path)
    back = read_parquet(gf.df.sparkSession, path)
    assert back.crs == "EPSG:4326"
    assert back.active_geometry_name == "geom"
    assert back.count() == 20


def test_geoframe_file_roundtrip(spark, tmp_path):
    import geopandas_spark as gps
    from geopandas_spark import st
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "POINT (3 4)"), (2, "POINT (5 6)")],
                               ["k", "w"]) \
        .withColumn("geom", st.geom_from_text("w")).drop("w")
    gf = gps.GeoFrame(df)
    for name in ("f.shp", "f.gpkg"):
        p = str(tmp_path / name)
        gf.to_file(p)
        back = gps.read_file(spark, p)
        assert isinstance(back, gps.GeoFrame)
        assert back.active_geometry_name == "geom"
        xs = sorted(r[0] for r in
                    back.select(st.x(back.geometry)).collect())
        assert xs == [3.0, 5.0], name


def test_iterfeatures_and_geo_interface(gf):
    feats = list(gf.iterfeatures(show_bbox=True))
    assert len(feats) == 20
    f0 = feats[0]
    assert f0["type"] == "Feature" and f0["id"] == "0"
    assert f0["geometry"]["type"] == "Point"
    assert f0["geometry"]["coordinates"] == [0.0, 0.0]
    assert set(f0["properties"]) == {"id", "x", "y"}
    assert f0["bbox"] == (0.0, 0.0, 0.0, 0.0)
    # drop_id removes the id member
    assert "id" not in next(iter(gf.iterfeatures(drop_id=True)))
    gi = gf.__geo_interface__
    assert gi["type"] == "FeatureCollection" and len(gi["features"]) == 20
    assert gi["bbox"] == (0.0, 0.0, 190.0, 6.0)


def test_to_json(gf, spark):
    import json
    rows = [(1, None), (2, "x")]
    df = spark.createDataFrame(rows, ["id", "tag"]) \
              .withColumn("geom", st.point(F.lit(1.0), F.lit(2.0)))
    g2 = GeoFrame(df, geometry="geom")
    obj = json.loads(g2.to_json())
    assert obj["features"][0]["properties"]["tag"] is None
    obj2 = json.loads(g2.to_json(na="drop", show_bbox=True))
    assert "tag" not in obj2["features"][0]["properties"]
    assert obj2["bbox"] == [1.0, 2.0, 1.0, 2.0]


def test_frame_subdivide(spark):
    from geopandas_spark import GeoFrame, st

    df = spark.createDataFrame([(1,)], ["id"])
    dense = st.segmentize(
        st.makebox(F.lit(0.0), F.lit(0.0), F.lit(30.0), F.lit(20.0)),
        F.lit(1.0))
    gf = GeoFrame(df.withColumn("geom", dense), geometry="geom")
    parts = gf.subdivide(max_vertices=30)
    agg = parts.df.groupBy("id").agg(
        F.sum(st.area("geom")).alias("tot"),
        F.max(st.npoints("geom")).alias("mx"),
        F.count("*").alias("n")).collect()[0]
    assert agg.tot == 600.0 and agg.mx <= 30 and agg.n > 1
    assert parts.active_geometry_name == "geom"


def test_to_wkt_wkb_skip_non_geometry_binary(spark):
    """A plain binary attribute column (e.g. bytea from read_postgis) must
    pass through to_wkt/to_wkb untouched — only tracked geometry columns
    convert (reference converts geometry-dtype columns only)."""
    from geopandas_spark import GeoFrame, st

    payload = b"\x00\x01\xffnot-wkb"
    df = spark.createDataFrame([(1, "POINT (1 2)", payload)],
                               ["id", "w", "blob"])
    df = df.select("id", st.geom_from_text("w").alias("geom"), "blob")
    gf = GeoFrame(df, geometry="geom")
    row = gf.to_wkt().collect()[0]
    assert row.geom == "POINT (1 2)"
    assert bytes(row.blob) == payload          # untouched
    row = gf.to_wkb(hex=True).collect()[0]
    assert isinstance(row.geom, str)
    assert bytes(row.blob) == payload          # not hex-mangled


def test_from_features_and_to_wkt_wkb(spark):
    from geopandas_spark import from_features, st

    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"name": "a", "v": 1},
         "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}},
        {"type": "Feature", "properties": {"name": "b"},
         "geometry": {"type": "LineString",
                      "coordinates": [[0.0, 0.0], [3.0, 4.0]]}},
        {"type": "Feature", "properties": {"name": "c", "v": 3},
         "geometry": None},
    ]}
    gf = from_features(spark, fc, crs="EPSG:4326")
    assert gf.crs == "EPSG:4326"
    rows = {r["name"]: r for r in
            gf.df.withColumn("w", st.as_text("geom")).collect()}
    assert rows["a"].w == "POINT (1 2)" and rows["a"].v == 1
    assert rows["b"].w == "LINESTRING (0 0, 3 4)" and rows["b"].v is None
    assert rows["c"].w is None

    wkt_df = gf.to_wkt()
    got = {r["name"]: r.geom for r in wkt_df.collect()}
    assert got["a"] == "POINT (1 2)" and got["c"] is None

    hx = gf.to_wkb(hex=True).filter("name = 'a'").collect()[0].geom
    assert isinstance(hx, str) and hx.startswith("01")  # LE WKB point

    # __geo_interface__ objects are accepted too
    class Feat:
        __geo_interface__ = {"type": "Feature", "properties": {"k": 9},
                             "geometry": {"type": "Point",
                                          "coordinates": [7.0, 8.0]}}
    g2 = from_features(spark, [Feat()])
    r = g2.df.withColumn("w", st.as_text("geom")).collect()[0]
    assert r.w == "POINT (7 8)" and r.k == 9

    # property types: ints with floats widen to double; a property that
    # is NULL everywhere is a string column of NULLs (read_geojson's JSON
    # inference gives the same)
    g3 = from_features(spark, [
        {"properties": {"v": 1, "z": None}, "geometry": None},
        {"properties": {"v": 2.5}, "geometry": None}])
    assert g3.df.schema["v"].dataType.typeName() == "double"
    assert g3.df.schema["z"].dataType.typeName() == "string"
    assert [(r.v, r.z) for r in g3.df.collect()] == [(1.0, None),
                                                     (2.5, None)]


def test_sjoin_nearest_method_form(spark):
    from pyspark.sql import functions as F

    from geopandas_spark import GeoFrame, st
    left = GeoFrame(spark.range(10).select(
        F.col("id"), st.point(F.col("id"), F.lit(0.0)).alias("geom")))
    right = GeoFrame(spark.range(3).select(
        (F.col("id") * 4).alias("rid"),
        st.point(F.col("id") * 4, F.lit(1.0)).alias("geom")))
    j = left.sjoin_nearest(right, distance_col="d")
    assert j.active_geometry_name == "geom_left"
    got = {r.id: (r.rid, round(r.d, 6)) for r in j.df.collect()}
    assert got[0] == (0, 1.0) and got[5] == (4, 1.414214)


def test_to_json_to_wgs84(spark):
    from geopandas_spark import GeoFrame, st
    import json as _json
    df = spark.createDataFrame([(1,)], ["id"]).select(
        "id", st.to_crs(st.point(F.lit(0.0), F.lit(0.0)),
                        "EPSG:4326", "EPSG:3857").alias("geom"))
    gf = GeoFrame(df, crs="EPSG:3857")
    out = _json.loads(gf.to_json(to_wgs84=True))
    x, y = out["features"][0]["geometry"]["coordinates"]
    assert abs(x) < 1e-9 and abs(y) < 1e-9   # back at lon/lat origin
    raw = _json.loads(gf.to_json())
    assert raw["features"][0]["geometry"]["coordinates"] == [0.0, 0.0]


def test_reference_name_aliases_and_frame_aggregates(spark):
    """Reference-parity aliases: st.geom_type/get_geometry/from_wkt/
    from_wkb/from_xy bind the canonical callables, and the GeoFrame
    grows union_all/unary_union (one-geometry union), unique, and
    value_counts with WKB byte-equality semantics
    (reference geoseries.py:414-664, base.py:2500-2553,
    array.py:1688-1706)."""
    from pyspark.sql import functions as F

    from geopandas_spark import st
    from geopandas_spark.frame import GeoFrame
    from geopandas_spark.geom import wkb, wkt as wktm

    df = spark.createDataFrame(
        [(1, 1.0, 2.0), (2, 1.0, 2.0), (3, 5.0, 6.0)], ["id", "x", "y"])
    g = df.withColumn("geom", st.from_xy("x", "y"))
    row = g.select(
        st.geom_type("geom").alias("t"),
        st.x(st.get_geometry("geom", F.lit(0))).alias("gx"),
        st.as_text(st.from_wkt(F.lit("POINT (9 9)"))).alias("w"),
        st.as_text(st.from_wkb(st.from_xy("x", "y"))).alias("rt")).first()
    assert row.t == "Point" and row.gx == 1.0
    assert row.w == "POINT (9 9)" and row.rt == "POINT (1 2)"
    gf = GeoFrame(g, geometry="geom")
    u = wktm.format_array(wkb.decode([gf.union_all()]))[0]
    assert u == "MULTIPOINT ((1 2), (5 6))"
    assert gf.unary_union() == gf.union_all()
    assert gf.unique().count() == 2
    vc = [(r["count"]) for r in gf.value_counts().collect()]
    assert vc == [2, 1]


@pytest.mark.parametrize("op", ["area", "length", "centroid", "buffer",
                                "sjoin_dwithin", "sjoin_nearest"])
def test_geographic_crs_guardrail_warns(spark, op):
    """Reference parity (VERDICT r8 #9; geopandas/array.py:435-446 +
    tools/sjoin.py:714-715): planar/metric operations on a geographic
    (degree) CRS warn; the same operations on a projected CRS do not."""
    import warnings as _w
    rows = [(i, float(i), float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, ["id", "x", "y"]) \
              .withColumn("geom", st.point("x", "y"))
    geo = GeoFrame(df).set_crs("EPSG:4326")
    proj = GeoFrame(df).set_crs("EPSG:32632")

    def run(g):
        if op == "area":
            g.area()
        elif op == "length":
            g.length()
        elif op == "centroid":
            g.centroid()
        elif op == "buffer":
            g.buffer(1.0)
        elif op == "sjoin_dwithin":
            g.sjoin(g.rename_geometry("g2"), predicate="dwithin",
                    distance=1.0)
        elif op == "sjoin_nearest":
            g.sjoin_nearest(g.rename_geometry("g2"), max_distance=2.0)

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        run(geo)
    msgs = [str(r.message) for r in rec
            if "geographic CRS" in str(r.message)]
    assert msgs, f"{op}: no geographic-CRS warning"
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        run(proj)
    assert not [r for r in rec if "geographic CRS" in str(r.message)], op


def test_geographic_crs_guardrail_silent_ops(spark):
    """Operations the reference does NOT warn on (bounds, simplify,
    predicates-by-cell sjoin) stay silent even on a geographic CRS."""
    import warnings as _w
    rows = [(i, float(i), float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, ["id", "x", "y"]) \
              .withColumn("geom", st.point("x", "y"))
    geo = GeoFrame(df).set_crs("EPSG:4326")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        geo.bounds()
        geo.simplify(0.1)
        geo.sjoin(geo.rename_geometry("g2"), predicate="intersects")
    assert not [r for r in rec if "geographic CRS" in str(r.message)]
