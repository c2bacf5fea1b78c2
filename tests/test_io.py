"""I/O round-trip tests (SURVEY §2.1; reference test model:
geopandas/io/tests/test_arrow.py for GeoParquet metadata/bbox,
io/tests/test_file.py for format round-trips)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from geopandas_spark import st
from geopandas_spark.io import read_geojson, read_parquet, to_geojson, to_parquet
from geopandas_spark.io.geoparquet import read_geo_metadata


@pytest.fixture(scope="module")
def geodf(spark):
    rows = [(i, float(i * 10), float(i * 5)) for i in range(20)]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    return df.withColumn("geom", st.point("x", "y")).drop("x", "y")


def test_geoparquet_roundtrip_metadata(geodf, tmp_path):
    path = str(tmp_path / "pts_parquet")
    meta = to_parquet(geodf, path, crs="EPSG:4326")
    assert meta["version"] == "1.1.0"
    assert meta["primary_column"] == "geom"
    assert meta["columns"]["geom"]["encoding"] == "WKB"
    assert meta["columns"]["geom"]["geometry_types"] == ["Point"]
    assert meta["columns"]["geom"]["bbox"] == [0.0, 0.0, 190.0, 95.0]
    # footer metadata is spec-readable from the files themselves; each
    # footer scopes bbox/geometry_types to its own file (distributed
    # write), so check structure + containment rather than equality
    disk = read_geo_metadata(path)
    assert disk["version"] == meta["version"]
    assert disk["primary_column"] == "geom"
    dcol = disk["columns"]["geom"]
    assert dcol["encoding"] == "WKB" and dcol["crs"] == "EPSG:4326"
    assert set(dcol["geometry_types"]) <= {"Point"}
    fb = dcol.get("bbox")
    if fb is not None:  # per-file bbox nested inside the dataset bbox
        assert fb[0] >= 0.0 and fb[1] >= 0.0
        assert fb[2] <= 190.0 and fb[3] <= 95.0
    # every part file carries a geo footer; none were rewritten driver-side
    import pyarrow.parquet as pq
    parts = [os.path.join(r, f) for r, _, fs_ in os.walk(path)
             for f in fs_ if f.endswith(".parquet")]
    assert parts
    for p in parts:
        assert b"geo" in (pq.read_schema(p).metadata or {})


def test_geoparquet_bbox_filter(geodf, spark, tmp_path):
    path = str(tmp_path / "pts_bbox")
    to_parquet(geodf, path)
    out = read_parquet(spark, path, bbox=(0, 0, 55, 100))
    assert out.count() == 6  # x = 0,10,...,50
    # bbox predicates reach the parquet scan as pushed filters
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bbox" in plan


def test_geoparquet_bbox_filter_without_covering(geodf, spark, tmp_path):
    path = str(tmp_path / "pts_nocover")
    to_parquet(geodf, path, write_covering_bbox=False)
    out = read_parquet(spark, path, bbox=(0, 0, 55, 100))
    assert out.count() == 6  # exact st_intersects fallback


def test_geoparquet_partitioned_write(geodf, spark, tmp_path):
    path = str(tmp_path / "pts_part")
    part = geodf.withColumn("k", (F.col("id") % 2).cast("int"))
    to_parquet(part, path, partition_by=["k"])
    back = spark.read.parquet(path)
    assert back.count() == 20
    assert sorted(r.k for r in back.select("k").distinct().collect()) == [0, 1]
    # hive layout on disk, partition col not duplicated inside the files
    assert os.path.isdir(os.path.join(path, "k=0"))
    import pyarrow.parquet as pq
    f = next(os.path.join(path, "k=0", f)
             for f in os.listdir(os.path.join(path, "k=0"))
             if f.endswith(".parquet"))
    assert "k" not in pq.read_schema(f).names
    assert b"geo" in (pq.read_schema(f).metadata or {})
    # a NULL key shares a batch with integer keys: it goes to the hive
    # default partition and the others keep their integer text (k=1, not
    # the k=1.0 / k=nan a float64 hop gives)
    nk = geodf.withColumn("k", F.when(F.col("id") % 3 == 0, None)
                          .otherwise(F.col("id") % 2)).coalesce(1)
    path2 = str(tmp_path / "pts_nullkey")
    to_parquet(nk, path2, partition_by=["k"])
    assert {d for d in os.listdir(path2) if d.startswith("k=")} == {
        "k=0", "k=1", "k=__HIVE_DEFAULT_PARTITION__"}
    back = spark.read.parquet(path2)
    assert back.schema["k"].dataType.typeName() in ("integer", "long")
    assert back.filter("k IS NULL").count() == 7


def test_geoparquet_nan_partition_key_reads_back_as_double(geodf, spark,
                                                         tmp_path):
    """A double partition key holding NaN is written as Spark spells it
    (k=NaN, the directory Spark's own writer makes), so 1.5, NaN and
    NULL read back as one double column, not as the strings '1.5',
    'nan' and NULL."""
    nk = geodf.withColumn(
        "k", F.when(F.col("id") % 3 == 0, F.lit(None).cast("double"))
        .when(F.col("id") % 3 == 1, F.lit(float("nan")))
        .otherwise(F.lit(1.5))).coalesce(1)
    path = str(tmp_path / "pts_nankey")
    to_parquet(nk, path, partition_by=["k"])
    ours = {d for d in os.listdir(path) if d.startswith("k=")}
    assert ours == {"k=1.5", "k=NaN", "k=__HIVE_DEFAULT_PARTITION__"}
    spark_path = str(tmp_path / "pts_nankey_spark")
    nk.write.partitionBy("k").parquet(spark_path)
    assert ours == {d for d in os.listdir(spark_path) if d.startswith("k=")}
    back = spark.read.parquet(path)
    assert back.schema["k"].dataType.typeName() == "double"
    assert back.filter("k = 1.5").count() == 6
    assert back.filter("isnan(k)").count() == 7
    assert back.filter("k IS NULL").count() == 7


def test_geoparquet_empty_and_append(geodf, spark, tmp_path):
    path = str(tmp_path / "pts_empty")
    meta = to_parquet(geodf.filter("id < 0"), path)
    assert meta["columns"]["geom"]["geometry_types"] == []
    assert spark.read.parquet(path).count() == 0
    path2 = str(tmp_path / "pts_append")
    to_parquet(geodf.limit(3), path2)
    to_parquet(geodf.limit(2), path2, mode="append")
    assert spark.read.parquet(path2).count() == 5
    with pytest.raises(FileExistsError):
        to_parquet(geodf, path2, mode="error")


def test_geoparquet_column_pruning(geodf, spark, tmp_path):
    path = str(tmp_path / "pts_prune")
    to_parquet(geodf, path)
    out = read_parquet(spark, path, columns=["id"])
    assert set(out.columns) == {"id", "geom"}


def test_geojsonseq_roundtrip(spark, tmp_path):
    rows = [(1, "a", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
            (2, "b", "LINESTRING (0 0, 5 5)"),
            (3, "c", "POINT (7 8)")]
    df = (spark.createDataFrame(rows, ["id", "name", "wkt"])
          .withColumn("geom", st.geom_from_text("wkt")).drop("wkt"))
    path = str(tmp_path / "seq_geojson")
    to_geojson(df, path)
    back = read_geojson(spark, path)
    # properties expand into typed top-level columns (reference read_file)
    assert set(back.columns) == {"id", "name", "geom"}
    got = {r.id: r.wkt for r in
           back.select("id", st.as_text("geom").alias("wkt")).collect()}
    assert got[1] == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    assert got[2] == "LINESTRING (0 0, 5 5)"
    assert got[3] == "POINT (7 8)"
    # raw mode keeps the JSON string column
    raw = read_geojson(spark, path, expand_properties=False)
    assert "properties" in raw.columns


def test_featurecollection_read(spark, tmp_path):
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"id": 1},
         "geometry": {"type": "Point", "coordinates": [3, 4]}},
        {"type": "Feature", "properties": {"id": 2},
         "geometry": {"type": "MultiPolygon", "coordinates":
                      [[[[0, 0], [1, 0], [1, 1], [0, 0]]]]}},
    ]}
    p = tmp_path / "fc.geojson"
    p.write_text(json.dumps(fc))
    out = read_geojson(spark, str(p))
    wkts = sorted(r.w for r in
                  out.select(st.as_text("geom").alias("w")).collect())
    assert wkts == ["MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))", "POINT (3 4)"]


def test_featurecollection_size_guard(spark, tmp_path):
    import pytest
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"id": 1},
         "geometry": {"type": "Point", "coordinates": [3, 4]}}]}
    p = tmp_path / "big.geojson"
    p.write_text(json.dumps(fc))
    with pytest.raises(ValueError, match="GeoJSONSeq"):
        read_geojson(spark, str(p), max_collection_bytes=10)


def test_geojson_sparse_first_feature_schema(spark, tmp_path):
    """Properties absent from the first feature still become columns
    (schema is unioned over a sample, not taken from row 1)."""
    lines = [
        json.dumps({"type": "Feature", "properties": {"a": 1},
                    "geometry": {"type": "Point", "coordinates": [0, 0]}}),
        json.dumps({"type": "Feature", "properties": {"a": 2, "b": "x"},
                    "geometry": {"type": "Point", "coordinates": [1, 1]}}),
    ]
    p = tmp_path / "sparse.geojsonl"
    p.write_text("\n".join(lines) + "\n")
    out = read_geojson(spark, str(p))
    assert set(out.columns) == {"a", "b", "geom"}
    rows = {r.a: r.b for r in out.collect()}
    assert rows == {1: None, 2: "x"}


def test_read_file_pushdown_kwargs(geodf, spark, tmp_path):
    """bbox/mask/columns/rows kwargs work uniformly across formats."""
    from geopandas_spark.io import read_file, to_file
    p = str(tmp_path / "push.geojsonl")
    to_file(geodf.withColumn("tag", F.lit("t")), p)
    out = read_file(spark, p, bbox=(0, 0, 55, 100))
    assert out.count() == 6
    out = read_file(spark, p, columns=["id"])
    assert set(out.columns) == {"id", "geom"}
    out = read_file(spark, p, mask="POLYGON ((0 0, 25 0, 25 25, 0 25, 0 0))")
    assert out.count() == 3  # points (0,0) (10,5) (20,10)
    assert read_file(spark, p, rows=4).count() == 4
    # shapefile path too
    ps = str(tmp_path / "push.shp")
    to_file(geodf, ps)
    assert read_file(spark, ps, bbox=(0, 0, 55, 100),
                     columns=["id"]).count() == 6


def test_geojson_geometry_codec_via_sql(spark):
    df = spark.createDataFrame([("POINT (1.5 -2)",)], ["wkt"])
    out = (df.withColumn("g", st.geom_from_text("wkt"))
             .withColumn("gj", st.as_geojson("g"))
             .withColumn("back", st.geom_from_geojson("gj"))
             .select("gj", st.as_text("back").alias("wkt2"))).collect()[0]
    assert json.loads(out.gj) == {"type": "Point", "coordinates": [1.5, -2]}
    assert out.wkt2 == "POINT (1.5 -2)"


def test_feather_roundtrip(geodf, spark, tmp_path):
    from geopandas_spark.io import read_feather, to_feather
    from geopandas_spark.io.feather import read_geo_metadata_feather

    path = str(tmp_path / "pts_feather")
    meta = to_feather(geodf, path, crs="EPSG:4326")
    assert meta["columns"]["geom"]["geometry_types"] == ["Point"]
    assert meta["columns"]["geom"]["bbox"] == [0.0, 0.0, 190.0, 95.0]
    assert read_geo_metadata_feather(path) == meta

    back = read_feather(spark, path)
    assert back.count() == 20
    assert set(back.columns) == {"id", "geom"}
    got = {r.id: (r.x, r.y) for r in back.select(
        "id", st.x("geom").alias("x"), st.y("geom").alias("y")).collect()}
    assert got[7] == (70.0, 35.0)
    # column pruning
    only = read_feather(spark, path, columns=["id"])
    assert only.columns == ["id"]
    assert only.count() == 20


def test_arrow_interchange(geodf, spark):
    from geopandas_spark.io import from_arrow, to_arrow

    table = to_arrow(geodf, crs="EPSG:3857")
    fld = table.schema.field("geom")
    assert fld.metadata[b"ARROW:extension:name"] == b"geoarrow.wkb"
    assert json.loads(fld.metadata[b"ARROW:extension:metadata"]) == {
        "crs": "EPSG:3857"}

    back = from_arrow(spark, table)
    assert back.count() == 20
    assert back.select(st.x("geom").alias("x")).agg(
        F.max("x")).collect()[0][0] == 190.0


def test_ewkb_codec_roundtrip():
    import struct
    from geopandas_spark.geom import wkb as wkbmod, wkt as wktmod, algos

    ga = wktmod.parse_array([
        "POINT (3 7)",
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))",
        None,
    ])
    ew = wkbmod.encode_ewkb(ga, 4326)
    assert ew[3] is None
    # top-level header carries the SRID flag + value
    (gtype,) = struct.unpack_from("<I", ew[0], 1)
    assert gtype & 0x20000000
    (srid,) = struct.unpack_from("<I", ew[0], 5)
    assert srid == 4326
    # codec accepts EWKB back, dropping SRID
    back = wkbmod.decode(ew)
    assert algos.area(back)[1] == 16.0
    assert wkbmod.encode(back)[0] == wkbmod.encode(ga)[0]


def test_postgis_hex_decode(spark):
    from geopandas_spark.io.sql import decode_geom
    from geopandas_spark.geom import wkb as wkbmod, wkt as wktmod

    raw = wkbmod.encode_ewkb(wktmod.parse_array(["POINT (5 9)"]), 3857)[0]
    df = spark.createDataFrame([(1, raw.hex().upper())],
                               "id long, geom string")
    out = decode_geom(df)
    row = out.select(st.x("geom").alias("x"),
                     st.y("geom").alias("y")).collect()[0]
    assert (row.x, row.y) == (5.0, 9.0)


def test_postgis_live_jdbc_roundtrip(spark, tmp_path):
    """Exercise the REAL spark.read.jdbc / df.write.jdbc branches of
    read_postgis / to_postgis against a live embedded Derby database
    (the JDBC driver Spark ships for its metastore) — EWKB+SRID write,
    binary read-back, SRID stripped by the codec, plus the partitioned
    parallel-read option path. PostGIS itself is unavailable in the
    sandbox; the JDBC plumbing is identical."""
    from geopandas_spark.io.sql import read_postgis, to_postgis
    from geopandas_spark.geom import wkb as wkbmod

    url = f"jdbc:derby:{tmp_path}/geodb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(i, f"POINT ({i} {i * 2})") for i in range(1, 21)], ["id", "w"]
    ).select("id", st.geom_from_text("w").alias("geom"))
    to_postgis(df, url, "pts", srid=3857, mode="overwrite",
               properties=props)

    back = read_postgis(spark, url, "SELECT * FROM pts",
                        properties=props)
    rows = {r.id: r for r in back.select(
        "id", st.x("geom").alias("x"), st.y("geom").alias("y")).collect()}
    assert len(rows) == 20
    assert (rows[7].x, rows[7].y) == (7.0, 14.0)
    # the stored bytes really are EWKB with the SRID flag+value embedded
    raw = back.filter("id = 1").collect()[0].geom
    assert bytes(raw)[:9] != wkbmod.encode(
        wkbmod.decode([bytes(raw)]))[0][:9]   # header differs (SRID flag)

    # partitioned parallel read path
    par = read_postgis(spark, url, "SELECT * FROM pts",
                       partition_column="id", num_partitions=4,
                       lower_bound=1, upper_bound=21, properties=props)
    assert par.count() == 20
    assert par.rdd.getNumPartitions() == 4


def test_shapefile_roundtrip(spark, tmp_path):
    from geopandas_spark.io import read_shapefile, to_shapefile

    df = spark.createDataFrame([
        (1, 2.5, "alpha", True,
         "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"),
        (2, -0.25, "beta", False,
         "MULTIPOLYGON (((10 10, 14 10, 14 14, 10 14, 10 10)), "
         "((20 20, 22 20, 22 22, 20 22, 20 20)))"),
        (3, None, None, None, None)], ["k", "v", "s", "b", "w"]) \
        .withColumn("geom", st.geom_from_text("w")).drop("w")
    p = str(tmp_path / "t.shp")
    assert to_shapefile(df, p) == 3
    # sidecars written
    for ext in (".shp", ".shx", ".dbf"):
        assert os.path.exists(str(tmp_path / "t") + ext)
    back = read_shapefile(spark, p)
    rows = back.withColumn("t", st.as_text("geom")).orderBy("k").collect()
    assert rows[0].v == 2.5 and rows[0].s == "alpha" and rows[0].b is True
    assert rows[0].t.startswith("POLYGON") and "(1 1," in rows[0].t
    assert rows[1].t.startswith("MULTIPOLYGON")
    assert rows[2].t is None and rows[2].v is None
    # geometric equality through the winding/ring-assignment round trip
    a1 = df.select(F.sum(st.area("geom"))).collect()[0][0]
    a2 = back.select(F.sum(st.area("geom"))).collect()[0][0]
    assert a1 == a2


def test_shapefile_lines_points(spark, tmp_path):
    from geopandas_spark.io import read_shapefile, to_shapefile

    lines = spark.createDataFrame([
        (1, "LINESTRING (0 0, 1 1, 2 0)"),
        (2, "MULTILINESTRING ((0 0, 1 0), (2 2, 3 3))")], ["k", "w"]) \
        .withColumn("geom", st.geom_from_text("w")).drop("w")
    p = str(tmp_path / "l.shp")
    to_shapefile(lines, p)
    t = [r.t for r in read_shapefile(spark, p)
         .withColumn("t", st.as_text("geom")).orderBy("k").collect()]
    assert t[0].startswith("LINESTRING") and t[1].startswith("MULTILINESTRING")

    pts = spark.createDataFrame(
        [(i, float(i), float(-i)) for i in range(5)], ["k", "x", "y"]) \
        .withColumn("geom", st.point("x", "y"))
    p2 = str(tmp_path / "p.shp")
    to_shapefile(pts, p2)
    got = read_shapefile(spark, p2).withColumn(
        "t", st.as_text("geom")).orderBy("k").collect()
    assert [r.t for r in got] == [f"POINT ({i} {-i})" for i in range(5)]


_WRITER_WKTS = [
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
    "MULTIPOLYGON (((10 10, 14 10, 14 14, 10 14, 10 10)), "
    "((20 20, 22 20, 22 22, 20 22, 20 20)))",
    None, "LINESTRING (0 0, 1 1, 2 0)", "MULTIPOINT ((0 0), (1 1))",
    "POINT (7 8)"]


def _writer_frame(spark, wkts):
    return spark.createDataFrame(
        [(i, i * 0.5, f"s{i}", w) for i, w in enumerate(wkts)],
        ["k", "v", "s", "w"]) \
        .withColumn("geom", st.geom_from_text("w")).drop("w")


def test_shp_gpkg_writers_decode_by_chunk(spark, tmp_path, monkeypatch):
    """The shapefile and GeoPackage writers decode WKB one chunk of rows
    at a time. With 4-row chunks (so a chunk ends mid-input) the
    shapefile is byte-identical to the one a decode per row wrote
    (pinned digests), an EMPTY row is the null shape, like NULL, and the
    GeoPackage keeps each row's WKB behind its header and the extent of
    every coordinate."""
    import hashlib
    import sqlite3

    from geopandas_spark.io import _arrow, to_gpkg, to_shapefile
    from geopandas_spark.io.gpkg import _wkb_to_gpkg_blob

    monkeypatch.setattr(_arrow, "LOCAL_CHUNK_ROWS", 4)
    df = _writer_frame(spark, _WRITER_WKTS)
    assert to_shapefile(df, str(tmp_path / "n.shp")) == 6
    digest = {e: hashlib.sha256((tmp_path / f"n{e}").read_bytes())
              .hexdigest() for e in (".shp", ".shx", ".dbf")}
    assert digest == {
        ".shp": "fdc5faf9e48a5b62f89716ba5c72c69b"
                "52c8d1aea09b2dee8294a9eec0c19bfb",
        ".shx": "a4538c7565fc38613b2db8e96843d954"
                "d27812a806fed82ece2725deca6e3ff9",
        ".dbf": "fb20950c9bf11662ef2216d28ce44bba"
                "b3b7ecb811125c7670a0a60687628ddb"}
    empty = _writer_frame(spark, [w or "POINT EMPTY" for w in _WRITER_WKTS])
    to_shapefile(empty, str(tmp_path / "e.shp"))
    for e in (".shp", ".shx", ".dbf"):
        assert (tmp_path / f"e{e}").read_bytes() == \
            (tmp_path / f"n{e}").read_bytes(), e
    mixed = _writer_frame(spark, _WRITER_WKTS + ["POLYGON EMPTY"])
    p = str(tmp_path / "m.gpkg")
    assert to_gpkg(mixed, p, table="m") == 7
    con = sqlite3.connect(p)
    got = con.execute('SELECT k, geom FROM "m" ORDER BY fid').fetchall()
    ext = con.execute("SELECT min_x, min_y, max_x, max_y FROM "
                      "gpkg_contents").fetchone()
    con.close()
    want = [(r.k, _wkb_to_gpkg_blob(None if r.geom is None
                                    else bytes(r.geom), 0))
            for r in mixed.orderBy("k").collect()]
    assert got == want
    assert ext == (0.0, 0.0, 22.0, 22.0)


def test_gpkg_roundtrip(spark, tmp_path):
    import sqlite3
    from geopandas_spark.io import read_gpkg, to_gpkg

    df = spark.createDataFrame([
        (1, 2.5, "alpha", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
        (2, -0.25, "beta", "POINT (7 8)"),
        (3, None, None, None)], ["k", "v", "s", "w"]) \
        .withColumn("geom", st.geom_from_text("w")).drop("w")
    p = str(tmp_path / "t.gpkg")
    assert to_gpkg(df, p, table="demo") == 3
    rows = read_gpkg(spark, p).withColumn(
        "t", st.as_text("geom")).orderBy("k").collect()
    assert rows[0].t.startswith("POLYGON")
    assert rows[1].t == "POINT (7 8)"
    assert rows[2].t is None
    con = sqlite3.connect(p)
    assert con.execute("SELECT application_id FROM pragma_application_id"
                       ).fetchone()[0] == 0x47504B47
    (tn, dt, sid) = con.execute(
        "SELECT table_name, data_type, srs_id FROM gpkg_contents").fetchone()
    assert (tn, dt, sid) == ("demo", "features", 0)
    con.close()


def test_gpkg_distributed_read(spark, sf_dir, tmp_path):
    from geopandas_spark.io import read_gpkg, to_gpkg

    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .withColumn("geom", st.point(
             (F.col("c_custkey") % 1000).cast("double"),
             ((F.col("c_custkey") * 7) % 1000).cast("double")))
         .select("c_custkey", "c_acctbal", "geom"))
    p = str(tmp_path / "c.gpkg")
    n = to_gpkg(c, p, table="customer")
    back = read_gpkg(spark, p, num_partitions=8)
    assert back.rdd.getNumPartitions() == 8
    assert back.count() == n == c.count()
    assert (back.select(F.sum(st.x("geom"))).collect()[0][0]
            == c.select(F.sum(st.x("geom"))).collect()[0][0])
    # column types come from the declared types: a REAL in the INTEGER
    # column fails the read instead of being truncated into it
    import sqlite3
    con = sqlite3.connect(p)
    con.execute('UPDATE "customer" SET c_custkey = 0.5 WHERE fid = 100')
    con.commit()
    con.close()
    with pytest.raises(Exception, match="truncated"):
        read_gpkg(spark, p).collect()



def test_gpkg_types_columns_from_declared_types(spark, tmp_path):
    """A REAL or TEXT column whose first rows are all NULL keeps its type
    (a row sample would type it bigint and fail on the first value), and
    BOOLEAN / DATETIME columns read by SQLite's affinity rules."""
    import sqlite3
    from geopandas_spark.io import read_gpkg, to_gpkg

    rows = [(i, None if i < 100 else i / 2, None if i < 100 else f"s{i}")
            for i in range(120)]
    df = spark.createDataFrame(rows, "k long, v double, s string") \
        .withColumn("geom", st.point(F.col("k").cast("double"), F.lit(0.0)))
    p = str(tmp_path / "n.gpkg")
    assert to_gpkg(df, p, table="n") == 120
    con = sqlite3.connect(p)
    con.execute('ALTER TABLE "n" ADD COLUMN flag BOOLEAN')
    con.execute('ALTER TABLE "n" ADD COLUMN ts DATETIME')
    con.execute('UPDATE "n" SET flag = k % 2, ts = \'2024-01-02T03:04:05Z\' '
                'WHERE k = 110')
    con.commit()
    con.close()
    back = read_gpkg(spark, p)
    assert {f.name: f.dataType.simpleString() for f in back.schema} == {
        "fid": "bigint", "k": "bigint", "v": "double", "s": "string",
        "flag": "bigint", "ts": "string", "geom": "binary"}
    got = {r.k: r for r in back.collect()}
    assert [(got[i].v, got[i].s) for i in (0, 99, 100, 119)] == [
        (None, None), (None, None), (50.0, "s100"), (59.5, "s119")]
    assert (got[110].flag, got[110].ts) == (0, "2024-01-02T03:04:05Z")
    assert (got[111].flag, got[111].ts) == (None, None)

def test_read_to_file_dispatch(spark, tmp_path):
    from geopandas_spark.io import read_file, to_file

    df = spark.createDataFrame([(1, "POINT (1 2)")], ["k", "w"]) \
        .withColumn("geom", st.geom_from_text("w")).drop("w")
    for name in ("d.shp", "d.gpkg", "d.geojson"):
        path = str(tmp_path / name)
        to_file(df, path)
        back = read_file(spark, path)
        t = back.withColumn("t", st.as_text("geom")).collect()[0].t
        assert t == "POINT (1 2)", name
    with pytest.raises(ValueError):
        to_file(df, str(tmp_path / "d.xyz"))


def test_geoarrow_native_roundtrip(spark):
    """Native geoarrow.* nested encodings round-trip through to_arrow /
    from_arrow (reference io/_geoarrow.py:264-408)."""
    from geopandas_spark.io.feather import to_arrow, from_arrow
    wkts = ["POINT (1 2)", "POINT (3 4)", None]
    df = (spark.createDataFrame([(i, w) for i, w in enumerate(wkts)],
                                ["id", "wkt"])
          .withColumn("geom", st.geom_from_text("wkt")).drop("wkt"))
    t = to_arrow(df, geom="geom", geometry_encoding="geoarrow")
    fld = t.schema.field(t.schema.get_field_index("geom"))
    assert fld.metadata[b"ARROW:extension:name"] == b"geoarrow.point"
    back = from_arrow(spark, t)
    got = {r.id: r.w for r in
           back.withColumn("w", st.as_text("geom")).collect()}
    assert got[0] == "POINT (1 2)" and got[1] == "POINT (3 4)"
    assert got[2] is None

    wkts2 = ["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
             "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)))"]
    df2 = (spark.createDataFrame([(i, w) for i, w in enumerate(wkts2)],
                                 ["id", "wkt"])
           .withColumn("geom", st.geom_from_text("wkt")).drop("wkt"))
    t2 = to_arrow(df2, geom="geom", geometry_encoding="geoarrow")
    fld2 = t2.schema.field(t2.schema.get_field_index("geom"))
    # mixed polygon/multipolygon promotes to multipolygon
    assert fld2.metadata[b"ARROW:extension:name"] == b"geoarrow.multipolygon"
    back2 = from_arrow(spark, t2)
    got2 = {r.id: r.w for r in
            back2.withColumn("w", st.as_text("geom")).collect()}
    assert got2[0].startswith("MULTIPOLYGON (((0 0, 4 0")
    # lines
    wkts3 = ["LINESTRING (0 0, 5 5)", "LINESTRING (1 1, 2 2, 3 3)"]
    df3 = (spark.createDataFrame([(i, w) for i, w in enumerate(wkts3)],
                                 ["id", "wkt"])
           .withColumn("geom", st.geom_from_text("wkt")).drop("wkt"))
    t3 = to_arrow(df3, geom="geom", geometry_encoding="geoarrow")
    back3 = from_arrow(spark, t3)
    got3 = {r.id: r.w for r in
            back3.withColumn("w", st.as_text("geom")).collect()}
    assert got3[1] == "LINESTRING (1 1, 2 2, 3 3)"


def test_kml_roundtrip(spark, tmp_path):
    from geopandas_spark.io import read_kml, to_kml
    df = spark.createDataFrame(
        [(1, "alpha", "POINT Z (10 20 5)"),
         (2, "b <&> c", "LINESTRING (0 0, 1 1, 2 0)"),
         (3, None, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
                   "(1 1, 2 1, 2 2, 1 2, 1 1))"),
         (4, "delta", "MULTIPOINT ((1 1), (2 2))"),
         (5, "eps", "GEOMETRYCOLLECTION (POINT (1 2), "
                    "LINESTRING (0 0, 5 0))")],
        ["fid", "name", "wkt"]) \
        .withColumn("geom", st.geom_from_text("wkt")).drop("wkt")
    p = str(tmp_path / "rt.kml")
    to_kml(df, p, document_name="doc")
    back = read_kml(spark, p)
    rows = {int(r.fid): r for r in back.withColumn(
        "w", st.as_text("geom")).collect()}
    assert rows[1].w == "POINT Z (10 20 5)"
    assert rows[2].name == "b <&> c"   # XML escaping round-trips
    assert rows[3].w.startswith("POLYGON ((0 0, 4 0")
    assert "(1 1, 2 1" in rows[3].w    # hole preserved
    assert rows[4].w == "MULTIPOINT ((1 1), (2 2))"
    assert rows[5].w == ("GEOMETRYCOLLECTION (POINT (1 2), "
                         "LINESTRING (0 0, 5 0))")


def test_kml_read_foreign_file(spark, tmp_path):
    # a hand-written (non-engine) KML with namespace + SchemaData
    p = tmp_path / "ext.kml"
    p.write_text("""<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
 <Placemark><name>pt</name>
  <ExtendedData><SchemaData schemaUrl="#s">
   <SimpleData name="pop">1234</SimpleData></SchemaData></ExtendedData>
  <Point><coordinates>4.9,52.4</coordinates></Point>
 </Placemark>
 <Placemark><name>nogeom</name></Placemark>
</Document></kml>""")
    from geopandas_spark.io import read_kml
    back = read_kml(spark, str(p))
    rows = {r.name: r for r in back.withColumn(
        "w", st.as_text("geom")).collect()}
    assert rows["pt"].w == "POINT (4.9 52.4)"
    assert rows["pt"].pop == "1234"
    assert rows["nogeom"].w is None or rows["nogeom"]["geom"] is None


def test_gml_roundtrip(spark, tmp_path):
    from geopandas_spark.io import read_gml, to_gml
    df = spark.createDataFrame(
        [(1, "alpha", "POINT (10 20)"),
         (2, "beta", "LINESTRING (0 0, 1 1, 2 0)"),
         (3, "gamma", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
                      "(1 1, 2 1, 2 2, 1 2, 1 1))"),
         (4, "delta", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
                      "((5 5, 6 5, 6 6, 5 6, 5 5)))"),
         (5, "eps", "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")],
        ["fid", "name", "wkt"]) \
        .withColumn("geom", st.geom_from_text("wkt")).drop("wkt")
    p = str(tmp_path / "rt.gml")
    to_gml(df, p)
    back = read_gml(spark, p)
    rows = {int(r.fid): r for r in back.withColumn(
        "w", st.as_text("geom")).collect()}
    assert rows[1].w == "POINT (10 20)"
    assert rows[3].w == ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
                         "(1 1, 2 1, 2 2, 1 2, 1 1))")
    assert rows[4].w.startswith("MULTIPOLYGON")
    assert rows[5].w == "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))"


def test_gml_read_foreign_wfs_style(spark, tmp_path):
    # hand-written GML 2-flavored file (coordinates + outerBoundaryIs)
    p = tmp_path / "wfs.gml"
    p.write_text("""<?xml version="1.0"?>
<wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs"
  xmlns:gml="http://www.opengis.net/gml" xmlns:ns="http://x">
 <gml:featureMember><ns:road>
   <ns:rid>7</ns:rid>
   <ns:geometry><gml:Polygon><gml:outerBoundaryIs><gml:LinearRing>
     <gml:coordinates>0,0 2,0 2,2 0,2 0,0</gml:coordinates>
   </gml:LinearRing></gml:outerBoundaryIs></gml:Polygon></ns:geometry>
 </ns:road></gml:featureMember>
 <gml:featureMember><ns:road>
   <ns:rid>8</ns:rid>
   <ns:geometry><gml:Point>
     <gml:pos srsDimension="3">1 2 9</gml:pos></gml:Point></ns:geometry>
 </ns:road></gml:featureMember>
</wfs:FeatureCollection>""")
    from geopandas_spark.io import read_gml
    back = read_gml(spark, str(p))
    rows = {int(r.rid): r for r in back.withColumn(
        "w", st.as_text("geom")).collect()}
    assert rows[7].w == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    assert rows[8].w == "POINT Z (1 2 9)"


# ---------------------------------------------------------------------------
# FlatGeobuf (io/fgb.py — clean-room stdlib driver; reference reads/writes
# FlatGeobuf through OGR, geopandas/io/file.py:197-339)
# ---------------------------------------------------------------------------

def test_fgb_roundtrip_all_types(spark, tmp_path):
    from geopandas_spark.io import read_fgb, to_fgb
    wkts = [
        "POINT (1 2)",
        "LINESTRING (0 0, 1 1, 2 0)",
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
        "MULTIPOINT ((0 0), (1 1))",
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), "
        "((5 5, 6 5, 6 6, 5 6, 5 5), (5.2 5.2, 5.8 5.2, 5.8 5.8, 5.2 5.2)))",
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 5 0))",
        "POLYGON EMPTY",
        "POINT Z (1 2 3)",
        "LINESTRING Z (0 0 1, 1 1 2)",
    ]
    df = spark.createDataFrame([(i, w) for i, w in enumerate(wkts)],
                               ["id", "w"])
    df = df.select("id", st.geom_from_text("w").alias("geom"))
    p = str(tmp_path / "types.fgb")
    assert to_fgb(df, p) == len(wkts)
    back = read_fgb(spark, p)
    got = {r.id: r.w for r in back.withColumn(
        "w", st.as_text("geom")).collect()}
    assert got == {i: w for i, w in enumerate(wkts)}


def test_fgb_properties_and_crs(spark, tmp_path):
    from geopandas_spark.io import list_layers, read_fgb, to_fgb
    from pyspark.sql.types import (BooleanType, DoubleType, IntegerType,
                                   LongType, StringType, StructField,
                                   StructType)
    schema = StructType([
        StructField("i", IntegerType()), StructField("l", LongType()),
        StructField("d", DoubleType()), StructField("s", StringType()),
        StructField("b", BooleanType()), StructField("wkt", StringType())])
    rows = [(1, 10, 1.5, "a", True, "POINT (0 0)"),
            (2, None, None, None, False, "POINT (5 5)"),
            (None, 30, 3.5, "ü", None, "POINT (9 9)")]
    df = spark.createDataFrame(rows, schema)
    df = df.select("i", "l", "d", "s", "b",
                   st.geom_from_text("wkt").alias("geom"))
    p = str(tmp_path / "props.fgb")
    to_fgb(df, p, crs="EPSG:4326")
    back = read_fgb(spark, p).orderBy("l")
    assert [tuple(r) for r in
            back.select("i", "l", "d", "s", "b").collect()] == [
        (2, None, None, None, False), (1, 10, 1.5, "a", True),
        (None, 30, 3.5, "ü", None)]
    assert list_layers(p) == [("props", "Point")]


def test_fgb_bbox_index_pushdown(spark, tmp_path):
    from geopandas_spark.io import read_file, to_fgb
    from geopandas_spark.io.fgb import MAGIC, index_size
    import struct
    n = 500
    df = spark.range(n).select(
        F.col("id"),
        st.point(F.col("id") % 50, (F.col("id") * 3) % 50).alias("geom"))
    p = str(tmp_path / "grid.fgb")
    to_fgb(df, p)
    with open(p, "rb") as f:
        assert f.read(8) == MAGIC
        (hs,) = struct.unpack("<I", f.read(4))
        f.read(hs)
    assert index_size(n, 16) > 0     # index actually written
    sub = read_file(spark, p, bbox=(10, 10, 20, 20))
    exp = df.filter((st.x("geom") >= 10) & (st.x("geom") <= 20) &
                    (st.y("geom") >= 10) & (st.y("geom") <= 20))
    assert sub.count() == exp.count() > 0
    assert {r.id for r in sub.select("id").collect()} == \
        {r.id for r in exp.select("id").collect()}


def test_fgb_no_index_scan(spark, tmp_path):
    from geopandas_spark.io import read_fgb, to_fgb
    df = spark.range(25).select(
        F.col("id"), st.point(F.col("id"), F.col("id")).alias("geom"))
    p = str(tmp_path / "noidx.fgb")
    to_fgb(df, p, index=False)
    back = read_fgb(spark, p)
    assert back.count() == 25
    assert {r.id for r in back.collect()} == set(range(25))


def test_fgb_no_index_bbox_fallback(spark, tmp_path):
    """bbox= on an index=False file must still filter (envelope fallback),
    not silently return every feature."""
    from geopandas_spark.io import read_fgb, to_fgb
    df = spark.range(40).select(
        F.col("id"), st.point(F.col("id"), F.col("id")).alias("geom"))
    p = str(tmp_path / "noidx_bbox.fgb")
    to_fgb(df, p, index=False)
    sub = read_fgb(spark, p, bbox=(10, 10, 20, 20))
    assert {r.id for r in sub.select("id").collect()} == set(range(10, 21))
    # and read_file routes the kwarg the same way
    from geopandas_spark.io import read_file
    sub2 = read_file(spark, p, bbox=(10, 10, 20, 20))
    assert sub2.count() == 11


def test_fgb_null_geometry_not_in_bbox_index(spark, tmp_path):
    """NULL-geometry rows get a never-intersecting sentinel leaf, so a
    bbox window containing the origin doesn't spuriously return them."""
    from geopandas_spark.io import read_fgb, to_fgb
    rows = [(i, f"POINT ({i + 5} {i + 5})") for i in range(20)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, ["id", "w"]).select(
        "id", st.geom_from_text("w").alias("geom"))
    p = str(tmp_path / "nulls_idx.fgb")
    to_fgb(df, p, index=True)
    got = {r.id for r in
           read_fgb(spark, p, bbox=(-1, -1, 8, 8)).select("id").collect()}
    assert got == {0, 1, 2, 3}          # points (5,5)..(8,8); no null row
    # full scan still returns the null row
    assert read_fgb(spark, p).count() == 21


def test_fgb_bbox_fuzz_indexed_vs_plain(spark, tmp_path):
    """r4-VERDICT fuzz target: FGB bbox reads on indexed AND unindexed
    files across random windows / null patterns must both equal the
    manual filter — including partially non-finite coordinate rows
    (sentinel bbox ADVICE fix)."""
    import numpy as np

    from pyspark.sql.types import (BinaryType, LongType, StructField,
                                   StructType)

    from geopandas_spark.geom import wkb as wkbmod
    from geopandas_spark.geom.array import GeometryBuilder
    from geopandas_spark.io import read_fgb, to_fgb
    rng = np.random.default_rng(11)
    for trial in range(4):
        n = int(rng.integers(30, 120))
        xs = rng.uniform(0, 100, n).round(3)
        ys = rng.uniform(0, 100, n).round(3)
        null_every = int(rng.integers(5, 12))
        gb = GeometryBuilder()
        kinds = []
        for i in range(n):
            if i % null_every == 0:
                gb.append_null()
                kinds.append("null")
            elif trial == 2 and i % 17 == 1:
                gb.append_point(xs[i], float("nan"))  # non-finite y
                kinds.append("nan")
            else:
                gb.append_point(xs[i], ys[i])
                kinds.append("pt")
        blobs = wkbmod.encode(gb.finish())
        df = spark.createDataFrame(
            [(i, blobs[i]) for i in range(n)],
            StructType([StructField("id", LongType()),
                        StructField("geom", BinaryType())]))
        x0, y0 = rng.uniform(0, 80, 2)
        w, h = rng.uniform(5, 40, 2)
        bbox = (x0, y0, x0 + w, y0 + h)
        expect = {i for i in range(n) if kinds[i] == "pt"
                  and x0 <= xs[i] <= x0 + w and y0 <= ys[i] <= y0 + h}
        for use_index in (True, False):
            p = str(tmp_path / f"fz_{trial}_{int(use_index)}.fgb")
            to_fgb(df, p, index=use_index)
            got = {r.id for r in
                   read_fgb(spark, p, bbox=bbox).select("id").collect()}
            assert got == expect, (trial, use_index, got ^ expect)


def test_fgb_null_geometry(spark, tmp_path):
    from geopandas_spark.io import read_fgb, to_fgb
    df = spark.createDataFrame([(1, "POINT (1 1)"), (2, None)], ["id", "w"])
    df = df.select("id", st.geom_from_text("w").alias("geom"))
    p = str(tmp_path / "nulls.fgb")
    to_fgb(df, p, index=False)
    back = read_fgb(spark, p).orderBy("id")
    rows = back.withColumn("w", st.as_text("geom")).collect()
    assert rows[0].w == "POINT (1 1)" and rows[1].w is None


def test_to_parquet_hilbert_clustered_write(spark, tmp_path):
    """hilbert_partitions= range-shuffles rows spatially before the write,
    so per-file footer bboxes are tight (near-disjoint) — the property
    that lets read_parquet(bbox=...) prune whole files at scale."""
    import pyarrow.parquet as pq

    from geopandas_spark.io import read_parquet, to_parquet
    df = spark.range(8000).select(
        F.col("id"),
        st.point((F.col("id") * 7919) % 500,
                 (F.col("id") * 104729) % 500).alias("geom"))
    pc = str(tmp_path / "clustered")
    pr = str(tmp_path / "plain")
    to_parquet(df, pc, hilbert_partitions=8)
    to_parquet(df, pr)

    def bbox_area(path):
        tot = 0.0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = json.loads(
                pq.read_schema(os.path.join(path, f)).metadata[b"geo"])
            bb = md["columns"]["geom"].get("bbox")
            if bb:
                tot += (bb[2] - bb[0]) * (bb[3] - bb[1])
        return tot

    assert bbox_area(pc) < bbox_area(pr) * 0.5
    got = read_parquet(spark, pc, bbox=(100, 100, 150, 150)).count()
    exp = df.filter((st.x("geom") >= 100) & (st.x("geom") <= 150) &
                    (st.y("geom") >= 100) & (st.y("geom") <= 150)).count()
    assert got == exp > 0


# ---------------------------------------------------------------------------
# Arrow boundary of the file formats (io/_arrow.py)
# ---------------------------------------------------------------------------

def test_exact_bigint_roundtrip_through_readers_and_arrow(spark, tmp_path):
    """A bigint column with a NULL in its batch comes back exact and still
    bigint from the range-scan readers and from to_arrow/from_arrow: no
    pandas float64 hop turns 2**53 + 1 into 2**53 or the column into
    double."""
    import pyarrow as pa
    from pyspark.sql.types import LongType

    from geopandas_spark.io import from_arrow, read_file, to_arrow, to_file

    big = 2 ** 53 + 1
    df = (spark.createDataFrame(pa.table({
        "v": pa.array([big, None, 7], pa.int64()), "x": [0.0, 1.0, 2.0]}))
        .select("v", st.point("x", "x").alias("geom")).coalesce(1))
    for ext in ("shp", "gpkg", "fgb"):
        p = str(tmp_path / f"big.{ext}")
        to_file(df, p)
        back = read_file(spark, p)
        assert back.schema["v"].dataType == LongType(), ext
        assert sorted((r.v for r in back.collect()), key=str) == \
            [7, big, None], ext
    # an unsigned column (no Spark Arrow type) arrives widened to bigint
    t = to_arrow(df).append_column(
        "u", pa.array([2 ** 32 - 1, None, 0], pa.uint32()))
    back = from_arrow(spark, t)
    assert back.schema["v"].dataType == LongType()
    assert back.schema["u"].dataType == LongType()
    assert [(r.v, r.u) for r in back.collect()] == [
        (big, 2 ** 32 - 1), (None, None), (7, 0)]


def test_writer_value_text(spark, tmp_path):
    """to_kml/to_gml/to_fgb write each value's own text: a bigint with a
    NULL in its batch as ``3`` (not ``3.0``), an array as ``[1, 2, 3]``,
    a timestamp as its naive session-zone wall clock, and leave NaN
    doubles out. to_fgb leaves the session conf as it found it."""
    from geopandas_spark.io import read_fgb, to_fgb, to_gml, to_kml

    df = spark.sql("""
        SELECT * FROM VALUES
          (3L, 1.5D, TIMESTAMP'2020-01-02 03:04:05', array(1L, 2L, 3L),
           'POINT (1 2)'),
          (NULL, CAST('NaN' AS DOUBLE), NULL, NULL, 'POINT (3 4)')
        AS t(n, d, ts, arr, w)""").select(
        "n", "d", "ts", "arr", st.geom_from_text("w").alias("geom")) \
        .coalesce(1)
    kml = tmp_path / "v.kml"
    to_kml(df, str(kml))
    text = kml.read_text()
    assert '<Data name="n"><value>3</value></Data>' in text
    assert '<Data name="d"><value>1.5</value></Data>' in text
    assert text.count('<Data name="d">') == 1
    assert "<value>2020-01-02 03:04:05</value>" in text
    assert "<value>[1, 2, 3]</value>" in text

    gml = tmp_path / "v.gml"
    to_gml(df, str(gml))
    text = gml.read_text()
    assert "<n>3</n>" in text and text.count("<d>") == 1
    assert "<ts>2020-01-02 03:04:05</ts>" in text
    assert "<arr>[1, 2, 3]</arr>" in text

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        p = str(tmp_path / "v.fgb")
        to_fgb(df, p, index=False)
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, prev)
    rows = read_fgb(spark, p).orderBy(F.col("n").asc_nulls_last()).collect()
    assert [(r.n, r.d, r.ts, r.arr) for r in rows] == [
        (3, 1.5, "2020-01-02 03:04:05", "[1, 2, 3]"),
        (None, None, None, None)]


def test_readers_plan_ranges_not_python_rdds(spark, tmp_path):
    """``num_partitions=k`` gives exactly k non-empty partitions for the
    shapefile, GeoPackage and FlatGeobuf readers, and no reader (nor
    from_arrow / from_features) plans a Python RDD scan
    (``ExistingRDD``), which reruns Python tasks on every execution."""
    from geopandas_spark import from_features
    from geopandas_spark.io import from_arrow, read_file, to_arrow, to_file

    df = spark.range(40).select(
        "id", st.point(F.col("id"), F.col("id")).alias("geom"))
    frames = {}
    for ext in ("shp", "gpkg", "fgb"):
        p = str(tmp_path / f"k.{ext}")
        to_file(df, p)
        for k in (1, 8):
            back = read_file(spark, p, num_partitions=k)
            sizes = back.rdd.glom().map(len).collect()
            assert len(sizes) == k and min(sizes) > 0, (ext, k, sizes)
        frames[ext] = read_file(spark, p)
    for ext in ("feather", "geojsonl", "kml", "gml"):
        p = str(tmp_path / f"k.{ext}")
        to_file(df, p)
        frames[ext] = read_file(spark, p)
        assert frames[ext].count() == 40, ext
    fc = tmp_path / "fc.geojson"
    fc.write_text(json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"id": 1},
         "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}}]}))
    frames["geojson"] = read_file(spark, str(fc))
    frames["from_arrow"] = from_arrow(spark, to_arrow(df))
    frames["from_features"] = from_features(
        spark, [{"properties": {"id": 1}, "geometry": None}]).df
    for name, f in frames.items():
        plan = f._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan)
